"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), starts one JVM
for the workload, relays its report, and prints one JSON line with exactly
the keys correct, attempted, failed and metrics (`--workload all` runs every
workload in turn and exits nonzero if any run failed). With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the spans
are written to .bench_out/trace-<workload>-<seed>.json. Exits nonzero, with
no result line, when the build or the run fails, and nonzero after the
result line when any operation failed or answered wrong.

    python3 perfbench/run.py --selftest   # the benchmark's own checks
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("serve_read", "ingest_live", "corpus_batch")
TIMEOUT_S = 170
OUT = build.ROOT / ".bench_out"

# Spark on JDK 17 needs these opens when started outside spark-submit.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(cp: str, work: Path, extra_props: list, main_args: list) -> list:
    # A fixed, pre-touched heap makes the resident set beyond it the peak
    # off-heap memory, which peak_mem_mb adds to the live heap. No
    # hsperfdata file: the JVM would write it outside the checkout.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dio.netty.tryReflectionSetAccessible=true", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work / 'tmp'}"] + extra_props
    return cmd + ["-cp", cp, "perfbench.Main"] + main_args


def result_line(lines: list):
    """The last stdout line, if it is a well-formed result."""
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if not isinstance(res, dict) or list(res) != ["correct", "attempted", "failed", "metrics"]:
        return None
    return res


def launch(cp: str, name: str, main_args: list, props: list):
    """Run the JVM; returns (exit code, stdout lines), or None on timeout."""
    work = OUT / f"{name}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = OUT / f"{name}.log"
    main_args = main_args + ["--work", str(work)]
    try:
        with open(log, "w") as err:
            # Spark binds to loopback only, like the benchmark's own sockets
            env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
            proc = subprocess.Popen(jvm(cp, work, props, main_args), stdout=subprocess.PIPE,
                                    stderr=err, text=True, cwd=build.ROOT, env=env,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"perfbench: run exceeded {TIMEOUT_S}s; log in {log}", file=sys.stderr)
                return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def run_workload(cp: str, workload: str, seed: int, seconds: int, trace: int) -> int:
    name = f"{workload}-{seed}-{trace}"
    props = [f"-Dperfbench.traceOut={OUT / f'trace-{workload}-{seed}.json'}"] if trace else []
    done = launch(cp, name, ["--workload", workload, "--seed", str(seed), "--seconds",
                             str(seconds), "--trace", str(trace)], props)
    if done is None:
        return 1
    code, lines = done
    res = result_line(lines)
    if res is None:
        print("\n".join(lines[-20:]), file=sys.stderr)
        print(f"perfbench: no result (exit {code}); log in {OUT / name}.log", file=sys.stderr)
        return code or 1
    print("\n".join(lines), flush=True)
    return code if code else (0 if res["correct"] else 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        cp = build.classpath()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    if a.selftest:
        done = launch(cp, "selftest", ["--selftest", "1"], [])
        if done is None:
            return 1
        print("\n".join(done[1]))
        return done[0]
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    return max(run_workload(cp, w, a.seed, a.seconds, a.trace) for w in workloads)


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: {time.time() - t0:.1f}s wall", file=sys.stderr)
    sys.exit(code)
