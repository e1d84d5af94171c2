"""Steadiness tool: run one workload over several seeds and print, for each
metric, the median, the quartiles and the quartile spread as a share of the
median (the figure each bound in BENCHMARK.json is set against).

    python3 perfbench/repeat.py --workload serve_read --runs 10 [--seconds 10]
        [--first-seed 1] [--trace 0] [--json out.json]

Runs are sequential; a failed run is reported and stops the tool.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def spread(values: list) -> tuple:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=HERE.parent)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"seed {seed}: run failed (exit {proc.returncode})\n" + proc.stdout[-2000:])
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in BENCH["end_to_end"]}
    values = {}
    for k in range(a.runs):
        seed = a.first_seed + k
        res = run_once(a.workload, seed, a.seconds, a.trace)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
              flush=True)
    print(f"\n{a.workload}: {a.runs} runs")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    summary = {}
    for name, vs in values.items():
        if len(vs) < 2:
            continue
        med, q1, q3, sp = spread(vs)
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if sp <= b / 3 else ("  within bound" if sp <= b else "  WIDE"))
        print(f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} {b if b is not None else '':>6}{flag}")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "values": vs}
    if a.json:
        Path(a.json).write_text(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
