"""Build step of the benchmark: compile the program's sources and the
benchmark's own Scala sources with the Scala compiler that ships among
Spark's jars, into .bench_build/perfbench/ at the root of the checkout.

A build is skipped when the digest of its sources matches the last one, so
only the first run in a checkout pays for it. Run directly to build:

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
MAIN_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "scala"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return Path(home) / "jars"


def _sources(root: Path) -> list:
    files = sorted(root.rglob("*.scala")) if root.is_dir() else []
    if not files:
        raise BuildError(f"no Scala sources under {root.relative_to(ROOT)}")
    return files


def _digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name: str, files: list, classpath: list, digest: str) -> Path:
    out = OUT / name
    stamp = OUT / f"{name}.sha256"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return out
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(str(c) for c in classpath)]
    cmd += [str(f) for f in files]
    print(f"perfbench: compiling {name} ({len(files)} files)", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(digest)
    return out


def build() -> list:
    """Compile what changed; returns the class directories to run with."""
    main_files = _sources(MAIN_SRC)
    bench_files = _sources(BENCH_SRC)
    main_digest = _digest(main_files)
    main = _compile("main", main_files, [], main_digest)
    bench = _compile("bench", bench_files, [main], _digest(bench_files, main_digest))
    return [bench, main]


def classpath() -> str:
    return os.pathsep.join([str(d) for d in build()] + [f"{spark_jars()}/*"])


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
