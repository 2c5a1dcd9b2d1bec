"""Build file of the benchmark: compiles the repo's main sources together
with the benchmark harness (`perfbench/scala`) into one class directory
under `.bench_build/`, with the Scala compiler that ships in Spark's
jars. Nothing outside the checkout is written. The output directory is
keyed by a hash of every source file, so an unchanged tree is built once.

    python3 perfbench/build.py        # build (or reuse) and print the path
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        home = str(Path(exe).resolve().parent.parent) if exe else ""
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("Spark jars with the Scala compiler not found (set SPARK_HOME)")
    return jars


def sources():
    repo = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "scala").glob("*.scala"))
    if not repo or not bench:
        raise BuildError(f"no sources to build under {ROOT}")
    return repo + bench


def ensure_built():
    """Return the class directory, compiling first when sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    (tmp / ".ok").write_text("ok\n")
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
