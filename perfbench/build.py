"""Build of the benchmark: compiles the engine's sources (src/main/scala)
together with the harness (perfbench/src) into one class directory, with
the Scala compiler that ships among the Spark jars the engine runs on.

A stamp of every source's path and content skips a build that is up to
date. Usage: python3 perfbench/build.py  (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def classpath() -> str:
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe is None:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = Path(exe).resolve().parent.parent
    return f"{Path(home) / 'jars'}/*"


def sources() -> list:
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build(out_root: Path) -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    stamp = h.hexdigest()
    out = out_root / "classes"
    stamp_file = out_root / "classes.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = out_root / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", classpath()]
    cmd += [str(p) for p in srcs]
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    print(build(ROOT / ".bench_build"))
