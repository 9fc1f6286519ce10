"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark (perfbench/src) from source with the Scala compiler that
ships in Spark's jars directory, into .bench_build/perfbench/classes.

A build is skipped when a stamp of every source file matches the last
one. Run it alone with `python3 perfbench/build.py`.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
SCALAC_OPTS = ["-nowarn", "-deprecation:false"]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise RuntimeError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise RuntimeError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources():
    if not LIB_SRC.is_dir():
        raise RuntimeError(f"library sources missing: {LIB_SRC.relative_to(ROOT)}")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise RuntimeError("no Scala sources found")
    return files


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile when sources changed; return the classes directory."""
    files = sources()
    digest = stamp(files)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == digest:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(spark_jars() / "*")
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", cp, *SCALAC_OPTS, "@" + str(argfile)]
    print(f"building {len(files)} Scala sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, cwd=ROOT)
    if done.returncode != 0:
        raise RuntimeError(f"scalac failed with code {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
