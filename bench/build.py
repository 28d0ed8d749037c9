"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark driver (`bench/src`) from the working tree into
`bench/.build/classes` with the Scala compiler that ships in Spark's jars.

Every invocation fingerprints the sources and the compiler; classes are
reused only when the fingerprint matches, so a run never executes classes
built from another tree. Nothing but the Spark jars and the fresh classes
is put on the classpath.

    python3 bench/build.py          # build (or confirm the build is current)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = pathlib.Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    own = sorted((BENCH / "src").rglob("*.scala"))
    if not own:
        raise BuildError(f"no benchmark sources under {BENCH / 'src'}")
    return engine + own


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for jar in sorted(jars.glob("scala-*.jar")) + sorted(jars.glob("spark-*.jar")):
        h.update(jar.name.encode())
    for src in srcs:
        h.update(str(src.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(src.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def build(log=sys.stderr):
    """Return the classes directory, compiling first unless it is current."""
    jars = spark_jars()
    srcs = sources()
    fp = fingerprint(srcs, jars)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text().strip() == fp:
        print(f"[build] classes current ({fp[:12]})", file=log)
        return CLASSES, jars
    print(f"[build] compiling {len(srcs)} sources ({fp[:12]})", file=log)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("".join(f'"{s}"\n' for s in srcs))
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError(f"compiler exited with {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    STAMP.unlink(missing_ok=True)
    tmp.rename(CLASSES)
    STAMP.write_text(fp + "\n")
    return CLASSES, jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] error: {e}", file=sys.stderr)
        sys.exit(2)
