"""Build for the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) from source with the Scala compiler shipped among
Spark's jars, into .bench_build/classes-<hash of the sources>. A build whose
sources have not changed is reused.

    python3 perfbench/build.py      # build, print the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main"
HARNESS_SRC = Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars: the one the repo's build.sbt names as
    `unmanagedBase`, else $SPARK_HOME/jars."""
    candidates = []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in candidates:
        if list(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def _sources():
    if not (PROGRAM_SRC / "scala").is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC / 'scala'}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def _scala_jars(jars):
    picked = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13*.jar"))
        if not found:
            raise BuildError(f"{name} jar not found in {jars}")
        picked.append(found[-1])
    return picked


def build():
    """Returns (class directory, Spark jar directory)."""
    jars = spark_jars()
    srcs = _sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").is_file():
        return out, jars

    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    classpath = os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar")))
    argfile = tmp / "scalac.args"
    argfile.write_text("\n".join(['-nowarn', '-d', str(tmp), '-classpath', classpath]
                                 + [str(p) for p in srcs]) + "\n")
    compiler = os.pathsep.join(str(p) for p in _scala_jars(jars))
    logf = BUILD / "build.log"
    with open(logf, "w") as log:
        rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                              "scala.tools.nsc.Main", f"@{argfile}"],
                             stdout=log, stderr=subprocess.STDOUT)
    argfile.unlink()
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile failed, see {logf}:\n" + logf.read_text()[-4000:])
    (tmp / ".done").write_text("ok\n")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
