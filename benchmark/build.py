"""Build file of the benchmark harness.

Compiles the engine's sources (`src/main/scala`) together with the
harness (`benchmark/src`) with the Scala compiler that ships in Spark's
jar directory, so no build tool or dependency download is needed. The
output is ``<build dir>/graftbench.jar``, reused while no source file
changed.

    python3 benchmark/build.py            # build into $CARGO_TARGET_DIR or .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(sbt))
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under '{jars}'; set SPARK_HOME")
    return jars


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                           or os.path.join(ROOT, ".bench_build"))


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def read(path):
    with open(path) as fh:
        return fh.read()


def classpath(jar):
    """The JVM class path: the harness jar, then every Spark jar by name."""
    return ":".join([jar] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def build(log=sys.stderr):
    """Returns the harness jar, compiling first if any source changed."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = build_dir()
    jar = os.path.join(out, "graftbench.jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return jar
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", ":".join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "-d", tmp, "@" + argfile]
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout, file=log)
        raise SystemExit(f"[build] scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    print(build())
