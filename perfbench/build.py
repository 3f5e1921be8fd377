"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `.perfbench/build/`.

Spark's jars are found through `SPARK_HOME` (or the `spark-submit` on the
PATH). Each output directory carries a stamp of its sources' content and is
rebuilt only when that changes.

    python3 perfbench/build.py          # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".perfbench", "build")


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(d: str) -> list:
    return sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read(path: str) -> str:
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        return f.read()


def compile_dir(name: str, files: list, classpath: str, extra: str = "") -> str:
    out = os.path.join(BUILD, name)
    marker = os.path.join(out, ".stamp")
    want = stamp(files) + classpath + extra
    if read(marker) == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    print(f"perfbench: compiling {len(files)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(marker, "w") as f:
        f.write(want)
    return out


def build() -> str:
    """Compile what is stale; return the classpath to run the harness."""
    app = sources("src/main/scala")
    if not app:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    app_out = compile_dir("app", app, jars)
    bench_out = compile_dir("harness", sources("perfbench/src"), os.pathsep.join([app_out, jars]),
                            extra=read(os.path.join(app_out, ".stamp")))
    return os.pathsep.join([bench_out, app_out, jars])


if __name__ == "__main__":
    print(build())
