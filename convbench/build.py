"""Build file of the converter benchmark.

Compiles the program (`src/main/scala`, plus `src/main/resources`) together
with the benchmark's own Scala code (`convbench/scala`), using the Scala
compiler that ships in Spark's jars, into `.bench_build/classes-<source
hash>/`.  A build whose sources are unchanged is reused.

    python3 convbench/build.py        # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    srcs = sources()
    res_root = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(OUT, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("compile failed")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    # drop builds of other sources, then publish this one
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
