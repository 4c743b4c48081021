"""Builds the program and the benchmark from source with the Scala
compiler that ships with Spark, without sbt.

Compiles `src/main/scala` (the program) and `perfbench/src` (the
benchmark program) in one `scalac` pass into
`.bench_build/<digest>/classes`, where the digest covers every source
file, so an unchanged tree is never rebuilt. Spark's jars come from
`$SPARK_HOME/jars`, or else from the `unmanagedBase` that the repo's
`build.sbt` names.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    return prog + bench


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Returns (classpath, source digest); compiles when needed."""
    jars = spark_jars(root)
    files = sources(root)
    dig = digest(root, files)
    out = os.path.join(root, ".bench_build", dig[:16])
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, "ok")):
        return cp, dig
    # builds of other source trees are stale: keep only this one
    shutil.rmtree(os.path.join(root, ".bench_build"), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    # an explicit -classpath: scalac's default (".") would turn the
    # working tree's directories into packages
    jar_list = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-classpath", jar_list, "-nowarn",
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    open(os.path.join(out, "ok"), "w").close()
    return cp, dig


if __name__ == "__main__":
    print(build(os.getcwd())[0])
