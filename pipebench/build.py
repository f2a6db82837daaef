"""Build file of the benchmark: compiles the program's sources together with
the benchmark's Scala sources into one class directory.

It calls the Scala compiler that ships in Spark's jar directory, the one the
program's own `build.sbt` names as `unmanagedBase` (or `$SPARK_HOME/jars`),
so no dependency is resolved. The class directory is reused while a hash of
every source file is unchanged.

    python3 pipebench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("pipebench", "src")
OUT = os.path.join(".bench_build", "pipebench")


def spark_jars(root="."):
    """The jar directory the program's build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise FileNotFoundError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(root):
    found = []
    for top in (PROGRAM_SOURCES, BENCH_SOURCES):
        for d, _, files in os.walk(os.path.join(root, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root="."):
    """Returns the class directory, compiling first if any source changed."""
    program = os.path.join(root, PROGRAM_SOURCES, "graft", "pipeline")
    if not os.path.isdir(program):
        raise FileNotFoundError(f"program sources not found under {PROGRAM_SOURCES}")
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out,
           "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", classes, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
