"""Build file of the benchmark: compiles the engine's sources
(``src/main/scala``) together with the benchmark harness
(``perfbench/src``) with the Scala compiler that ships in the Spark
distribution (``$SPARK_HOME/jars``, else pyspark's), into ``.bench_build/perfbench/classes``.

The build is skipped when a stamp of every source file's path and bytes
matches the last successful build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars the
    installed pyspark package ships (the same distribution)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return main, bench


def classpath(root):
    return os.path.join(root, ".bench_build/perfbench/classes") + ":" + spark_jars() + "/*"


def build(root):
    main, bench = sources(root)
    if not main or not bench:
        raise SystemExit("no engine or harness sources under %s" % root)
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(root, ".bench_build/perfbench")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(main + bench))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", spark_jars() + "/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
    print("building: scalac over %d sources" % len(main + bench), file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, timeout=850, stdout=sys.stderr)
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(out, "classes"))
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build(os.getcwd())
