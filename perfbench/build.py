"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among
Spark's jars, into `.bench_build/perfbench/classes` under the checkout.

The Spark jar directory is the one the repository's build.sbt names as
its `unmanagedBase` (falling back to $SPARK_HOME/jars), so the benchmark
compiles and runs against exactly the jars the engine's own build uses.
A stamp over every source file's path and content makes a rebuild happen
only when a source changed.

    python3 perfbench/build.py          # build if stale, print the classes dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars(root=ROOT):
    """The jar directory build.sbt compiles against."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root=ROOT):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main, own


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for path in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Build if stale; return (classes dir, jar dir)."""
    main, own = sources()
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    want = stamp(main + own, jars)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + main + own
    print(f"perfbench: compiling {len(main) + len(own)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes, jars


if __name__ == "__main__":
    print(ensure()[0])
