"""Build file of the benchmark package: compiles graft's engine sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's jars, so the build needs neither sbt nor a network.

The Spark distribution is `$SPARK_HOME`, or else the `unmanagedBase` that the
repository's own `build.sbt` names. `run.py` calls `ensure_built`.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return m.group(1)


def sources(root):
    found = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _jar(jars, name):
    hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
    if not hits:
        raise SystemExit(f"perfbench: {name} jar not found in {jars}")
    return hits[-1]


def ensure_built(root, build_dir):
    """Compile if any source changed since the last build; return the
    classes directory."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler_cp = os.pathsep.join(_jar(jars, n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes

