"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM side (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory (the one build.sbt uses), into BUILD_DIR/classes. A
stamp of the sources skips the build when nothing changed.

    python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against"""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {jar_dir}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: program sources missing: {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "*.scala")))
    return found


def build(build_dir):
    """compile unless the stamp matches; return the runtime classpath"""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    runtime_cp = os.pathsep.join([classes] + jars)
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return runtime_cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return runtime_cp


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(d, exist_ok=True)
    print(build(os.path.abspath(d)))
