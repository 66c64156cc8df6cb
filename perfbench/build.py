"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM harness (perfbench/src) with the Scala compiler that ships
among the Spark jars build.sbt compiles against. The build is skipped when
no source changed since the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_classpath():
    """The jars of the directory build.sbt compiles against (unmanagedBase)."""
    with open("build.sbt") as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise ValueError("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(found.group(1), "*.jar")))
    if not jars:
        raise FileNotFoundError(f"no jars in {found.group(1)}")
    return ":".join(jars)


def sources(root):
    found = []
    for d in ("src/main/scala", "perfbench/src"):
        if not os.path.isdir(os.path.join(root, d)):
            raise FileNotFoundError(f"{d} is missing: run from the repository root")
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            found += [os.path.join(dirpath, f) for f in files
                      if f.endswith((".scala", ".java"))]
    return sorted(found)


def build(root, build_dir):
    """Compile when sources changed; return the classes directory."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cp = spark_classpath()
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", classes, "-nowarn"] + srcs,
        check=True, stdout=sys.stderr, timeout=840)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def java_command(classes, heap):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", *opens,
            "-cp", f"{classes}:{spark_classpath()}"]


if __name__ == "__main__":
    root = os.getcwd()
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(root, os.path.join(root, target, "perfbench")))
