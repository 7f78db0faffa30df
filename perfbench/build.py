"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM side (`perfbench/src`) with the Scala
compiler shipped in the Spark jar directory that the repo's `build.sbt`
names (`unmanagedBase`). No sbt, no dependency resolution, no writes
outside the checkout.

    python3 perfbench/build.py        # prints the classpath it built

Output goes to `$CARGO_TARGET_DIR` (relative to the checkout) or
`.bench_build`; a source-hash stamp makes a rebuild a no-op.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory `build.sbt` sets as `unmanagedBase`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt: run from the root of a pollaspark checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    """Scala sources plus the program's resources (service registrations)."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"), RESOURCES]
    if not os.path.isdir(roots[0]):
        raise BuildError("no src/main/scala: run from the root of a pollaspark checkout")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    digest = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    cp = f"{classes}:{jars}/*"
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(out, "classes.stamp")
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return cp
        if os.path.isdir(classes):
            subprocess.run(["rm", "-rf", classes], check=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(s for s in srcs if s.endswith(".scala")) + "\n")
        if os.path.isdir(RESOURCES):
            shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", f"{jars}/*", "@" + argfile],
            capture_output=True, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
        with open(stamp, "w") as f:
            f.write(digest)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
