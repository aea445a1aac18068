"""Build file of the benchmark: compiles the engine and the harness.

    python3 perfbench/build.py        # from the root of a checkout

Compiles `src/main/scala` and `perfbench/harness` together with the Scala
compiler that ships among the Spark jars the project's build.sbt names
(`unmanagedBase`), into `.perfbench/build/classes`. sbt is not involved, so nothing outside the
checkout is written and no build tool runs inside a timed interval. A
stamp of the sources' contents skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """The Spark jar directory: $SPARK_JARS, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return found


def classpath(root):
    return os.path.join(root, ".perfbench/build/classes") + os.pathsep + \
        os.path.join(spark_jars(root), "*")


def build(root):
    """Compile if the sources changed; returns the class directory."""
    srcs = sources(root)
    if not any("src/main/scala" in s for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    out = os.path.join(root, ".perfbench/build/classes")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(root, ".perfbench/build/stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-cp", jars] + srcs
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
