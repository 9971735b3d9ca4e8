"""Build file of the benchmark package: compiles the library sources
(src/main/scala) together with the benchmark sources (perfbench/src) with
the Scala compiler that ships in Spark's jars, into one jar (a jar, not a
class directory, so that the JVM can share its classes, see run.py).

The Spark jar directory is $SPARK_HOME/jars when SPARK_HOME is set, else
the `unmanagedBase` that the root build.sbt names. A stamp over every
source file's path and content makes a rebuild happen only when a source
changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home:
        d = os.path.join(home, "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt at the checkout root and SPARK_HOME is unset")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) \
        if os.path.isdir(d) else []
    if not jars:
        raise BuildError(f"no Spark jars in {d}")
    return jars


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(dirs[0]):
        raise BuildError("src/main/scala is missing: run from the root of a checkout")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(root, srcs):
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile if a source changed; return the jar."""
    jars = spark_jars(root)
    srcs = sources(root)
    want = stamp(root, srcs)
    jar = os.path.join(out_dir, "perfbench.jar")
    stamp_file = os.path.join(out_dir, "perfbench.stamp")
    if os.path.isfile(jar) and os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return jar
    os.makedirs(out_dir, exist_ok=True)
    classes = os.path.join(out_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out_dir,
           "-cp", cp, "scala.tools.nsc.Main", "-classpath", cp, "-d", classes, "-nowarn",
           "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)
    shutil.rmtree(classes)
    # class-data archives of the old jar no longer match it
    for f in os.listdir(out_dir):
        if f.endswith(".jsa"):
            os.remove(os.path.join(out_dir, f))
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return jar
