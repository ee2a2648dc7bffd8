"""Build step of the benchmark: compile the library sources and the
benchmark's own Scala sources in one scalac pass against the Spark jars.

The classes land in `<build>/classes`; a stamp over every source file (path
and content) and the jar listing skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

# Same module opens as the root build's jdk17AddOpens (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """The Spark distribution's jar directory (it also carries scalac)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError("no Spark distribution with scala-compiler found "
                           "(set SPARK_HOME)")
    return jars


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        raise RuntimeError(f"no library sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return lib + own


def build(root, build_dir):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp_path = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-cp", f"{jars}/*", f"@{argfile}"],
        check=True, stdout=subprocess.DEVNULL)
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return classpath
