"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in Spark's jar directory, so no build tool has to start
and nothing is fetched; packs them with the program's resources into
.bench_build/bench.jar; and dumps a class-data archive for faster JVM
start. A stamp of every source file's content skips all of it when nothing
changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources(root):
    files = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    files += glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                       recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def runtime_classpath(root):
    return os.pathsep.join([os.path.join(root, BUILD_DIR, "bench.jar"),
                            os.path.join(spark_jars(root), "*")])


def archive_path(root):
    return os.path.join(root, BUILD_DIR, "classes.jsa")


def java_cmd(root, heap, tmp):
    """The JVM command line every benchmark JVM shares."""
    cmd = ["java", "-Xmx" + heap, "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
           "-Dderby.system.home=" + tmp] + jvm_opens()
    if os.path.exists(archive_path(root)):
        cmd.append("-XX:SharedArchiveFile=" + archive_path(root))
    return cmd + ["-cp", runtime_classpath(root)]


def package(root):
    """Classes and resources in one jar (a class-data archive refuses
    directories on the class path)."""
    jar = os.path.join(root, BUILD_DIR, "bench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base in [os.path.join(root, BUILD_DIR, "classes"),
                     os.path.join(root, "src", "main", "resources")]:
            for d, _, fs in sorted(os.walk(base)):
                for f in sorted(fs):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, base))


def dump_archive(root, log):
    """One tiny run of every workload under -XX:ArchiveClassesAtExit: later
    JVMs map the classes it loaded instead of reading them from jars,
    which halves Spark's start-up. A failed dump only costs that speed."""
    tmp = os.path.join(root, BUILD_DIR, "archive-work")
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    cmd = (java_cmd(root, "2g", os.path.join(tmp, "tmp")) +
           ["perfbench.Main", "--archive", "--work", tmp])
    cmd.insert(1, "-XX:ArchiveClassesAtExit=" + archive_path(root))
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, cwd=root,
                             timeout=600)
        if res.returncode != 0:
            print(res.stdout[-2000:], file=log)
    except subprocess.TimeoutExpired:
        print("perfbench: class archive run timed out", file=log)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(archive_path(root)):
        print("perfbench: no class archive, JVMs start from jars", file=log)


def build(root, log=sys.stderr):
    """Compile, package and dump the archive if any source changed since
    the last build. Returns the stamp of the sources built."""
    files = sources(root)
    if not any("/src/main/scala/" in f for f in files):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return want
    shutil.rmtree(classes, ignore_errors=True)
    for f in [stamp_file, archive_path(root)]:
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(classes)
    jars = spark_jars(root)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
        glob.glob(os.path.join(jars, "scala-library-*.jar")) +
        glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes,
           "@" + args_file]
    print("perfbench: compiling %d sources" % len(files), file=log)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=log)
        raise SystemExit("perfbench: compile failed")
    package(root)
    dump_archive(root, log)
    with open(stamp_file, "w") as f:
        f.write(want)
    return want


if __name__ == "__main__":
    build(os.getcwd())
