"""Build file of the benchmark.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/scala) with the Scala compiler that ships in
Spark's jars directory, packs them into .bench_build/perfbench.jar, then
runs one set-up and one operation of every workload and layer probe in a
JVM that archives the classes it loaded (AppCDS, .bench_build/classes.jsa).
Every benchmark JVM maps that archive, which cuts JVM and Spark start-up by
seconds and makes it steadier. A stamp of the sources skips all of this
when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]
BUILD_DIR = ".bench_build"
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [arg for pkg in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise RuntimeError("SPARK_HOME is not set; point it at a Spark 4 distribution")
    jars_dir = os.path.join(home, "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise RuntimeError(f"no Spark distribution with a Scala compiler under {jars_dir}")
    return jars


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise RuntimeError(f"missing source directory {d}; run from the repository root")
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(found)


def cores():
    return len(os.sched_getaffinity(0))


def work_dir(root):
    return os.path.join(root, BUILD_DIR, "work")


def java_cmd(root, classpath, main_args, flags=()):
    """The benchmark JVM: perfbench.Main with Spark's JDK 17 options, the
    heap size and all scratch space inside the build directory (no
    hsperfdata file in the system temp directory either)."""
    tmp = os.path.join(work_dir(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_conf = os.path.join(root, "perfbench", "log4j2.properties")
    return ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log_conf}", *ADD_OPENS, *flags,
            "-cp", classpath, "perfbench.Main", *main_args,
            "--cores", str(cores()), "--work", work_dir(root)]


def jvm_env():
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch space inside the checkout
    return env


def archive(root):
    return os.path.join(root, BUILD_DIR, "classes.jsa")


def build(root):
    """Returns the classpath that runs perfbench.Main, building first when
    the sources changed since the last build."""
    jars = spark_jars()
    srcs = sources(root)
    stamp = hashlib.sha256()
    for p in srcs + jars:
        stamp.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                stamp.update(f.read())
    stamp = stamp.hexdigest()

    build_dir = os.path.join(root, BUILD_DIR)
    jar = os.path.join(build_dir, "perfbench.jar")
    stamp_file = os.path.join(build_dir, "build.stamp")
    # a jar, not a class directory: AppCDS archives classes from jars only
    classpath = os.pathsep.join([jar] + jars)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath

    classes = os.path.join(build_dir, "classes")
    for stale in (stamp_file, jar, archive(root)):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", os.pathsep.join(jars), "@" + args_file],
                   check=True, stdout=sys.stderr)
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    print("perfbench: archiving the classes every workload loads", file=sys.stderr)
    subprocess.run(java_cmd(root, classpath, ["--train", "1"],
                            [f"-XX:ArchiveClassesAtExit={archive(root)}", "-Xlog:cds=off"]),
                   check=True, stdout=sys.stderr, env=jvm_env(), timeout=600)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    build(os.getcwd())
