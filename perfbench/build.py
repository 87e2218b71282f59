"""Builds the benchmark into .bench_build/ of the checkout:

1. compiles the program's sources (src/main/scala) together with the
   harness (perfbench/src) with the Scala compiler that ships with Spark,
   and packs the classes into one jar;
2. records a class-data sharing archive (AppCDS) from a short training
   pass over every workload on a tiny corpus, so that each measured run
   starts its JVM and Spark without re-loading and re-verifying the same
   classes. Without the archive runs still work, only slower to start.

A build is reused while the sources and the Spark jars are unchanged."""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))

# JVM flags every benchmark JVM gets; the archive is only valid for the
# same flags and class path.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")
    if not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        fail(f"no scala-compiler jar in {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found: set JAVA_HOME or put java on PATH")
    return exe


def sources(root):
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        fail(f"no program sources at {program}; run from the root of a graft checkout")
    out = []
    for base in (program, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


class Build:
    """A finished build: its jar, class path and optional archive."""

    def __init__(self, root, out, jars):
        self.root = root
        self.out = out
        self.jar = os.path.join(out, "perfbench.jar")
        self.classpath = f"{self.jar}{os.pathsep}{jars}/*"
        self.archive = os.path.join(out, "app.jsa")

    def jvm(self, main, args, cpus, extra=()):
        """The command line of a benchmark JVM running `main`."""
        work = os.path.join(self.root, ".bench_build", "work")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        share = [f"-XX:SharedArchiveFile={self.archive}"] if os.path.exists(self.archive) else []
        return [java(), "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
                # JVM warnings go to stderr: stdout carries the report
                "-Xlog:disable", "-Xlog:all=warning:stderr",
                *share, *extra, f"-Djava.io.tmpdir={tmp}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                *opens, "-cp", self.classpath, main,
                "--spec", os.path.join(HERE, "spec.json"),
                "--benchmark", os.path.join(self.root, "BENCHMARK.json"),
                "--work", work, "--cpus", str(cpus), *args]


def ensure_built(root, cpus):
    """Returns the build of the current sources, building it if needed.
    Concurrent callers in one checkout wait for each other."""
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _ensure_built(root, build_dir, cpus)


def _ensure_built(root, build_dir, cpus):
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir, "build-" + h.hexdigest()[:16])
    b = Build(root, out, jars)
    if os.path.exists(os.path.join(out, "done")):
        return b
    for d in os.listdir(build_dir):  # builds of other sources
        if d.startswith("build-"):
            shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    args = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
            "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", f"{jars}/*"] + srcs
    if subprocess.run(args, cwd=root).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    with zipfile.ZipFile(b.jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)

    print("perfbench: recording the class-data archive", file=sys.stderr)
    train = b.jvm("perfbench.SelfTest", ["--train"], cpus,
                  extra=[f"-XX:ArchiveClassesAtExit={b.archive}"])
    r = subprocess.run(train, cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(b.archive):
        print("perfbench: no class-data archive; runs start without it", file=sys.stderr)
        if os.path.exists(b.archive):
            os.remove(b.archive)
    open(os.path.join(out, "done"), "w").close()
    return b


if __name__ == "__main__":
    ensure_built(os.path.dirname(HERE), len(os.sched_getaffinity(0)))
