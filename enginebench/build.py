"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (enginebench/src) into
.bench_build/enginebench/enginebench.jar, with the Scala compiler and the
Spark jars of the local Spark install ($SPARK_HOME/jars). A stamp over every
source file skips the compile when nothing changed. The first benchmark JVM
after a build records a class-data sharing archive of the classes it loaded;
later JVMs start from it instead of parsing Spark's classes again.

    python3 enginebench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "enginebench")


def spark_jars():
    """Directory of the Spark (and Scala) jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("enginebench: no Spark jars found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("enginebench: no java found; set JAVA_HOME")
    return exe


# The JDK 17 module opens Spark needs outside spark-submit (as in the
# repository's build.sbt), and the same codegen cache size.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# A fixed heap (initial = maximum): the peak resident set then does not
# depend on when the collector chose to grow the heap. No perf-data file:
# the JVM would write it under /tmp, outside the checkout.
HEAP = "3g"


def jvm_command(cp, main, tmpdir, extra=()):
    """The java command line of a benchmark JVM."""
    cmd = [java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.sql.codegen.cache.maxEntries=2000"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + list(extra) + ["-cp", cp, main]


def sources(repo):
    engine = os.path.abspath(os.path.join(repo, "src", "main", "scala"))
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(
            "enginebench: engine sources (src/main/scala/graft) not found; "
            "run from the repository root")
    files = glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                       recursive=True)
    return sorted(files)


def stamp(repo, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def current_stamp(repo="."):
    """The stamp of the last successful build, or None."""
    path = os.path.join(repo, OUT, "stamp")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read()


def git_commit(repo="."):
    """HEAD of the checkout, or "none" outside a git work tree."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True,
            text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def build(repo="."):
    """Compile if the sources changed. Returns the classpath and the source
    stamp."""
    files = sources(repo)
    jars = spark_jars()
    digest = stamp(repo, files)
    out = os.path.abspath(os.path.join(repo, OUT))
    jar = os.path.join(out, "enginebench.jar")
    stamp_file = os.path.join(out, "stamp")
    if current_stamp(repo) != digest:
        for f in (stamp_file, jar, archive(repo), archive(repo) + ".tmp"):
            if os.path.exists(f):
                os.remove(f)
        compile_jar(files, jars, out, jar)
        with open(stamp_file, "w") as fh:
            fh.write(digest)
    return jar + os.pathsep + os.path.join(jars, "*"), digest


def archive(repo="."):
    return os.path.abspath(os.path.join(repo, OUT, "classes.jsa"))


def cds_flags(repo="."):
    """JVM flags that use the class-data sharing archive, or, when there is
    none yet, record one at exit into a temporary file (see keep_archive)."""
    a = archive(repo)
    if os.path.exists(a):
        return [f"-XX:SharedArchiveFile={a}"]
    return [f"-XX:ArchiveClassesAtExit={a}.tmp"]


def keep_archive(repo=".", ok=True):
    """After a JVM run with cds_flags: publish its archive if it ended well,
    else drop it."""
    tmp = archive(repo) + ".tmp"
    if os.path.exists(tmp):
        if ok:
            os.replace(tmp, archive(repo))
        else:
            os.remove(tmp)


def compile_jar(files, jars, out, jar):
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
                if os.path.basename(j).split("-")[1] in
                ("compiler", "library", "reflect")]
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            [java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp",
             os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-classpath",
             os.path.join(jars, "*"), "-d", classes] + files,
            stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"enginebench: compile failed (exit {rc}), see {log}")
    # class-data sharing only archives classes loaded from jars
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                path = os.path.join(d, n)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)


if __name__ == "__main__":
    print(build()[0])
