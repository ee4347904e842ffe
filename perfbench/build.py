"""Build the engine and the benchmark harness from source.

Compiles the engine (`src/main/scala`) and the harness
(`perfbench/src/main/scala`) with the Scala compiler that ships in Spark's
jar directory, packs the classes into one jar, and records a class-data
sharing (CDS) archive from a short training run of every workload so that
each benchmark JVM starts in about half the time. Everything goes to
`.bench_build/perfbench/`; a hash of the sources, the JDK and the Spark
jars skips the build when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "graft-bench.jar")
CDS = os.path.join(OUT, "graft-bench.jsa")
STAMP = os.path.join(OUT, "stamp")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def java_cmd(work_dir, heap="2g"):
    """`java` with the project's JVM options; temp, shuffle and warehouse
    files all go under `work_dir`."""
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return ["java", *opts, f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work_dir}",
            f"-Dspark.local.dir={work_dir}",
            f"-Dspark.sql.warehouse.dir={work_dir}/warehouse",
            f"-Dderby.system.home={work_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {ROOT}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"),
                               recursive=True))
    return engine + harness


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def _run(step, cmd, log, **kw):
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, **kw)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build: {step} failed (exit {r.returncode}); log: {log}")


def compile_jar(files):
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(OUT, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    _run("scalac", ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
          "-nowarn", "-d", classes, "-classpath", jars, "@" + args],
         os.path.join(OUT, "scalac.log"))
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, JAR)
    shutil.rmtree(classes)


def record_cds():
    """Training run: every workload once on tiny inputs, with the JVM
    writing the classes it loaded to the CDS archive at exit."""
    import gen_data
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    data = gen_data.write(os.path.join(work, "data"), 0, 0.001)
    gen_data.split_events(data, files=3, events_per_file=200)
    cmd = java_cmd(work) + [f"-XX:ArchiveClassesAtExit={CDS}", "-cp",
                            classpath(), "graft.perfbench.Train", data, work,
                            os.path.join(HERE, "queries")]
    _run("CDS training run", cmd, os.path.join(OUT, "cds.log"), cwd=work,
         env=dict(os.environ, SPARK_GRAFT_CPUS="2"))
    shutil.rmtree(work, ignore_errors=True)


def ensure():
    """Build if the sources changed; returns nothing, raises SystemExit on
    any failure."""
    files = sources()
    fp = fingerprint(files)
    if (os.path.exists(STAMP) and os.path.exists(JAR) and os.path.exists(CDS)
            and open(STAMP).read() == fp):
        return
    os.makedirs(OUT, exist_ok=True)
    for p in (STAMP, CDS):
        if os.path.exists(p):
            os.remove(p)
    compile_jar(files)
    record_cds()
    with open(STAMP, "w") as fh:
        fh.write(fp)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    ensure()
    print(f"built {JAR} and {CDS}")
