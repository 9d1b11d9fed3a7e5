"""Build graft and the benchmark from source, without sbt.

Compiles `src/main/scala` (graft) and `perfbench/scala` (the benchmark)
with the Scala compiler that ships in Spark's jars, packs each into a jar,
then dumps graft's oracle SQL. Output goes to `perfbench/work/build`; a
stamp of every source file's contents skips the build when nothing
changed. A rebuild also drops the class-data archive (`CDS`, below).

    python3 perfbench/build.py        # from the repository root
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
BUILD = os.path.join(HERE, "work", "build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
# Class-data sharing archive of the benchmark JVM's classes: the first run
# after a build makes it with an untimed training run of its workload; every
# measured run maps it instead of loading and verifying ~15 000 classes from
# jars (about 5 s of every JVM start on a 4-cpu box).
CDS = os.path.join(BUILD, "app.jsa")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_home():
    """SPARK_HOME, else the first Spark install (a `bin/spark-submit` next
    to a `jars/` directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
        if os.path.isfile(exe) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    raise BuildError("no Spark install: set SPARK_HOME or put Spark's bin/ on PATH")


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {home}/jars")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def classpath():
    """Jars only, in a fixed order: a class-data archive serves only the
    classpath it was dumped with, and none with a class directory on it."""
    return [os.path.join(BUILD, "graft.jar"), os.path.join(BUILD, "bench.jar")] + spark_jars()


def cds_options():
    """JVM options that map the class-data archive, when there is one."""
    return [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []


def cds_dump_options(tag):
    """Options for a training JVM that dumps the archive when it exits (to
    a file named by `tag`, which `cds_adopt` moves into place), or None
    when there is an archive or this build already tried to make one."""
    if os.path.exists(CDS) or os.path.exists(CDS + ".tried"):
        return None
    open(CDS + ".tried", "w").close()
    return [f"-XX:ArchiveClassesAtExit={CDS}.{tag}"]


def cds_adopt(tag):
    if os.path.exists(f"{CDS}.{tag}"):
        os.replace(f"{CDS}.{tag}", CDS)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(srcs, out, cp, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(spark_jars()), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(cp), "-d", out] + srcs
    rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=BUILD).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log.name}")
    with zipfile.ZipFile(out + ".jar", "w") as jar:
        for d, _, files in sorted(os.walk(out)):
            for f in sorted(files):
                jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))


def ensure_built(log_path):
    """Build when a source changed; returns the oracle SQL file."""
    graft, bench = sources(GRAFT_SRC), sources(BENCH_SRC)
    if not graft:
        raise BuildError(f"no graft sources under {GRAFT_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    stamp = _stamp(graft + bench)
    stamp_file = os.path.join(BUILD, "stamp")
    oracle = os.path.join(BUILD, "oracle_sql.tsv")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(oracle):
        return oracle
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, CDS, CDS + ".tried"):
        if os.path.exists(f):
            os.remove(f)
    with open(log_path, "a") as log:
        _scalac(graft, os.path.join(BUILD, "graft"), spark_jars(), log)
        _scalac(bench, os.path.join(BUILD, "bench"),
                [os.path.join(BUILD, "graft")] + spark_jars(), log)
        cmd = ["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(classpath()),
               "graftbench.OracleSql", oracle]
        if subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=BUILD).returncode:
            raise BuildError(f"oracle SQL dump failed; see {log.name}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return oracle


if __name__ == "__main__":
    try:
        os.makedirs(os.path.join(HERE, "work", "logs"), exist_ok=True)
        print(ensure_built(os.path.join(HERE, "work", "logs", "build.log")))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
