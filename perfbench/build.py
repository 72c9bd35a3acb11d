"""Build file for the benchmark package: compiles graft (src/main/scala)
together with the harness (perfbench/scala) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes.

The build is skipped when a stamp over every source file and the Spark
jar list matches the last successful build.

Usage: python3 perfbench/build.py   (run.py calls build() itself)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"

# Spark 4 on JDK 17 needs these outside spark-submit (which injects them);
# same list as org.apache.spark.launcher.JavaModuleOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home() -> Path:
    """SPARK_HOME, else the distribution that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        raise RuntimeError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


def sources() -> list:
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise RuntimeError(f"source directories missing: {missing}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(spark_home() / "jars" / "*")])


def build() -> str:
    """Compile if needed; return the runtime class path."""
    srcs = sources()
    jars = spark_home() / "jars"
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classpath(classes)
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    stamp_file.unlink(missing_ok=True)
    cp = str(jars / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", cp] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")
    stamp_file.write_text(stamp)
    return classpath(classes)


def java(cp: str, main: str, args, tmp: Path, heap: str) -> list:
    """Command line that runs `main` on Spark's JVM flags; temp files and
    Spark's local dirs go to `tmp`; no perf-data file goes to the system
    temp dir. The heap is fixed in size and collected
    by the parallel collector: a heap that grows on the collector's own
    schedule made resident memory differ by a third between runs."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            "-cp", cp, main, *map(str, args)]


if __name__ == "__main__":
    print(build())
