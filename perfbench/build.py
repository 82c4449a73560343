"""Builds what the benchmark runs, once per checkout, into .bench_build/.

    python3 perfbench/build.py

1. Compiles graft's main sources (src/main) together with the
   benchmark's JVM program (perfbench/src) with the Scala compiler that
   ships in Spark's jars, and copies src/main/resources beside the
   classes. Skipped when the sources hash to the recorded stamp.
2. Builds the fixed llm_pipeline corpus, checks it against its
   fingerprint, and has DuckDB run each key's oracle SQL
   (`SparkEntry.oracleSql`) over it. Skipped when already done for
   the same oracle text.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
CORPUS = os.path.join(OUT, "corpus")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# sha256 over documents.parquet then embeddings.parquet as gen.py
# writes them (numpy 1.26 / pyarrow 16.1)
CORPUS_SHA256 = "c03248a0464d0a50dcc60d4298506f99637305f29af0f993507a873eac27a9af"


def spark_jars():
    """The jars of the Spark installation at $SPARK_HOME, else those
    bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            import pyspark
        except ImportError:
            sys.exit("build: no Spark found (set SPARK_HOME)")
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if not os.path.isdir(jars):
        sys.exit(f"build: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def java_opens():
    """What spark-submit adds on JDK 17 (same list as build.sbt)."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"build: graft sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    return files


def compile_classes():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: scalac failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return True


def check_corpus():
    got = gen.corpus_fingerprint(CORPUS)
    if got != CORPUS_SHA256:
        sys.exit(f"build: corpus fingerprint {got} != {CORPUS_SHA256}")


def build_corpus(recompiled):
    if not os.path.exists(os.path.join(CORPUS, "documents.parquet")):
        tmp = CORPUS + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen.build_corpus(tmp)
        os.replace(tmp, CORPUS)
    check_corpus()
    oracle = os.path.join(CORPUS, "oracle_sql.json")
    keys = sum(gen.FAMILIES.values(), [])
    if recompiled or not os.path.exists(oracle):
        subprocess.run(["java", "-Xmx512m"] + java_opens() +
                       ["-cp", classpath(), "perfbench.Main", "oracle", oracle]
                       + keys, check=True, timeout=120)
    text = open(oracle, "rb").read()
    stamp = os.path.join(CORPUS, "expected.stamp")
    digest = hashlib.sha256(text).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    expected = os.path.join(CORPUS, "expected")
    shutil.rmtree(expected, ignore_errors=True)
    gen.corpus_expected(CORPUS, oracle, expected)
    with open(stamp, "w") as f:
        f.write(digest)


def ensure():
    os.makedirs(OUT, exist_ok=True)
    build_corpus(compile_classes())


if __name__ == "__main__":
    ensure()
    print(json.dumps({"classes": CLASSES, "corpus": CORPUS}))
