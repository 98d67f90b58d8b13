"""Build file of the benchmark: compiles the program and the harness.

The program's sources (src/main/scala, src/main/resources) and the
harness (perfbench/harness) are compiled together, with the Scala
compiler that ships in the Spark distribution, into one jar under
.bench_build/classes/<hash of the sources>/. The build then runs the MR and index
set-ups on small inputs with -XX:ArchiveClassesAtExit, so the measured
JVMs start from a class-data archive of the Spark and program classes
those load (3-4 s less cold start per run on a 4-core x86 box). A build whose
hash matches is reused, so only the first run in a checkout pays.

    python3 perfbench/build.py      # prints the build directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def java_cmd(build_dir, tmpdir, dump_archive=False):
    """The measured JVM's command line, up to the harness arguments."""
    cp = os.pathsep.join([os.path.join(build_dir, "app.jar"),
                          os.path.join(spark_jars(), "*")])
    jsa = os.path.join(build_dir, "app.jsa")
    cds = [f"-XX:ArchiveClassesAtExit={jsa}" if dump_archive
           else f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off"]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}"] + cds
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", cp, "graft.perfbench.Harness"])


def _sources():
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not scala or not harness:
        raise SystemExit("perfbench: program or harness sources missing")
    res = os.path.join(ROOT, "src/main/resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**"), recursive=True)
                       if os.path.isfile(p))
    return scala + harness, resources


def _run(cmd, what, **kw):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, **kw)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: {what} failed")


def _train(build_dir):
    """One JVM runs the MR and index set-ups on small inputs and dumps the
    classes it loaded into the archive the measured runs start from."""
    import gen
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    mr, churn, run = (os.path.join(work, d) for d in ("mr", "churn", "run"))
    for d in (mr, churn, os.path.join(run, "tmp"), os.path.join(run, "local")):
        os.makedirs(d)
    gen.mr_unique(0, mr, 1 << 20)
    gen.index_churn(0, churn, os.path.join(HERE, "data", "sf0.01"))
    # set-ups only: Spark start, a job, the index builds and probes. The
    # query rows' cold cost is code generation, which no archive holds.
    runs = [("mr_unique", mr, "0"), ("index_churn", churn, "0")]
    args = []
    for i, (w, inputs, secs) in enumerate(runs):
        args += (["--then"] if i else []) + [
            "--workload", w, "--seconds", secs, "--trace", "0", "--seed", "0",
            "--inputs", inputs, "--sf", os.path.join(HERE, "data", "sf0.01"),
            "--run", run, "--out", os.path.join(run, f"{w}.json"),
            "--cores", "2", "--setups", "1", "--split", str(1 << 18)]
    _run(java_cmd(build_dir, os.path.join(run, "tmp"), dump_archive=True)
         + args, "class-archive training run", cwd=run)
    shutil.rmtree(work, ignore_errors=True)


def build():
    srcs, resources = _sources()
    h = hashlib.sha256()
    for p in srcs + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(BUILD, "classes")
    out = os.path.join(base, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".built")):
        return out
    shutil.rmtree(base, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    _run(["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs,
         "compilation")
    res = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _run(["jar", "cf", os.path.join(out, "app.jar"), "-C", classes, "."],
         "jar")
    shutil.rmtree(classes)
    _train(out)
    open(os.path.join(out, ".built"), "w").close()
    return out


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    print(build())
