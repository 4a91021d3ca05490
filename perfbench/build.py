"""Build file of the benchmark: compiles graft's sources and the harness.

The harness is Scala (package ``perfbench``) compiled together with the
repository's ``src/main/scala`` by the Scala compiler that ships with the
Spark distribution, against the Spark jars. The output is cached under
``.bench_build/`` keyed by a digest of every source file, so an unchanged
tree builds once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the first
    `spark-submit` on PATH that belongs to a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    files = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")


def build():
    """Compile if needed; return (classes dir, source digest)."""
    files = sources()
    jars = spark_jars()
    key = digest(files)
    out = os.path.join(os.path.abspath(build_dir()), f"classes-{key}")
    if os.path.isdir(out):
        return out, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + files
    print(f"perfbench: compiling {len(files)} source files", file=sys.stderr, flush=True)
    rc = subprocess.run(cmd, cwd=ROOT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({rc})")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(os.path.dirname(out), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, key
