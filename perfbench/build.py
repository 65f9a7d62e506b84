"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory into one jar, keyed by a hash of every source file.
An unchanged tree reuses the jar of the last build.

It also keeps a JVM class-data-sharing archive per jar (`cds_archive`):
every run starts a fresh JVM, and loading Spark's classes from an archive
instead of from jars cuts the cold start each run pays. It only changes
how classes are loaded, and the parent and the child commit each get their
own archive.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ENGINE_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "scala")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars of the
    installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise RuntimeError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _sources(root):
    files = []
    for d in (ENGINE_SRC, HARNESS_SRC):
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise RuntimeError("missing source directory %s" % base)
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, out_root):
    """Returns the classpath of the compiled engine and harness."""
    srcs = _sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    jars = spark_jars()
    jar = os.path.join(out_root, "perfbench-%s.jar" % h.hexdigest()[:16])
    if not os.path.exists(jar):
        tmp = os.path.join(out_root, "classes.tmp%d" % os.getpid())
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out_root, "sources-%d.txt" % os.getpid())
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn",
               "-d", tmp, "@" + argfile]
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        os.remove(argfile)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError("scalac failed with exit code %d" % res.returncode)
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for dirpath, _, names in sorted(os.walk(tmp)):
                for n in sorted(names):
                    z.write(os.path.join(dirpath, n), os.path.relpath(os.path.join(dirpath, n), tmp))
        shutil.rmtree(tmp)
        os.rename(jar + ".tmp", jar)
    return jar + os.pathsep + os.path.join(jars, "*")


def cds_archive(classpath):
    """Path of the class-data-sharing archive that belongs to `classpath`'s
    jar (it may not exist yet)."""
    return classpath.split(os.pathsep)[0][:-len(".jar")] + ".jsa"
