"""Build step of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`filterbench/src`)
with the Scala compiler that ships among the Spark jars. No sbt and no
dependency resolution: the classpath is the Spark jars directory the
program's build names. Classes land in `.bench_build/classes-<digest>`,
keyed by the sources' content, so an unchanged tree builds once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, ".bench_build")


def spark_jars(root):
    """The Spark jars directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the program's build.sbt declares, else next to
    `spark-submit` on the PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.abspath(c)
    raise BuildError("no Spark jars directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources {main} not found: run from the repository root")
    prog = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not prog or not own:
        raise BuildError("no Scala sources to build")
    return prog + own


def ensure(root):
    """Returns (classes dir, jars dir), compiling first if needed."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out, jars
    os.makedirs(build_dir(root), exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(root), f"scalac-args-{os.getpid()}")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    comp = [glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
            for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "-nowarn", "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(build_dir(root), "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out, jars
