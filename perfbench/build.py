"""Build file of the benchmark: compiles the program (src/main/scala,
plus src/main/resources) and the harness (perfbench/src) into
perfbench/.build/classes with scalac from the Spark distribution's jars
(SPARK_HOME, or the distribution that holds the spark-submit on PATH).
Rebuilds only when a source changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HEAP = "3g"
SCALAC_TIMEOUT_S = 840
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars_glob():
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        # the distribution must carry the Scala compiler the build uses
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise BuildError("no Spark distribution with jars/scala-compiler-*.jar "
                     "(set SPARK_HOME)")


def rmtree(path):
    shutil.rmtree(path, ignore_errors=True)


def _sources(root):
    program = os.path.join(root, "src", "main", "scala")
    harness = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(program):
        raise BuildError(f"no program sources at {program}")
    files = sorted(glob.glob(os.path.join(program, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(harness, "**", "*.scala"), recursive=True))
    if not any(f.startswith(program) for f in files):
        raise BuildError(f"no .scala files under {program}")
    resources = os.path.join(root, "src", "main", "resources")
    return files, resources


def ensure_built(root):
    files, resources = _sources(root)
    res_files = sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files + [r for r in res_files if os.path.isfile(r)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, "perfbench", ".build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    rmtree(out)
    os.makedirs(classes)
    jars = spark_jars_glob()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars] + files
    try:
        r = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                           timeout=SCALAC_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes
