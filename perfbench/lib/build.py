"""Compile the engine and the harness with the Scala compiler that ships
among the Spark jars, into perfbench/.build. A stamp over every source
file skips the compile when nothing changed."""
import glob
import hashlib
import os
import re
import shutil
import subprocess

_cached = False

# Spark 4 on JDK 17 outside spark-submit (mirrors build.sbt's javaOptions)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class CompileError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory the repo's own build compiles against:
    build.sbt's `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise CompileError("no Spark jars: build.sbt names none and SPARK_HOME "
                       "is unset")


def _sources(root, here):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise CompileError(f"no engine sources under {main}")
    return (sorted(glob.glob(f"{main}/**/*.scala", recursive=True)) +
            sorted(glob.glob(f"{here}/scala/*.scala")))


def ensure(root, here):
    """Build when stale; return the runtime classpath."""
    global _cached
    jars = spark_jars(root)
    srcs = _sources(root, here)
    res = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(f"{res}/**/*", recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    bdir = os.path.join(here, ".build")
    classes = os.path.join(bdir, "classes")
    cp = f"{classes}:{jars}/*"
    stamp_file = os.path.join(bdir, "stamp")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isdir(classes)):
        _cached = True
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(f"{jars}/scala-compiler-*.jar") +
                        glob.glob(f"{jars}/scala-library-*.jar") +
                        glob.glob(f"{jars}/scala-reflect-*.jar"))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
         "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise CompileError("compile failed:\n" + r.stdout[-4000:])
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def was_cached():
    return _cached


def java_cmd(classpath, work):
    """The harness JVM: every file it writes stays under `work`."""
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath]
