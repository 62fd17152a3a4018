"""Build file of the graft benchmark.

Compiles graft's own sources (src/main/scala, plus src/main/resources) and
the benchmark's sources (graftbench/src) with the Scala compiler that ships
among Spark's jars, into <build dir>/graftbench/{graft,bench}.jar. A stage is
skipped when the fingerprint of its input files matches its last build.

After a build it records a class-data-sharing archive (JDK AppCDS) from one
short pass over every workload, so that each benchmark JVM maps the classes
it loads instead of parsing them again: that takes seconds off every run's
start-up for both commits alike. The pass is made once per build, whether it
succeeds or not; run.py refuses to measure without the archive, so that no
result is slowed by its absence unnoticed.

    python3 graftbench/build.py            # build into .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "graftbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's build.sbt names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(cp, work, argv, archive_flag=None):
    """The command line of one benchmark JVM (graftbench.Main)."""
    cmd = [java(), "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work,
           "-Duser.timezone=UTC"]
    if archive_flag:
        cmd.append(archive_flag)
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp), "graftbench.Main"] + argv


def jvm_env():
    return dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")


def archive_flag(cp):
    """The flag that maps the class-data archive, if it matches `cp`."""
    jsa = os.path.join(build_root(), "classes.jsa")
    stamp = jsa + ".cp"
    if os.path.exists(jsa) and os.path.exists(stamp) and open(stamp).read() == _cp_key(cp):
        return "-XX:SharedArchiveFile=" + jsa
    return None


def _cp_key(cp):
    """Identifies what an archive was recorded from: the classpath and the
    fingerprint of the sources compiled into it."""
    with open(os.path.join(build_root(), "bench", "FINGERPRINT")) as f:
        return "\n".join(cp + [f.read()])


def _read(path):
    return open(path).read() if os.path.exists(path) else None


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def fingerprint(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, sources, log):
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", classpath[0]]
    cmd += ["-classpath", os.pathsep.join(classpath)]
    r = subprocess.run(cmd + sources, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError("scalac failed (exit %d), see %s" % (r.returncode, log.name))


def _stage(dest, fp, log, compile_into):
    """Rebuilds `dest` unless its FINGERPRINT equals `fp`."""
    stamp = os.path.join(dest, "FINGERPRINT")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return False
    tmp = "%s.tmp.%d" % (dest, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        compile_into(tmp)
        with open(os.path.join(tmp, "FINGERPRINT"), "w") as f:
            f.write(fp)
        shutil.rmtree(dest, ignore_errors=True)
        os.replace(tmp, dest)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return True


def ensure_built(quiet=False):
    """Returns the classpath of the built benchmark, building what changed:
    graft's classes when its sources changed, the benchmark's when either
    changed."""
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError("graft sources not found at %s" % os.path.relpath(GRAFT_SRC, ROOT))
    jars = spark_jars()
    root = build_root()
    graft_dir, bench_dir = os.path.join(root, "graft"), os.path.join(root, "bench")
    graft_jar, bench_jar = graft_dir + ".jar", bench_dir + ".jar"
    graft_src = _files(GRAFT_SRC, ".scala")
    bench_src = _files(BENCH_SRC, ".scala")
    graft_fp = fingerprint(graft_src + _files(GRAFT_RES))
    bench_fp = fingerprint(bench_src + [__file__], graft_fp)
    os.makedirs(root, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(root, "build.log"), "w") as log:
        def graft(tmp):
            _scalac(jars, [tmp], graft_src, log)
            if os.path.isdir(GRAFT_RES):
                shutil.copytree(GRAFT_RES, tmp, dirs_exist_ok=True)
        built = _stage(graft_dir, graft_fp, log, graft)
        built |= _stage(bench_dir, bench_fp, log,
                        lambda tmp: _scalac(jars, [tmp, graft_dir], bench_src, log))
        for d, jar in ((graft_dir, graft_jar), (bench_dir, bench_jar)):
            if built or not os.path.exists(jar):
                _jar(d, jar)
    cp = [bench_jar, graft_jar, os.path.join(jars, "*")]
    if built and not quiet:
        sys.stderr.write("[graftbench] built in %.1f s\n" % (time.time() - t0))
    if _read(os.path.join(root, "train.key")) != _cp_key(cp):
        _record_archive(cp, root, quiet)
    return cp


def _jar(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes):
            if os.path.basename(f) != "FINGERPRINT":
                z.write(f, os.path.relpath(f, classes))
    os.replace(tmp, jar)


def _record_archive(cp, root, quiet):
    """Runs one short pass over every workload in a JVM that writes the
    classes it loaded to classes.jsa at exit."""
    jsa = os.path.join(root, "classes.jsa")
    for f in (jsa, jsa + ".cp", os.path.join(root, "train.key")):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(root, "train")
    t0 = time.time()
    cmd = jvm_command(cp, work, ["--workload", "train", "--seed", "1", "--work", work],
                      "-XX:ArchiveClassesAtExit=" + jsa)
    ok = False
    for _ in range(2):  # one retry; the two fit a first run's time with the build
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            with open(os.path.join(root, "train.log"), "w") as log:
                r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                   env=jvm_env(), timeout=300)
            ok = r.returncode == 0 and os.path.exists(jsa)
        except subprocess.TimeoutExpired:
            ok = False
        if ok:
            break
    shutil.rmtree(work, ignore_errors=True)
    if ok:
        with open(jsa + ".cp", "w") as f:
            f.write(_cp_key(cp))
    with open(os.path.join(root, "train.key"), "w") as f:
        f.write(_cp_key(cp))
    if not quiet:
        sys.stderr.write("[graftbench] class-data archive %s in %.1f s\n" % (
            "recorded" if ok else "NOT recorded (see train.log)", time.time() - t0))


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        sys.exit("build failed: %s" % e)
