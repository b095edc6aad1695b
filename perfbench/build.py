"""Build the engine and the benchmark harness from source.

Compiles `src/main/scala` (the engine) together with `perfbench/scala`
(the harness) with the Scala compiler that ships in the Spark
distribution's jars directory, into `<build dir>/classes`. A stamp over
every source file's content makes a repeat build a no-op; a lock
serialises concurrent builds.

    python3 perfbench/build.py            # builds into .bench_build/
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark distribution's jars dir: `$SPARK_HOME/jars`, or the one next
    to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def classpath(classes):
    return f"{classes}:{os.path.join(ROOT, 'src/main/resources')}:{spark_jars()}/*"


def build():
    """Return the classes dir, compiling first when any source changed."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    srcs = sources()
    h = hashlib.sha1()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(out, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs))
        jars = f"{spark_jars()}/*"
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-cp", jars, "@" + args_file]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit(f"perfbench: build failed (exit {r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
