"""Build the engine (src/main/scala) and the benchmark harness from source.

    python3 perfbench/build.py        # from the repository root

Compiles with the Scala compiler that ships among the Spark jars, so no
build tool, network or home-directory cache is involved. Output goes to
``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the repository
root; a stamp of the source hashes skips the build when nothing changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = "/opt/spark/jars"  # build.sbt's unmanagedBase
HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath(root):
    b = build_dir(root)
    return ":".join([os.path.join(b, "harness"), os.path.join(b, "classes"),
                     os.path.join(SPARK_JARS, "*")])


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return main, harness


def _scalac(out, cp, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit(f"scalac failed for {out}")


def build(root):
    """Compile what changed; return the classpath to run with."""
    main, harness = _sources(root)
    if not main:
        raise SystemExit("no engine sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"Spark jars not found at {SPARK_JARS}")
    b = build_dir(root)
    os.makedirs(b, exist_ok=True)

    def digest(files):
        h = hashlib.sha256()
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    for name, files, cp in [
            ("classes", main, os.path.join(SPARK_JARS, "*")),
            ("harness", harness, os.path.join(b, "classes") + ":" +
             os.path.join(SPARK_JARS, "*"))]:
        stamp = os.path.join(b, name + ".stamp")
        want = digest(files) if name == "classes" else digest(main + files)
        have = open(stamp).read() if os.path.exists(stamp) else ""
        if have != want:
            _scalac(os.path.join(b, name), cp, files)
            with open(stamp, "w") as fh:
                fh.write(want)
    return classpath(root)


if __name__ == "__main__":
    print(build(os.getcwd()))
