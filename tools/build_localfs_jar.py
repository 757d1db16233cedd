"""Build the fork-free local filesystem jar from its Java source.

    python tools/build_localfs_jar.py

Compiles `maxscale_cdc_spark/jvm/maxscale/cdc/fs/*.java` with
`javac --release 17 -cp "$SPARK_HOME/jars/*"` (the pyspark package's
jars when SPARK_HOME is unset) and packs the classes with `jar` into
the committed `maxscale_cdc_spark/jvm/forkfree-localfs.jar` that
`session.get_spark` puts on the driver class path.
`tests/test_localfs.py` rebuilds it and compares the class bytes.
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "maxscale_cdc_spark", "jvm")
JAR = os.path.join(JVM_DIR, "forkfree-localfs.jar")


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark

        home = os.path.dirname(pyspark.__file__)
    return os.path.join(home, "jars", "*")


def compile_classes(out_dir: str) -> None:
    """javac the shim's sources into `out_dir`."""
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "maxscale", "**", "*.java"), recursive=True))
    subprocess.run(
        ["javac", "--release", "17", "-cp", spark_jars(), "-d", out_dir, *sources],
        check=True,
    )


def build() -> None:
    with tempfile.TemporaryDirectory(prefix="localfs_classes_") as classes:
        compile_classes(classes)
        subprocess.run(["jar", "cf", JAR, "-C", classes, "."], check=True)


if __name__ == "__main__":
    build()
    print(JAR)
