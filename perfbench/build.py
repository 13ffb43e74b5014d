#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, or the
jars next to the spark-submit on PATH). A digest of every source file is
kept next to the classes, so an unchanged tree is not compiled twice.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# The module opens Spark needs on JDK 17 when it is not started by
# spark-submit (the list in org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# the digest of the sources the classes were compiled from
STAMP = ".sources.sha256"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home:
        candidates = [Path(home)]
    else:
        # the install a spark-submit on PATH sits in, or the one it links into
        submits = [Path(d) / "spark-submit" for d in os.environ.get("PATH", "").split(os.pathsep)]
        candidates = [h for f in submits if f.is_file()
                      for h in (f.parent.parent, f.resolve().parent.parent)]
    for home in candidates:
        if (home / "jars").is_dir():
            return home / "jars"
    raise BuildError("no Spark jars directory: set SPARK_HOME or put Spark's "
                     "spark-submit on PATH")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources(root: Path = ROOT) -> list:
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}")
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not bench:
        raise BuildError(f"no benchmark sources under {root / 'perfbench/src'}")
    return program + bench


def digest(files: list, root: Path = ROOT) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(root: Path = ROOT) -> Path:
    """Compile if the sources changed since the last build; return the
    classes directory."""
    files = sources(root)
    stamp = digest(files, root)
    classes = root / ".bench_build" / "classes"
    stamp_file = classes / STAMP
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = root / ".bench_build" / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / STAMP).write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


def java_command(classes: Path, heap: str, tmpdir: Path) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: it is resident from the start, so the
    # timings do not depend on how far the collector grew it, and the
    # peak RSS above it is the off-heap, metaspace and code-cache memory
    # the program itself uses. No perf-data file: it would be written
    # outside the checkout.
    return [java(), "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
            "-XX:+AlwaysPreTouch", *opens, f"-Djava.io.tmpdir={tmpdir}",
            "-cp", f"{classes}:{spark_jars()}/*"]


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
