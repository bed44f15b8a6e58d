#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft and the harness from source.

    python3 perfbench/build.py            # prints the classes directory

Run from the repository root. Sources are the library (`src/main/scala`)
and the harness (`perfbench/scala`); both go through one `scalac` call
(the Scala 2.13 compiler that ships in the Spark jar directory build.sbt
names as its `unmanagedBase`), into `<build>/classes`. The
build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`.
A content hash of every source file stamps the output, so a checkout
builds once and rebuilds only when a source changes.

The JVM flags a run uses are read from `build.sbt` (`jvm_flags`), so a
benchmark JVM is configured like the forked `sbt runMain` JVM.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

LIB_SRC = "src/main/scala"
BENCH_SRC = "perfbench/scala"


class BuildError(Exception):
    pass


def build_dir() -> str:
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources() -> list:
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"{LIB_SRC}/ not found: run from a graft checkout root")
    files = sorted(glob.glob(f"{LIB_SRC}/**/*.scala", recursive=True)
                   + glob.glob(f"{BENCH_SRC}/**/*.scala", recursive=True))
    if not any(f.startswith(LIB_SRC) for f in files):
        raise BuildError(f"no Scala sources under {LIB_SRC}/")
    return files


def spark_jars() -> str:
    """The jar directory build.sbt compiles and runs against
    (`unmanagedBase := file("...")`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise BuildError("build.sbt: no unmanagedBase := file(...) found")
    return m.group(1)


def classpath(extra: str = "") -> str:
    cp = f"{spark_jars()}/*"
    return f"{extra}:{cp}" if extra else cp


def build(quiet: bool = True) -> str:
    """Compile when the source hash changed; return the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath()] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if not quiet:
        sys.stderr.write(r.stdout)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return out


_ENV_DEFAULT = re.compile(r'\$\{sys\.env\.getOrElse\("(\w+)",\s*"([^"]*)"\)\}')


def jvm_flags(env: dict) -> list:
    """The `javaOptions` of build.sbt: module opens plus every `-` flag,
    with `${sys.env.getOrElse("X", "d")}` resolved against `env`."""
    text = open("build.sbt").read()
    opens_block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    if not opens_block or "javaOptions" not in text:
        raise BuildError("build.sbt: javaOptions / jdk17AddOpens not found")
    flags = []
    for mod in re.findall(r'"([\w.]+/[\w.]+)"', opens_block.group(1)):
        flags += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    body = text[text.index("javaOptions"):]
    for lit in re.findall(r'(?m)^\s*s?"(-[^"\n]*(?:"[^"\n]*"[^"\n]*)*)"\s*,?\s*$', body):
        flags.append(_ENV_DEFAULT.sub(lambda m: env.get(m.group(1), m.group(2)), lit))
    if not any(f.startswith("-Xmx") for f in flags):
        raise BuildError("build.sbt: no -Xmx flag parsed from javaOptions")
    return flags


if __name__ == "__main__":
    try:
        print(build(quiet=False))
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
