#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala at the checkout root) together with the
benchmark harness (perfbench/src/main/scala) using the Scala compiler that
ships in the Spark distribution, into <build dir>/classes. The build dir is
$CARGO_TARGET_DIR when set, else .bench_build at the checkout root. A build is
skipped when the sources have not changed since the last one.

    python3 perfbench/build.py           # build (or confirm up to date)
    python3 perfbench/build.py --test    # build, then compile and run the
                                         # harness's unit tests (ScalaTest
                                         # jars from the local coursier cache)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: SPARK_HOME is not set and spark-submit is not on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among the Spark jars in {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def scala_sources(*dirs: Path) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        out += sorted(Path(p) for p in glob.glob(str(d / "**" / "*.scala"), recursive=True))
    return out


def compile_to(dest: Path, sources: list, classpath: str) -> None:
    """scalac into a fresh temp dir, then swap it in, so an interrupted
    build never leaves a half-written class tree behind."""
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(dest.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, f"@{argfile}"]
    proc = subprocess.run(cmd)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def ensure_built() -> str:
    """Build if needed; returns the runtime classpath."""
    jars = spark_jars()
    sources = scala_sources(ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala")
    h = hashlib.sha256()
    for s in sources + [Path(__file__)]:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    h.update(",".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = build_dir()
    classes, stamp = out / "classes", out / "classes.stamp"
    if not (classes.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest()):
        out.mkdir(parents=True, exist_ok=True)
        print(f"[perfbench] compiling {len(sources)} sources into {classes}", file=sys.stderr)
        compile_to(classes, sources, f"{jars}/*")
        stamp.write_text(h.hexdigest())
    return f"{classes}{os.pathsep}{jars}/*"


def test_jars() -> list:
    cache = Path.home() / ".cache" / "coursier"
    want = ["scalatest*_2.13-3.2.19.jar", "scalactic_2.13-3.2.19.jar",
            "scalatest-compatible-3.2.19.jar", "scala-xml_2.13-*.jar"]
    found = []
    for pat in want:
        hits = sorted(glob.glob(str(cache / "**" / pat), recursive=True))
        found += [h for h in hits if not h.endswith(("-sources.jar", "-javadoc.jar"))]
    if not found:
        raise SystemExit(f"build: ScalaTest jars not found under {cache}")
    return found


def run_tests(classpath: str) -> int:
    cp = os.pathsep.join([classpath] + test_jars())
    dest = build_dir() / "test-classes"
    compile_to(dest, scala_sources(BENCH / "src" / "test" / "scala"), cp)
    tmp = build_dir() / "test-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java(), "-Xmx2g", f"-Djava.io.tmpdir={tmp}"] + JVM_OPENS + [
        "-cp", f"{dest}{os.pathsep}{cp}", "org.scalatest.tools.Runner",
        "-oD", "-R", str(dest)]
    return subprocess.run(cmd, cwd=build_dir()).returncode


# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
JVM_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


if __name__ == "__main__":
    cp = ensure_built()
    if "--test" in sys.argv[1:]:
        sys.exit(run_tests(cp))
