#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into one class directory.

The output goes to $CARGO_TARGET_DIR (default .bench_build) under the
repository root, in a directory named after a hash of every source, so
an unchanged tree reuses its classes and a changed one rebuilds.

Usage: python3 perfbench/build.py     (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft").is_dir():
        raise BuildError(f"program sources not found under {program}")
    files = sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, res


def build():
    """Compile if needed; return the class directory."""
    files, res_root, res = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in files + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = build_dir() / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    for p in res:
        dst = tmp / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".complete").write_text("")
    try:
        tmp.rename(out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
