#!/usr/bin/env python3
"""Build the program and the benchmark's JVM program from source.

Compiles the program's `src/main/scala` together with `perfbench/scala`
using the Scala compiler that ships in Spark's `jars/` directory, so no
build tool or network is needed. Classes land in
`<build dir>/perfbench/classes-<digest>`, keyed by a digest of every
source, so an unchanged tree is compiled once. The build directory is
`$CARGO_TARGET_DIR` when set, else `.bench_build`, relative to the
repository root.

Usage: build.py        (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return home


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: program sources not found under {ROOT}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").glob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return the classes directory."""
    srcs = sources()
    out = build_dir() / f"classes-{digest(srcs)}"
    if (out / ".ok").exists():
        return out
    for old in build_dir().glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    args = build_dir() / "scalac.args"
    args.write_text("\n".join(str(s) for s in srcs) + "\n")
    jars = f"{spark_home()}/jars/*"
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", jars, f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compile failed")
    (out / ".ok").write_text("")
    return out


if __name__ == "__main__":
    print(build())
