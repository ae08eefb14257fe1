#!/usr/bin/env python3
"""Benchmark of the XML -> Parquet job and the query panel.

  python3 perfbench/run.py --workload xml_worklist --seed 1 --seconds 3 --trace 0

Builds the program from source (build.py, cached), generates the seeded
inputs, runs the workload in one JVM at local[nproc], checks every output
and prints the workload's report line, then as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, and the spans go to a trace file next to the saved result.

Workloads (see BENCHMARK.json for why each exists):
  xml_worklist  one XmlToParquetJob.convert over one-document files and
                zip / tar.gz archives, file info on (the CLI's -t path)
  xml_bulk      one convert over 2 x nproc multi-document files holding a
                seeded fifth of the orders, with an XPath include, then a
                fixed read-back query
  query_panel   14 of the 20 pinned panel queries, fully evaluated and
                checked

--drop-lineitem generates the XML inputs with one line item missing; the
oracle must then fail the run (a check of the check). --record-panel
records the panel's row counts and hashes into panel_expected.json.

Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, else .bench_build): classes, corpus, Spark scratch,
and results/ with the full result and trace of each run. The test data
directory is $PERFBENCH_DATA (default ~/testdata).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gencorpus  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("xml_worklist", "xml_bulk", "query_panel")
# the XML corpus comes from sf0.1; the panel runs on sf0.01
XML_SF = "sf0.1"
PANEL_SF = "sf0.01"
JVM_TIMEOUT_S = 170


def heap():
    """The test tier's heap rule: half the host memory, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def jvm_flags(heap_g, work):
    """The program's own JVM options (build.sbt javaOptions), with the
    heap from heap() and every scratch path under `work`."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = []
    for p in opens:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap_g}g", f"-Xms{heap_g}g",
        "-XX:+UseParallelGC", "-Xmn2g", "-XX:ParallelGCThreads=8",
        "-XX:MetaspaceSize=512m", "-XX:+UseCountedLoopSafepoints",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        f"-Dgraft.scratch.dir={work}/scratch",
        f"-Djava.io.tmpdir={work}/tmp",
    ]


def git_sha():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drop-lineitem", action="store_true")
    ap.add_argument("--record-panel", action="store_true")
    a = ap.parse_args()

    classes = build.build()
    spark_jars = f"{build.spark_home()}/jars/*"
    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    cpus = len(os.sched_getaffinity(0))
    bdir = build.build_dir()
    # a fixed path: archive paths end up in the converted file info
    work = bdir / f"work-{a.workload}"
    results = bdir / "results"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("scratch", "tmp", "spark-local"):
        (work / d).mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"

    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus),
                "--work", str(work), "--out", str(work / "result.json"),
                "--trace-out", str(results / f"{tag}.trace.json")]
        if a.workload == "query_panel":
            args += ["--sf-dir", f"{data}/{PANEL_SF}",
                     "--expected", str(BENCH / "panel_expected.json"),
                     "--record", "1" if a.record_panel else "0"]
        else:
            t0 = time.time()
            m = gencorpus.generate(f"{data}/{XML_SF}", a.workload, a.seed,
                                   str(work / "corpus"), files=2 * cpus,
                                   drop_lineitem=a.drop_lineitem)
            print(f"perfbench: corpus {m['docs']} docs, "
                  f"{m['xml_bytes'] / 1e6:.1f} MB XML in "
                  f"{len(m['inputs'])} inputs ({time.time() - t0:.1f} s)",
                  file=sys.stderr)
            args += ["--sf-dir", f"{data}/{XML_SF}",
                     "--corpus", str(work / "corpus"),
                     "--xsd", str(BENCH / "order.xsd")]
        heap_g = heap()
        cmd = (["java"] + jvm_flags(heap_g, work) +
               ["-cp", f"{classes}:{ROOT}/src/main/resources:{spark_jars}",
                "perfbench.PerfBench"] + args)
        env = dict(os.environ, GRAFT_SCRATCH_DIR=str(work / "scratch"),
                   SPARK_LOCAL_DIRS=str(work / "spark-local"))
        log = work / "jvm.log"
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    env=env, cwd=work,
                                    timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        shutil.copy(log, results / f"{tag}.log")
        if rc != 0:
            sys.stderr.write(log.read_text()[-6000:])
            raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
        res = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["stamp"].update(seed=a.seed, seconds=a.seconds, git_sha=git_sha(),
                        source_digest=classes.name.split("-", 1)[1],
                        heap_g=heap_g, drop_lineitem=a.drop_lineitem)
    (results / f"{tag}.json").write_text(json.dumps(res, indent=1) + "\n")
    if a.record_panel:
        path = BENCH / "panel_expected.json"
        rec = json.loads(path.read_text()) if path.exists() else {}
        rec[PANEL_SF] = res["recorded"]
        path.write_text(json.dumps(rec, indent=1, sort_keys=True) + "\n")
    report = " ".join(f"{k}={v['value']:.6g}{v['unit']}"
                      for k, v in res["report"].items())
    print(f"perfbench {a.workload} seed={a.seed}: {report}")
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
