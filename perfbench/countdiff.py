#!/usr/bin/env python3
"""Compare the work counters of two traced benchmark results.

  python3 perfbench/countdiff.py BEFORE.trace.json AFTER.trace.json

Inputs are the trace files a `--trace 1` run leaves in
<build dir>/perfbench/results/. Compares exactly the counters that repeat
from run to run of the same code, workload and seed (job, stage, task,
record and row counts, scan fields, output and shuffle bytes), per
workload and, for the query panel, per query; and names every panel
query whose plan fingerprint changed. A saving shown here is a count,
not a speed-up. Exits 1 when anything differs, else 0.

On xml_worklist, `xml.output_bytes` also depends on the checkout's path:
the converted file info of an archive member holds the archive's path.
"""
import json
import sys

# counters that repeat exactly for the same code, workload and seed
EXACT = ("xml.jobs", "xml.scan_fields", "xml.records_read",
         "xml.records_written", "xml.output_bytes", "xml.output_files",
         "sources.members", "ops.stages", "ops.tasks", "ops.output_rows",
         "ops.shuffle_write_bytes", "ops.shuffle_read_bytes")
PER_QUERY = ("stages", "tasks", "output_rows", "shuffle_write_bytes",
             "shuffle_read_bytes")


def load(path):
    with open(path) as f:
        return json.load(f)


def diff(a, b):
    """Lines describing every difference between traces `a` and `b`."""
    out = []
    if a.get("workload") != b.get("workload"):
        out.append(f"workload: {a.get('workload')} != {b.get('workload')}")
        return out
    am, bm = a["metrics"], b["metrics"]
    for k in EXACT:
        va = am.get(k, {}).get("value")
        vb = bm.get(k, {}).get("value")
        if va != vb:
            out.append(f"{k}: {va} -> {vb}")
    qa = a.get("detail", {}).get("queries", {})
    qb = b.get("detail", {}).get("queries", {})
    for q in sorted(set(qa) | set(qb)):
        if q not in qa or q not in qb:
            out.append(f"{q}: only in {'after' if q in qb else 'before'}")
            continue
        for k in PER_QUERY:
            if qa[q].get(k) != qb[q].get(k):
                out.append(f"{q}.{k}: {qa[q].get(k)} -> {qb[q].get(k)}")
        if qa[q].get("plan_fingerprint") != qb[q].get("plan_fingerprint"):
            out.append(f"{q}: plan changed ({qa[q].get('plan_fingerprint')}"
                       f" -> {qb[q].get('plan_fingerprint')})")
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    lines = diff(load(argv[1]), load(argv[2]))
    print("\n".join(lines) if lines else "counters and plans identical")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
