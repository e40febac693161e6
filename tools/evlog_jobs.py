#!/usr/bin/env python3
"""Job census of a Spark event log: jobs, their durations and the
driver gaps between them, per SQL execution and per operation.

Usage: zstd -dc <eventlog dir>/events_1_* | python3 tools/evlog_jobs.py

Each job is labelled with the description of the SQL execution it ran
under (`spark.sql.execution.id` -> SparkListenerSQLExecutionStart); a job
outside any execution (Spark's parquet footer read, for one) reads
"(no SQL execution)". An operation ends with its first
`collect at Workloads.scala` execution, the call lakebench ends every
operation with; a log from another driver prints as one operation.

Per operation: job count, wall time from the first job's submission to
the last job's end, time inside jobs (the union of their intervals) and
time between jobs. Then one line per SQL execution label in order:
job count and time inside its jobs.
"""
import json
import re
import sys

OP_END = re.compile(r"collect at Workloads\.scala")


def busy(spans):
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total / 1000


def main():
    jobs, execs = {}, {}
    for line in sys.stdin:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"],
                                 props.get("spark.sql.execution.id")]
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif ev.endswith("SQLExecutionStart"):
            lines = [s for s in e["description"].split("\n") if s.strip()]
            execs[str(e["executionId"])] = lines[0] if lines else ""

    ops, op = [], []
    for jid in sorted(jobs):
        t0, t1, x = jobs[jid]
        label = execs.get(x, "") if x else "(no SQL execution)"
        op.append((t0, t1, label))
        last_of_exec = jobs.get(jid + 1, [0, 0, None])[2] != x
        if OP_END.match(label) and last_of_exec:
            ops.append(op)
            op = []
    if op:
        ops.append(op)

    for n, op in enumerate(ops, 1):
        spans = [(a, b) for a, b, _ in op]
        wall = (max(b for _, b in spans) - min(a for a, _ in spans)) / 1000
        inside = busy(spans)
        print(f"op {n}: {len(op)} jobs, {wall:.3f} s wall, "
              f"{inside:.3f} s in jobs, {wall - inside:.3f} s between jobs")
        labels = list(dict.fromkeys(label for *_, label in op))
        for label in labels:
            sel = [(a, b) for a, b, lab in op if lab == label]
            print(f"    {len(sel):3d} jobs {busy(sel):7.3f} s  {label}")


if __name__ == "__main__":
    main()
