#!/usr/bin/env python3
"""Print each traced call's Spark job spans and the driver gaps between them.

Usage, from the repository root:
    python3 tools/call_spans.py .bench_build/traces/<workload>-seed<n>.json
        [--call <name>] [--skip <k>] [--summary]

The trace is the span file a traced benchmark run writes
(`python3 perfbench/run.py --workload index_serve --seed 1 --seconds 12
--trace 1`). Each call is a root span `ops.<name>` with one child span per
Spark job and one grandchild per stage. For every call this prints its wall
time, its job count, the union of its job spans ("job") and the rest
("driver": time on the driver outside any job), then one line per gap and
per job, each with its offset from the call's start:

    bm25_probe#5  452.3 ms  jobs 2  job 250.0 ms  driver 202.3 ms
            +0.0  driver    156.8 ms
          +156.8  job 30    223.0 ms  to +379.8  stage 39.0 (4 tasks, '...')
          +379.8  driver     40.0 ms
          ...

A stage's name is Spark's call-site name for it.

`--call` keeps the calls of one name, `--skip k` drops the first k calls of
each name (the set-up and warm-up calls), and `--summary` prints instead,
per call name, the medians of the call's time, job count, job time and
driver time, and for the i-th job of a call the median time from the call's
start to that job's end, and of the driver gap before it.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        spans = json.load(f)["spans"]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    calls = []
    for root in sorted(children[0], key=lambda s: s["start_ms"]):
        jobs = sorted(children[root["id"]], key=lambda s: s["start_ms"])
        calls.append((root, [(j, sorted(children[j["id"]], key=lambda s: s["start_ms"]))
                             for j in jobs]))
    return calls


def name_of(root):
    return root["name"][len("ops."):] if root["name"].startswith("ops.") else root["name"]


def segments(root, jobs):
    """(kind, start, end, job, stages) in call order: the driver gaps and the
    job spans, offsets in ms from the call's start. Overlapping jobs leave
    no gap between them."""
    t0 = root["start_ms"]
    out = []
    cursor = t0
    for job, stages in jobs:
        if job["start_ms"] > cursor:
            out.append(("driver", cursor - t0, job["start_ms"] - t0, None, None))
        out.append(("job", job["start_ms"] - t0, job["end_ms"] - t0, job, stages))
        cursor = max(cursor, job["end_ms"])
    if root["end_ms"] > cursor:
        out.append(("driver", cursor - t0, root["end_ms"] - t0, None, None))
    return out


def totals(root, jobs):
    segs = segments(root, jobs)
    wall = root["end_ms"] - root["start_ms"]
    driver = sum(e - s for kind, s, e, _, _ in segs if kind == "driver")
    return wall, len(jobs), wall - driver, driver


def print_call(root, jobs):
    wall, n, job_ms, driver = totals(root, jobs)
    err = root.get("attrs", {}).get("error")
    print(f"{root['op']}  {wall:.1f} ms  jobs {n}  job {job_ms:.1f} ms  "
          f"driver {driver:.1f} ms" + (f"  error {err}" if err else ""))
    for kind, s, e, job, stages in segments(root, jobs):
        if kind == "driver":
            print(f"  {'+' + format(s, '.1f'):>10}  driver {e - s:8.1f} ms")
            continue
        desc = ", ".join(
            f"{st['name'].split(' ', 1)[1]} ({st['attrs'].get('tasks', '?')} tasks, "
            f"{st['attrs'].get('name', '')!r})" for st in stages)
        print(f"  {'+' + format(s, '.1f'):>10}  {job['name']:<9}{e - s:6.1f} ms  "
              f"to +{e:.1f}  stage {desc}")


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def print_summary(calls):
    by_name = defaultdict(list)
    for root, jobs in calls:
        by_name[name_of(root)].append((root, jobs))
    for name, group in by_name.items():
        t = [totals(r, j) for r, j in group]
        print(f"{name}: {len(group)} calls, median {med([x[0] for x in t]):.1f} ms, "
              f"jobs {med([x[1] for x in t]):g}, job {med([x[2] for x in t]):.1f} ms, "
              f"driver {med([x[3] for x in t]):.1f} ms")
        # the i-th job of each call: its end, and the driver gap before it
        ends = defaultdict(list)
        gaps = defaultdict(list)
        for root, jobs in group:
            i = 0
            gap = 0.0
            for kind, s, e, _, _ in segments(root, jobs):
                if kind == "driver":
                    gap += e - s
                else:
                    ends[i].append(e)
                    gaps[i].append(gap)
                    gap = 0.0
                    i += 1
        for i in sorted(ends):
            print(f"  job {i + 1}: ends at +{med(ends[i]):.1f} ms, driver gap before it "
                  f"{med(gaps[i]):.1f} ms ({len(ends[i])} calls)")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--call", help="keep only the calls of this name, e.g. bm25_probe")
    ap.add_argument("--skip", type=int, default=0,
                    help="drop the first k calls of each name")
    ap.add_argument("--summary", action="store_true")
    args = ap.parse_args(argv)
    seen = defaultdict(int)
    calls = []
    for root, jobs in load(args.trace):
        name = name_of(root)
        seen[name] += 1
        if seen[name] <= args.skip or (args.call and name != args.call):
            continue
        calls.append((root, jobs))
    if args.summary:
        print_summary(calls)
    else:
        for root, jobs in calls:
            print_call(root, jobs)


if __name__ == "__main__":
    main(sys.argv[1:])
