#!/usr/bin/env python3
"""Write the benchmark's traced-run record, perfbench/results/trace_record.json.

    python3 perfbench/record.py [--runs 3] [--seconds 10] [--ladder 1,2,4,8]
                                [--ladder-seconds 30]

Run from the repository root. For each workload it makes --runs untraced
and --runs traced runs (seeds 1..runs), and records the per-layer metrics
(medians over the traced runs), the executions, jobs and execution time
of each issuing graft function (from the first traced run), and the
tracing overhead: traced minus untraced median of each end-to-end metric.
Two diagnostics follow, both traced: ingest-trickle on local[1], the
single-threaded baseline, and the rate ladder, ingest-trickle at each
--ladder rate for --ladder-seconds, which reports the highest rate whose
backlog does not grow (the top rate, a lower bound, when every step
passes). A ladder step runs longer than a timed run so that a growing
backlog has time to show as a latency trend. The ladder's answer moves in
whole steps, so it is not a gated metric.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def one(workload, seed, seconds, trace, extra=()):
    """One run through run.py; returns its full record."""
    with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(
            os.getcwd(), ".bench_build")) as f:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
               "--record", f.name, *extra]
        out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
        rec = json.load(open(f.name))
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"record: {workload} seed {seed} failed its output checks")
    rec["result"] = result
    return rec


def medians(dicts):
    keys = dicts[0].keys()
    return {k: metrics.median([d[k] for d in dicts]) for k in keys}


def sustainable(rec):
    """A ladder step's backlog does not grow when every file completes and
    the last third of the files waits no longer than 1.5x the first third."""
    lat = rec["latency_s"]
    if rec["completed"] < rec["files"] or len(lat) < 3:
        return False
    k = len(lat) // 3
    return metrics.median(lat[-k:]) <= 1.5 * metrics.median(lat[:k])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--ladder", default="1,2,4,8")
    ap.add_argument("--ladder-seconds", type=float, default=30)
    a = ap.parse_args()
    os.makedirs(os.path.join(os.getcwd(), ".bench_build"), exist_ok=True)
    out = {"machine": {"cores": os.cpu_count(),
                       "cpu": subprocess.run(["uname", "-m"], stdout=subprocess.PIPE,
                                             text=True).stdout.strip()},
           "seconds": a.seconds, "runs": a.runs, "ladder_seconds": a.ladder_seconds,
           "workloads": {}}
    for w in sorted(run.WORKLOADS):
        plain = [one(w, s, a.seconds, 0) for s in range(1, a.runs + 1)]
        traced = [one(w, s, a.seconds, 1) for s in range(1, a.runs + 1)]
        e_plain = medians([{k: v["value"] for k, v in r["result"]["metrics"].items()}
                           for r in plain])
        e_traced = medians([r["end_to_end"] for r in traced])
        out["workloads"][w] = {
            "end_to_end_untraced": e_plain,
            "end_to_end_traced": e_traced,
            "tracing_overhead": {k: e_traced[k] - e_plain[k] for k in e_plain},
            "per_layer": medians([r["metrics"] for r in traced]),
            "executions_by_function": traced[0]["executions_by_function"],
        }
        print(f"record: {w} done", file=sys.stderr)
    base = one("ingest-trickle", 1, a.seconds, 1, ["--cores", "1"])
    out["single_thread_baseline"] = {"workload": "ingest-trickle", "cores": 1,
                                     "end_to_end": base["end_to_end"],
                                     "per_layer": base["metrics"]}
    ladder = []
    for rate in [float(x) for x in a.ladder.split(",")]:
        rec = one("ingest-trickle", 1, a.ladder_seconds, 1, ["--rate", str(rate)])
        ladder.append({"rate_files_per_s": rate, "sustainable": sustainable(rec),
                       "files": rec["files"], "completed": rec["completed"],
                       "latency_p50_s": rec["end_to_end"]["latency_p50_s"],
                       "backlog_max_files": rec["backlog_max_files"],
                       "files_per_batch_p50": rec["metrics"]["filewatch.files_per_batch_p50"]})
        if not ladder[-1]["sustainable"]:
            break
    ok = [s["rate_files_per_s"] for s in ladder if s["sustainable"]]
    out["rate_ladder"] = {"steps": ladder, "highest_sustainable_files_per_s": max(ok, default=0)}
    path = os.path.join(HERE, "results", "trace_record.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(path)


if __name__ == "__main__":
    main()
