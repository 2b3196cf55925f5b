#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores N] [--rate R] [--record FILE]

Run from the repository root. The first run builds: it compiles the program
and the benchmark's JVM side (build.py), then saves each workload's
class-data-sharing archive in one short untimed run (build_archives). Each
run then writes its seeded inputs
under .bench_build/runs/, starts one JVM that sets up a Spark session
(several times, timing each), runs the workload for --seconds, and checks
the program's outputs; this script computes the metrics from the JVM's
record and prints {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the Spark listeners are attached and the metrics are the
per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170  # every run must end within 180 s
SETUPS = 2  # set-ups per run; setup_s is their median

# the query half of analytics-mix: planning- and scheduling-bound queries
# from the relational, bloom-gate, language-model and vector families
QUERIES = ["q01_pricing_summary", "q06_anti_join", "q84_bloom_pruned_join",
           "q130_bigram_lm_score", "q121_embedding_dim_health"]

# workload parameters (see README.md for why each workload exists)
WORKLOADS = {
    "ingest-trickle": {"rate": 1.0, "rows": 500, "drain": 60},
    "analytics-mix": {"sf": 0.01, "docs": 1000, "vecs": 1000, "docs_per_slice": 250,
                      "slices": 16, "forget_frac": 0.01},
}


def benchmark_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def make_inputs(workload, p, seed, seconds, inp, setups=SETUPS):
    """Write the run's inputs; returns the ground truth the checks need."""
    if workload == "ingest-trickle":
        os.makedirs(os.path.join(inp, "schema"), exist_ok=True)
        with open(os.path.join(inp, "schema", gen.STEM + ".json"), "w") as f:
            f.write(gen.schema_json())
        for r in range(setups):
            gen.write_sensor_files(os.path.join(inp, f"warm{r}"), seed + 1000 + r, 2,
                                   p["rows"])
        n = max(2, int(round(p["rate"] * seconds)))
        return gen.write_sensor_files(os.path.join(inp, "trickle"), seed, n,
                                      p["rows"], rate=p["rate"])
    gen.write_state_docs(os.path.join(inp, "docs.parquet"), seed + 1,
                         p["docs_per_slice"], p["slices"])
    return gen.write_tables(os.path.join(inp, "tables"), seed, p["sf"], p["docs"], p["vecs"])


def ingest_check(rec, truth):
    """Sink counts against the generator's ground truth over the files the
    run released (a file not processed by the end of the drain is failed)."""
    released = truth["files"][:rec["files"]]
    done = set(rec["processed_names"])
    exp = {"files": 0, "rows": 0, "good": 0, "bad": 0}
    for f in released:
        if f["name"] in done:
            exp["files"] += 1
            exp["rows"] += f["rows"]
            exp["bad"] += f["bad"]
            exp["good"] += f["rows"] - f["bad"]
    c = rec["check"]
    got = {"files": c["audited_files"], "rows": c["audit_total"],
           "good": c["audit_good"], "bad": c["audit_bad"]}
    problems = [f"{k}: audit {got[k]} != expected {exp[k]}" for k in exp if got[k] != exp[k]]
    if c["fact_rows"] != exp["good"]:
        problems.append(f"fact rows {c['fact_rows']} != {exp['good']}")
    if c["quarantine_rows"] != exp["bad"]:
        problems.append(f"quarantine rows {c['quarantine_rows']} != {exp['bad']}")
    if c["processed_files"] != exp["files"]:
        problems.append(f"processed files {c['processed_files']} != {exp['files']}")
    if c["audit_failure_rows"]:
        problems.append(f"{c['audit_failure_rows']} FAILURE audit rows")
    return problems


def query_check(root, tables, check_dir):
    """Every query's result against its DuckDB oracle, compared the way
    tools/check.py compares (its canon and frame_hash, imported read-only)."""
    import glob
    import importlib.util
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("graft_check",
                                                  os.path.join(root, "tools", "check.py"))
    chk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(chk)
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(check_dir, 'duckdb_tmp')}'")
    for t in chk.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            pq = glob.glob(os.path.join(check_dir, name, "*.parquet"))
            got = chk.canon(pd.concat([pd.read_parquet(p) for p in pq], ignore_index=True))
            exp = chk.canon(con.sql(sql).df())
            if list(got.columns) != list(exp.columns) or len(got) != len(exp) \
                    or chk.frame_hash(got) != chk.frame_hash(exp):
                problems.append(f"{name}: result differs from its oracle")
        except Exception as e:  # a crash is a failed check, not a pass
            problems.append(f"{name}: {type(e).__name__}: {e}")
    return problems, len(oracle)


def state_check(rec):
    c = rec["check"]
    problems = []
    if c["vocab_diff"] or c["bigram_diff"]:
        problems.append(f"served state differs from the recount: vocab {c['vocab_diff']} "
                        f"rows, bigrams {c['bigram_diff']} rows")
    if not c["forgotten_docs"] or not c["vocab_rows"] or not c["bigram_rows"]:
        problems.append(f"degenerate state check: {c}")
    return problems


def jvm_command(jar, jars, run_dir, archive, dump=False):
    """The JVM of one run. It maps the workload's class-data-sharing archive
    (the classes a run loads, saved once per build by `build_archives`), so
    every timed run starts the same way; `dump` writes that archive instead."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           (f"-XX:ArchiveClassesAtExit={archive}" if dump
            else f"-XX:SharedArchiveFile={archive}"), "-Xlog:cds=off"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]


def archive_path(root, workload):
    return os.path.join(root, build.BUILD_DIR, f"{workload}.jsa")


def run_jvm(root, jar, jars, workload, p, seed, seconds, trace, cores, run_dir, deadline,
            setups=SETUPS, dump=False):
    """Write the run's inputs and run the JVM on them; returns (record,
    ground truth, record path). `deadline` is a time.monotonic() value."""
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(work)
    truth = make_inputs(workload, p, seed, seconds, inp, setups)
    out = os.path.join(run_dir, "record.json")
    kv = {"workload": workload, "input": inp, "work": work, "out": out,
          "seconds": seconds, "cores": cores, "seed": seed, "trace": trace,
          "setups": setups, "queries": ",".join(QUERIES), **p}
    cmd = jvm_command(jar, jars, run_dir, archive_path(root, workload), dump) + \
        [f"{k}={v}" for k, v in kv.items()]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: the JVM did not finish in time (log: {log_path})")
        finally:  # also when this script is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: the JVM failed (exit {rc}):\n{tail}")
    with open(out) as f:
        return json.load(f), truth, out


def build_archives(root, jar, jars, cores):
    """The build's last step: one short untimed run of each workload whose
    class-data-sharing archive is missing (build.py deletes them when a
    source changes), writing the archive as its JVM exits. One set-up
    loads the classes later set-ups load."""
    for w in sorted(WORKLOADS):
        archive = archive_path(root, w)
        if os.path.exists(archive):
            continue
        print(f"perfbench: saving the class-data archive of {w}", file=sys.stderr)
        run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"archive-{w}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_jvm(root, jar, jars, w, dict(WORKLOADS[w]), 0, 1, 0, cores, run_dir,
                    time.monotonic() + 600, setups=1, dump=True)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if not os.path.exists(archive):
            raise SystemExit(f"perfbench: the JVM wrote no class-data archive {archive}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--rate", type=float, help="ingest-trickle files/s")
    ap.add_argument("--record", help="also write the full run record (JSON) here")
    a = ap.parse_args(argv)
    # terminated: unwind, so the JVM is stopped and the run's files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    spec = benchmark_spec()
    jar, jars = build.build(root)
    build_archives(root, jar, jars, a.cores)

    t_start = time.monotonic()
    p = dict(WORKLOADS[a.workload])
    if a.rate:
        p["rate"] = a.rate
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        rec, truth, out = run_jvm(root, jar, jars, a.workload, p, a.seed, a.seconds,
                                  a.trace, a.cores, run_dir, t_start + DEADLINE_S)
        t_jvm = time.monotonic()

        m, attempted, failed = metrics.end_to_end(a.workload, rec)
        if a.workload == "ingest-trickle":
            problems = ingest_check(rec, truth)
        else:
            problems, n = query_check(root, os.path.join(run_dir, "input", "tables"),
                                      rec["check_dir"])
            if n != len(QUERIES):
                problems.append(f"{n} oracles for {len(QUERIES)} queries")
            problems += state_check(rec)
        for msg in problems:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)

        if a.trace:
            names = [x["name"] for x in spec["per_layer"]]
            with open(out + ".trace") as f:
                events = [json.loads(line) for line in f if line.strip()]
            values, by_func = metrics.per_layer(a.workload, rec, events, names, QUERIES)
            units = {x["name"]: x["unit"] for x in spec["per_layer"]}
            rec["executions_by_function"] = by_func
            rec["end_to_end"] = m
        else:
            values = m
            units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        if a.record:
            rec["metrics"] = values
            rec["wall_s"] = {"inputs_and_jvm": t_jvm - t_start,
                             "checks": time.monotonic() - t_jvm}
            with open(a.record, "w") as f:
                json.dump(rec, f, indent=1, sort_keys=True)
        result = {"correct": not problems, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
