#!/usr/bin/env python3
"""Layered benchmark of graft's public query entry points.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the library and the harness from
source (perfbench/build.py), generates the input tables, runs one
benchmark JVM on local[nproc] (one closed-loop client, one query at a time)
and checks every key's output against its DuckDB oracle (perfbench/oracle.py,
the streaming compare of tools/check.py). Prints each metric by name, unit and sample count, then
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the run
also records Spark jobs, stages and Catalyst phases and reports the
per-layer ones. Raw spans and per-key rows go to .bench_build/results/.

The seed sets the order of the keys in every pass; the tables are fixed
(generated once per checkout from DATA_SEED).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

DATA_SEED = 42
JVM_TIMEOUT_S = 170

WORKLOADS = {
    # shuffle, hash-aggregate, join and window execution at sf0.1
    "olap": (0.1, [
        "agg_tpch_q1", "agg_sum_two_keys", "agg_count_distinct",
        "agg_dynamic_1h", "join_inner", "join_left_agg", "join_star",
        "join_asof_backward", "win_rank", "win_rolling_time", "topk_global"]),
    # per-row text / dedup / vector kernels fused into scan stages at sf0.1
    "curation": (0.1, [
        "explode_words", "text_quality", "text_langid", "text_fingerprint",
        "text_fuzzy_pairs", "text_token_stats", "dedup_near_pairs",
        "dedup_minhash_sig", "dedup_simhash", "sim_bruteforce_topk",
        "sim_lsh_pairs"]),
}

# {"end_to_end" | "per_layer": {metric: unit}}, as BENCHMARK.json lists them
with open(os.path.join(build.ROOT, "BENCHMARK.json")) as _f:
    UNITS = {kind: {m["name"]: m["unit"] for m in ms}
             for kind, ms in json.load(_f).items()
             if kind in ("end_to_end", "per_layer")}


def data_dir(sf):
    """The generated tables at scale factor sf (a new directory whenever
    the generator changes)."""
    with open(gen.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:10]
    return gen.generate(os.path.join(build.BUILD, "data", f"sf{sf}-{tag}"),
                        sf, DATA_SEED)


def prepare():
    """Build, generate the tables and cache the oracle's answer for every
    workload key; all of it is free after the first run in a checkout.
    Returns {key: oracle SQL}."""
    build.build()
    with open(build.ORACLE) as f:
        sql = json.load(f)
    for sf, keys in WORKLOADS.values():
        for key in keys:
            oracle.expected(sql[key], data_dir(sf))
    return sql


def run_jvm(keys, data, seed, seconds, trace, run_dir):
    """Run the harness JVM over `keys` on the tables in `data`; returns the
    raw record and the directory of the dumped outputs."""
    raw_path = os.path.join(run_dir, "raw.json")
    dump_dir = os.path.join(run_dir, "out")
    # the JVM's temporary files go to the run directory too: it halts
    # without deleting them
    cmd = build.java_cmd(
        "perfbench.Harness", "--data", data, "--keys", ",".join(keys),
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", raw_path,
        "--dump", dump_dir, "--work", run_dir,
        tmp=os.path.join(run_dir, "tmp"))
    # keep Spark's scratch space inside the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    subprocess.run(cmd, check=True, env=env, timeout=JVM_TIMEOUT_S,
                   stdout=sys.stderr)
    with open(raw_path) as f:
        return json.load(f), dump_dir


def score(raw, bad):
    """(attempted, failed): every query execution of the run, and those
    that threw plus one per key whose output the oracle rejected."""
    runs = [q for p in raw["passes"] for q in p["queries"]]
    return len(runs), sum(1 for q in runs if q["error"]) + len(bad)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sql = prepare()
    results = os.path.join(build.BUILD, "results")
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(results, exist_ok=True)
    sf, keys = WORKLOADS[a.workload]
    data = data_dir(sf)
    try:
        raw, dump_dir = run_jvm(keys, data, a.seed, a.seconds, a.trace,
                                run_dir)
        bad = oracle.failures(dump_dir, data, sql, keys)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    threw = [q for p in raw["passes"] for q in p["queries"] if q["error"]]
    attempted, failed = score(raw, bad)
    e2e = layers.end_to_end(raw)
    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "error_rate": failed / attempted, "oracle_failures": bad,
            "query_errors": [(q["key"], q["error"]) for q in threw],
            "end_to_end": e2e, "host": raw["host"]}

    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} "
          f"attempted={attempted} failed={failed} "
          f"error_rate={failed / attempted:.4f}")
    for k, msg in bad.items():
        print(f"# oracle mismatch: {msg}")
    for k, e in diag["query_errors"]:
        print(f"# query failed: {k}: {e}")
    if a.trace:
        values, tdiag = layers.per_layer(raw)
        diag.update(tdiag)
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in UNITS["per_layer"].items()}
        print(f"# accounting violations: {tdiag['accounting_violations']}")
        for n, m in metrics.items():
            print(f"{n:28s} {m['value']:>16.4f} {m['unit']}")
    else:
        metrics = {n: {"value": e2e[n][0], "unit": u}
                   for n, u in UNITS["end_to_end"].items()}
        for n, m in metrics.items():
            print(f"{n:28s} {m['value']:>16.4f} {m['unit']:6s} n={e2e[n][1]}")

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump({"metrics": metrics, "diagnostics": diag, "raw": raw}, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
