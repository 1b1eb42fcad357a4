"""Turns the harness's raw record of one run into metrics.

Times in the record are epoch microseconds (the benchmark's own spans) or
epoch milliseconds (Spark's job and stage events, Catalyst phase times);
everything here works in float milliseconds.

Span tree of a traced run:  run > pass > query > {build, write};
build > build jobs;  write > {Catalyst phases, exec jobs};  job > stages.
A span's self time is its duration minus the union of its children.
"""
import statistics

# A child span may start or end this far outside its parent before the
# accounting check flags it: Spark stamps events in whole milliseconds.
SLACK_MS = 2.0


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [s, e] intervals, clipped to [lo, hi]."""
    spans = sorted((max(s, lo) if lo is not None else s,
                    min(e, hi) if hi is not None else e) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def escaped_ms(intervals, lo, hi):
    """How far child intervals reach outside their parent [lo, hi]."""
    return sum(max(0.0, lo - s) + max(0.0, e - hi) for s, e in intervals)


def ms(us_pair):
    return us_pair[0] / 1000.0, us_pair[1] / 1000.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """Untraced metrics of one run: {name: (value, samples)}."""
    first = [p for p in raw["passes"] if p["kind"] == "first"]
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    walls = [(p["end"] - p["start"]) / 1e6 for p in timed]
    queries = [(q["write"][1] - q["build"][0]) / 1000.0
               for p in timed for q in p["queries"]]
    return {
        "setup_s": ((raw["session_ready_us"] / 1000.0 - raw["jvm_start_ms"])
                    / 1000.0, 1),
        "first_pass_s": ((first[0]["end"] - first[0]["start"]) / 1e6, 1),
        "pass_s": (median(walls), len(walls)),
        "query_p50_ms": (median(queries), len(queries)),
        "peak_mem_mb": (raw["peak_after_gc_bytes"] / 2**20, raw["gcs"]),
    }


def _query_rows(raw, pass_idx):
    """Per-query build / plan / exec split of one pass, from the trace."""
    tr = raw["trace"]
    pass_no = pass_idx + 1
    prefix = f"p{pass_no}/"
    jobs = [j for j in tr["jobs"] if (j["span"] or "").startswith(prefix)]
    stages = {}
    for s in tr["stages"]:
        stages.setdefault(s["id"], []).append(s)
    rows = []
    for q in raw["passes"][pass_idx]["queries"]:
        b0, b1 = ms(q["build"])
        w0, w1 = ms(q["write"])
        bjobs = [j for j in jobs if j["span"] == q["span"] + "/build"]
        wjobs = [j for j in jobs if j["span"] == q["span"] + "/write"]
        qes = [x for x in tr["qes"] if x["phases"] and
               w0 - SLACK_MS <= min(v[0] for v in x["phases"].values()) <= w1]
        plan_iv = [tuple(v) for x in qes for v in x["phases"].values()]
        job_iv = [(j["start_ms"], j["end_ms"]) for j in wjobs]
        bjob_iv = [(j["start_ms"], j["end_ms"]) for j in bjobs]
        stage_recs = []
        seen = set()
        for j in wjobs:
            for sid in j["stages"]:
                if sid not in seen:
                    seen.add(sid)
                    stage_recs += stages.get(sid, [])
        stage_iv = [(s["submit_ms"], s["end_ms"]) for s in stage_recs
                    if s["submit_ms"] >= 0 and s["end_ms"] >= 0]
        plan = union_ms(plan_iv, w0, w1)
        exe = union_ms(job_iv, w0, w1)
        covered = union_ms(plan_iv + job_iv, w0, w1)
        phase = lambda name: sum(v[1] - v[0] for x in qes
                                 for k, v in x["phases"].items() if k == name)
        rows.append({
            "key": q["key"], "error": q["error"],
            "wall_ms": w1 - b0, "build_ms": b1 - b0,
            "build_self_ms": (b1 - b0) - union_ms(bjob_iv, b0, b1),
            "build_jobs": len(bjobs),
            "plan_ms": plan,
            "plan_optimization_ms": phase("optimization"),
            "plan_planning_ms": phase("planning"),
            "exec_ms": exe,
            "exec_job_self_ms": exe - union_ms(stage_iv, w0, w1),
            "exec_jobs": len(wjobs),
            "exec_stages": len(stage_recs),
            "exec_tasks": sum(s["tasks"] for s in stage_recs),
            "unattributed_ms": (w1 - w0) - covered,
            # plan and exec spans that overlap, or escape their parent,
            # would let the split double-count or hide time
            "overlap_ms": plan + exe - covered,
            "escaped_ms": escaped_ms(plan_iv + job_iv, w0, w1)
            + escaped_ms(bjob_iv, b0, b1),
            "stages": stage_recs,
        })
    return rows


def per_layer(raw):
    """Traced metrics of one run: ({name: value}, diagnostics).

    Sums are per pass, reported as the median over the timed passes."""
    cores = raw["cores"]
    timed = [i for i, p in enumerate(raw["passes"]) if p["kind"] == "timed"]
    per_pass, query_rows = [], []
    for i in timed:
        rows = _query_rows(raw, i)
        query_rows += [{k: v for k, v in r.items() if k != "stages"}
                       for r in rows]
        stg = [s for r in rows for s in r["stages"]]
        tot = lambda f: sum(r[f] for r in rows)
        sst = lambda f: sum(s[f] for s in stg)
        p = raw["passes"][i]
        wall = (p["end"] - p["start"]) / 1000.0
        exec_ms = tot("exec_ms")
        tasks = sst("tasks")
        scan = [s for s in stg if s["input_records"] > 0]
        per_pass.append({
            "trace.pass_ms": wall,
            "jvm.gc_ms": p["gc_ms"],
            "host.steal_ms": p["steal_ms"],
            "build.ms": tot("build_ms"),
            "build.self_ms": tot("build_self_ms"),
            "build.jobs": tot("build_jobs"),
            "build.share": tot("build_ms") / wall if wall else 0.0,
            "plan.optimization_ms": tot("plan_optimization_ms"),
            "plan.planning_ms": tot("plan_planning_ms"),
            "exec.ms": exec_ms,
            "exec.job_self_ms": tot("exec_job_self_ms"),
            "exec.jobs": tot("exec_jobs"),
            "exec.stages": tot("exec_stages"),
            "exec.tasks": tasks,
            "exec.cpu_ms": sst("cpu_ns") / 1e6,
            "exec.run_ms": sst("run_ms"),
            "exec.cpu_util": (sst("cpu_ns") / 1e6) / (exec_ms * cores)
            if exec_ms else 0.0,
            "exec.idle_core_ms": exec_ms * cores - sst("run_ms"),
            "exec.scan_tasks_nonempty": sst("input_tasks"),
            "exec.max_task_share": sum(s["max_task_input"] for s in scan)
            / sum(s["input_records"] for s in scan) if scan else 0.0,
            "exec.shuffle_write_bytes": sst("shuffle_write_bytes"),
            "exec.shuffle_read_bytes": sst("shuffle_read_bytes"),
            "exec.spill_bytes": sst("spill_bytes"),
            "exec.empty_task_ratio": sst("empty_tasks") / tasks if tasks else 0.0,
            "unattributed_ms": tot("unattributed_ms"),
        })
    metrics = {name: median([pp[name] for pp in per_pass])
               for name in per_pass[0]} if per_pass else {}
    first = next(p for p in raw["passes"] if p["kind"] == "first")
    metrics["setup.session_ms"] = (raw["session_ready_us"]
                                   - raw["session_start_us"]) / 1000.0
    metrics["jvm.jit_ms"] = first["jit_ms"]
    for probe in ("cpu_spin_ms", "par_spin_ms"):
        metrics[f"host.{probe}"] = median(raw["host"][probe])
    bad = [r for r in query_rows
           if r["overlap_ms"] > SLACK_MS or r["escaped_ms"] > SLACK_MS]
    diag = {"queries": query_rows, "accounting_violations": len(bad),
            "host": raw["host"]}
    return metrics, diag

