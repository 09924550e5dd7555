"""Per-layer metrics, spans and the layer summary of a traced harness run.

The harness records, for each traced pass, the driver-side query spans
(`queries.build`, `queries.action`) and, from Spark listeners, the jobs
(tagged with the span open on the driver thread when they were submitted),
their stages with summed task metrics, RDD block writes, and the Catalyst
phase times of each action. This module turns that record into:

  * per-layer metrics: for each traced warm pass a total, then the median
    over those passes;
  * spans: query > queries.build / queries.action > job > stage, plus
    catalyst.<phase> spans under the query that was running;
  * a summary: self time per layer, the dominant layer of each query and of
    each family (the object that defines the query), and the tracing
    overhead (traced minus untraced warm pass time).
"""
import json
import statistics

MB = 1048576.0
FAMILIES = ("StatQueries", "SeqQueries", "MultiQueries", "TextQueries", "MmQueries",
            "DriftQueries", "SpcQueries", "DiagQueries", "R9Queries", "R10Queries",
            "R11Queries", "R12Queries", "R13Queries")
LAYERS = ("driver_gap", "catalyst", "codegen", "build_jobs", "executor", "shuffle")


def union_s(intervals):
    """Length in seconds of the union of [start_ms, end_ms] intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(i for i in intervals if i[1] >= i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def _index(res):
    """Jobs and stages of the trace, keyed by (pass, query, phase)."""
    tr = res["trace"]
    jobs = {}
    for j in tr["jobs"]:
        parts = j["span"].split("\t")
        if len(parts) == 3:
            j["key"] = (int(parts[0]), parts[1], parts[2])
            jobs[j["id"]] = j
    stages_by_job = {}
    for s in tr["stages"]:
        if s["job"] in jobs:
            stages_by_job.setdefault(s["job"], []).append(s)
    return jobs, stages_by_job


def _in(t, a, b):
    return a <= t <= b


def query_layers(res):
    """Per traced pass and query: wall, driver-side and Spark-side seconds."""
    cpus = res["cpus"]
    jobs, stages_by_job = _index(res)
    tr = res["trace"]
    out = {}
    for p in res["passes"]:
        if not p["traced"]:
            continue
        for q in p["queries"]:
            k = (p["pass"], q["name"])
            js = [j for j in jobs.values() if j["key"][:2] == k]
            ss = [s for j in js for s in stages_by_job.get(j["id"], [])]
            build_jobs = [j for j in js if j["key"][2] == "build"]
            cat = [c for c in tr["catalyst"]
                   if any(_in(ph[0], q["start_ms"], q["end_ms"]) for ph in c["phases"].values())]
            wall = q["build_s"] + q["action_s"]
            out[k] = {
                "family": q["family"],
                "wall": wall,
                "jobs": len(js),
                "build_jobs": len(build_jobs),
                "job_s": union_s([(j["start"], j["end"]) for j in js]),
                "build_job_s": union_s([(j["start"], j["end"]) for j in build_jobs]),
                "catalyst": {ph: sum(c["phases"][ph][1] - c["phases"][ph][0]
                                     for c in cat if ph in c["phases"]) / 1000.0
                             for ph in ("analysis", "optimization", "planning")},
                "codegen": q["compile_ms_est"] / 1000.0,
                "task_s": sum(s["run_ms"] for s in ss) / 1000.0,
                "shuffle_s": sum(s["fetch_wait_ms"] + s["shuffle_write_ns"] / 1e6
                                 for s in ss) / 1000.0,
                "cpus": cpus,
            }
    return out


def dominant(l):
    """Largest of the six layer shares of one query's (or family's) time."""
    shares = {
        "driver_gap": max(0.0, l["wall"] - l["job_s"]),
        "catalyst": sum(l["catalyst"].values()),
        "codegen": l["codegen"],
        "build_jobs": l["build_job_s"],
        "executor": l["task_s"] / l["cpus"],
        "shuffle": l["shuffle_s"] / l["cpus"],
    }
    return max(LAYERS, key=lambda k: shares[k]), shares


def per_layer(res, queries):
    """(metrics, summary) of a traced run."""
    cpus = res["cpus"]
    jobs, stages_by_job = _index(res)
    tr = res["trace"]
    ql = query_layers(res)
    traced_warm = [p for p in res["passes"] if p["traced"] and p["pass"] > 0]
    untraced_warm = [p for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    per_pass = []
    for p in traced_warm:
        pn, a, b = p["pass"], p["start_ms"], p["end_ms"]
        js = [j for j in jobs.values() if j["key"][0] == pn]
        ss = [s for j in js for s in stages_by_job.get(j["id"], [])]
        cat = [c for c in tr["catalyst"]
               if any(_in(ph[0], a, b) for ph in c["phases"].values())]
        task_s = sum(s["run_ms"] for s in ss) / 1000.0
        m = {
            "sched.driver_gap_s": p["wall_s"] - union_s([(j["start"], j["end"]) for j in js]),
            "catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
            "catalyst.planning_ms": 0.0,
            "catalyst.actions": len(cat),
            "codegen.compiles": sum(q["compiles"] for q in p["queries"]),
            "codegen.compile_ms_est": sum(q["compile_ms_est"] for q in p["queries"]),
            "queries.build_s": sum(q["build_s"] for q in p["queries"]),
            "queries.build_jobs": sum(1 for j in js if j["key"][2] == "build"),
            "storage.block_mb": sum(b_ for t, b_ in tr["blocks"] if _in(t, a, b)) / MB,
            "queries.action_s": sum(q["action_s"] for q in p["queries"]),
            "exec.task_s": task_s,
            "exec.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
            "exec.gc_s": sum(s["gc_ms"] for s in ss) / 1000.0,
            "exec.busy_share": task_s / (p["wall_s"] * cpus),
            "jvm.cpu_s": p["cpu_s"],
            "jvm.jit_ms": p["jit_ms"],
            "jvm.gc_ms": p["gc_ms"],
            "exec.input_rows": sum(s["input_rows"] for s in ss),
            "exec.result_mb": sum(s["result"] for s in ss) / MB,
            "exec.failed_tasks": sum(s["failed_tasks"] for s in ss),
            "shuffle.write_mb": sum(s["shuffle_write"] for s in ss) / MB,
            "shuffle.read_mb": sum(s["shuffle_read"] for s in ss) / MB,
            "shuffle.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in ss),
            "shuffle.spill_mb": sum(s["spill"] for s in ss) / MB,
            "sched.jobs": len(js),
            "sched.stages": len(ss),
            "sched.tasks": sum(s["tasks"] for s in ss),
            "sched.task_delay_ms": sum(s["delay_ms"] for s in ss),
            "storage.rdds_left": sum(q["rdds_left"] + q["cached_left"] for q in p["queries"]),
        }
        for c in cat:
            for ph in ("analysis", "optimization", "planning"):
                if ph in c["phases"]:
                    m[f"catalyst.{ph}_ms"] += c["phases"][ph][1] - c["phases"][ph][0]
        for f in FAMILIES:
            m[f"family.{f}.s"] = sum(q["build_s"] + q["action_s"]
                                     for q in p["queries"] if q["family"] == f)
        per_pass.append(m)
    traced_s = statistics.median(p["wall_s"] for p in traced_warm)
    untraced_s = statistics.median(p["wall_s"] for p in untraced_warm)
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics["trace.overhead_s"] = traced_s - untraced_s
    units = {k: unit(k) for k in metrics}

    # summary: per query (median over traced warm passes) and per family
    by_q = {}
    for (pn, name), l in ql.items():
        if pn > 0:
            by_q.setdefault(name, []).append(l)
    q_rows, fam = {}, {}
    for name in queries:
        ls = by_q.get(name, [])
        if not ls:
            continue
        l = sorted(ls, key=lambda x: x["wall"])[len(ls) // 2]
        dom, shares = dominant(l)
        q_rows[name] = {"family": l["family"], "wall_s": l["wall"], "dominant": dom,
                        "layers_s": shares, "jobs": l["jobs"], "build_jobs": l["build_jobs"]}
        f = fam.setdefault(l["family"], {"wall": 0.0, "job_s": 0.0, "build_job_s": 0.0,
                                         "codegen": 0.0, "task_s": 0.0, "shuffle_s": 0.0,
                                         "catalyst": {}, "cpus": cpus})
        for k in ("wall", "job_s", "build_job_s", "codegen", "task_s", "shuffle_s"):
            f[k] += l[k]
        for ph, v in l["catalyst"].items():
            f["catalyst"][ph] = f["catalyst"].get(ph, 0.0) + v
    fam_rows = {}
    for f, l in fam.items():
        dom, shares = dominant(l)
        fam_rows[f] = {"wall_s": l["wall"], "dominant": dom, "layers_s": shares}
    summary = {
        "tracing_overhead_s": traced_s - untraced_s,
        "traced_pass_s": traced_s,
        "untraced_pass_s": untraced_s,
        "self_time_s": self_times(res, jobs, stages_by_job),
        "queries": q_rows,
        "families": fam_rows,
    }
    return {k: (v, units[k]) for k, v in metrics.items()}, summary


def unit(name):
    if name.endswith("_ms") or name.endswith("_ms_est"):
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def self_times(res, jobs, stages_by_job):
    """Median over traced warm passes of each span kind's self time."""
    per_pass = []
    for p in res["passes"]:
        if not p["traced"] or p["pass"] == 0:
            continue
        t = {"query": 0.0, "queries.build": 0.0, "queries.action": 0.0, "job": 0.0, "stage": 0.0}
        for q in p["queries"]:
            t["query"] += (q["end_ms"] - q["start_ms"]) / 1000.0 - q["build_s"] - q["action_s"]
            for phase, dur in (("build", q["build_s"]), ("action", q["action_s"])):
                js = [j for j in jobs.values() if j["key"] == (p["pass"], q["name"], phase)]
                t["queries." + phase] += dur - union_s([(j["start"], j["end"]) for j in js])
                for j in js:
                    ss = stages_by_job.get(j["id"], [])
                    t["job"] += (j["end"] - j["start"]) / 1000.0 - union_s(
                        [(s["submitted"], s["completed"]) for s in ss])
                    t["stage"] += union_s([(s["submitted"], s["completed"]) for s in ss])
        per_pass.append(t)
    return {k: statistics.median(t[k] for t in per_pass) for k in per_pass[0]} if per_pass else {}


def write_spans(res, path):
    """All spans of the traced passes, one JSON object per line."""
    jobs, stages_by_job = _index(res)
    tr = res["trace"]
    n = 0

    def span(f, name, parent, a, b, **attrs):
        nonlocal n
        n += 1
        f.write(json.dumps(dict(id=n, parent=parent, name=name, start_ms=a, end_ms=b,
                                **attrs)) + "\n")
        return n

    with open(path, "w") as f:
        for p in res["passes"]:
            if not p["traced"]:
                continue
            for q in p["queries"]:
                a, b = q["start_ms"], q["end_ms"]
                mid = a + q["build_s"] * 1000.0
                root = span(f, "query", None, a, b, query=q["name"], family=q["family"],
                            trace_id=f"{p['pass']}/{q['name']}")
                for phase, pa, pb in (("build", a, mid), ("action", mid, b)):
                    sid = span(f, "queries." + phase, root, pa, pb)
                    for j in jobs.values():
                        if j["key"] != (p["pass"], q["name"], phase):
                            continue
                        jid = span(f, "job", sid, j["start"], j["end"], job=j["id"])
                        for s in stages_by_job.get(j["id"], []):
                            span(f, "stage", jid, s["submitted"], s["completed"],
                                 stage=s["id"], tasks=s["tasks"], task_ms=s["run_ms"])
                for c in tr["catalyst"]:
                    for ph, (x, y) in c["phases"].items():
                        if _in(x, a, b):
                            span(f, "catalyst." + ph, root, x, y, func=c["func"])


def render(summary):
    lines = [f"tracing overhead: {summary['tracing_overhead_s']:+.3f} s per pass "
             f"(traced {summary['traced_pass_s']:.3f} s, untraced {summary['untraced_pass_s']:.3f} s)",
             "self time per pass: " + ", ".join(
                 f"{k} {v:.3f} s" for k, v in summary["self_time_s"].items()),
             f"{'family':<14} {'wall_s':>7}  dominant"]
    for f, r in sorted(summary["families"].items(), key=lambda kv: -kv[1]["wall_s"]):
        lines.append(f"{f:<14} {r['wall_s']:7.3f}  {r['dominant']}")
    lines.append(f"{'query':<28} {'wall_s':>7}  dominant")
    for q, r in sorted(summary["queries"].items(), key=lambda kv: -kv[1]["wall_s"]):
        lines.append(f"{q:<28} {r['wall_s']:7.3f}  {r['dominant']}")
    return "\n".join(lines)
