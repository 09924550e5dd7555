#!/usr/bin/env python3
"""graft benchmark: closed-loop SparkEntry workloads, timed from outside.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads and their query lists are in perfbench/workloads.json. A run:
  1. builds the library and the harness with sbt, once per checkout
     (perfbench/build.sbt depends on the library build at the root);
  2. once per library version and input, runs the library's own `graft.Verify`
     main and `tools/check.py` (the DuckDB oracle) on the workload queries
     and caches the verdicts and the verified row counts;
  3. for detect-16x, regenerates the seeded 16x `events` fixture;
  4. runs the harness JVM (graftbench.Harness) for a number of passes sized
     so that they take about S seconds;
  5. checks every timed execution against the cached oracle verdict and
     verified row count, and prints one JSON line with the metrics.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, taken from Spark listeners in the same harness, and a
layer summary (dominant layer per query and per family, tracing overhead)
is printed before the result line and written beside the span file.

Build outputs, oracle caches, fixtures and traces go under the directory
named by CARGO_TARGET_DIR (default `.bench_build`) in the checkout. The input
tables are the read-only sf0.1 and sf0.01 tables named in TESTDATA.md;
SPARK_GRAFT_SF_DIR, when set, replaces the sf0.1 directory.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import fixture16  # noqa: E402
import layers  # noqa: E402

CPUS = os.cpu_count() or 4
HEAP = "4g"
# JIT, collector and paging settings of the harness JVM, chosen so that pass
# time levels after the cold pass and does not depend on how the host's other
# tenants load it:
# - C1 only, at a tenth of the default compile thresholds (with the code
#   cache to hold what that compiles): with the default tiered JIT, C2 kept
#   compiling Spark's driver paths for the whole run, and how far pass time
#   had fallen by the end depended on how much CPU the compiler threads got;
# - the serial collector: no concurrent or parallel GC threads competing with
#   the driver thread (under G1 a pass's process CPU varied 2x between runs);
# - transparent huge pages for the heap: without them the levelled pass time
#   of runs of the same code spread more than twice as wide.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
            "-XX:ReservedCodeCacheSize=1g", "-XX:+UseSerialGC",
            "-XX:+UseTransparentHugePages"]
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists (the library's build.sbt
# passes the same list to its forked mains).
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    d = d if os.path.isabs(d) else os.path.join(ROOT, d)
    d = os.path.join(d, "graft")
    os.makedirs(d, exist_ok=True)
    return d


def table_dir(scale):
    """Directory of the read-only tables at one scale ("0.1", "0.01"): the
    matching row of TESTDATA.md, or SPARK_GRAFT_SF_DIR for sf0.1."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") if scale == "0.1" else None
    if not d:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(rf"^\|\s*{re.escape(scale)}\s*\|\s*`([^`]+)`", f.read(), re.M)
        d = m.group(1) if m else ""
    d = d.rstrip("/")
    if not os.path.isfile(os.path.join(d, "events.parquet")):
        raise SystemExit(f"perfbench: no sf{scale} tables at {d!r}")
    return d


# ---------------------------------------------------------------- build

def stamp(paths):
    """Hash of the contents of these files and of every file under these
    directories."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(dp, f) for dp, _, fs in os.walk(p) for f in fs]
        else:
            files.append(p)
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_build(work):
    """Compile with sbt once per source state; returns the runtime classpath."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    now = stamp([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")])
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == now:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building library and harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    with open(os.path.join(work, "build.log"), "w") as f:
        f.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"perfbench: sbt build failed (see {work}/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(now)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def reset_oracle_if_program_changed(work):
    """Oracle verdicts hold for one version of the library; start over when
    its sources change. Returns True when they were reset."""
    d = os.path.join(work, "oracle")
    f = os.path.join(d, "library.stamp")
    now = stamp([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")])
    if os.path.exists(f):
        with open(f) as g:
            if g.read() == now:
                return False
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(f, "w") as g:
        g.write(now)
    return True


def java_cmd(cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + JVM_OPTS + opens + ["-cp", cp, main] + list(args))


def run_java(cmd, logfile, env, timeout):
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {cmd[-1]} timed out (see {logfile})")


def java_env(work):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


# ---------------------------------------------------------------- inputs

def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def fixture_for(spec, seed, work):
    """(key, directory, generation seconds) of the input a workload reads."""
    if spec["input"].startswith("sf"):
        return spec["input"], table_dir(spec["input"][2:]), 0.0
    variant = seed % spec["fixture_variants"]
    key = f"x16-v{variant}"
    d = os.path.join(work, "fixtures", key)
    t0 = time.perf_counter()
    fixture16.build(table_dir("0.1"), d, variant)
    return key, d, time.perf_counter() - t0


def verdicts(key, work):
    f = os.path.join(work, "oracle", key + ".json")
    if not os.path.exists(f):
        return {}
    with open(f) as g:
        return json.load(g)


def run_oracle(inputs, cp, work):
    """DuckDB oracle verdicts for (key, data_dir, queries) inputs, cached per key.

    Runs the library's Verify main (it dumps each query's output and the
    oracle SQL) once per input in one JVM, then tools/check.py on each dump,
    both unchanged. Keeps, per query, whether check.py passed it and the row
    count of the verified output."""
    import pyarrow.parquet as pq
    todo = [(k, d, [q for q in qs if q not in verdicts(k, work)]) for k, d, qs in inputs]
    todo = [(k, d, qs) for k, d, qs in todo if qs]
    if not todo:
        return
    base = os.path.join(work, "oracle")
    t0 = time.time()
    args = []
    for k, d, qs in todo:
        shutil.rmtree(os.path.join(base, k + "-verify"), ignore_errors=True)
        args += ["--", d, os.path.join(base, k + "-verify")] + qs
    log(f"oracle: Verify on {', '.join(k for k, _, _ in todo)}")
    run_java(java_cmd(cp, work, "graftbench.Oracle", args[1:]),
             os.path.join(base, "verify.log"), java_env(work), 850)
    for k, d, qs in todo:
        out = os.path.join(base, k + "-verify")
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), d, out]
                             + qs, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
        with open(os.path.join(base, k + "-check.log"), "w") as f:
            f.write(chk.stdout)
        known = verdicts(k, work)
        for q in qs:
            ok = re.search(rf"^OK\s+{re.escape(q)} \(", chk.stdout, re.M) is not None
            fail = re.search(rf"^FAIL {re.escape(q)}:.*$", chk.stdout, re.M)
            parts = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts) if parts else None
            known[q] = {"ok": ok, "rows": rows,
                        "detail": "OK" if ok else (fail.group(0) if fail else "no verdict")}
        with open(os.path.join(base, k + ".json"), "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        log(f"oracle: {k} {sum(known[q]['ok'] for q in qs)}/{len(qs)} pass")
    log(f"oracle done in {time.time() - t0:.0f} s")


def all_inputs(workloads, work):
    """Every (key, data_dir, queries) the benchmark's workloads read, fixtures
    built. On-demand workloads are checked when they first run."""
    out = []
    for spec in workloads.values():
        if spec.get("on_demand"):
            continue
        for v in range(spec.get("fixture_variants", 1)):
            k, d, _ = fixture_for(spec, v, work)
            out.append((k, d, spec["queries"]))
    return out


def n_passes(spec, seconds):
    """Passes that fill `seconds` by the workload's sizing constants; at
    least a cold pass and two warm ones."""
    warm = max(0, int((seconds - spec["cold_pass_s"]) // spec["warm_pass_s"]))
    return max(3, 1 + warm)


# ---------------------------------------------------------------- metrics

def end_to_end(res, fixture_s):
    """Metrics of an untraced run. Pass time is taken over every pass but the
    cold first one (with JVM_OPTS, pass time has levelled after it): the best
    levelled pass, each query at its fastest, as graft.Bench reports
    per-query minima. Other tenants of the host only ever add time, and the
    minimum is what is least moved by them."""
    passes = res["passes"]
    level = passes[1:]
    per_query = {}
    for p in level:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["build_s"] + q["action_s"])
    lat = [t for ts in per_query.values() for t in ts]
    log(f"{len(passes)} passes, first (cold) pass {passes[0]['wall_s']:.3f} s, "
        f"median levelled pass {statistics.median(p['wall_s'] for p in level):.3f} s, "
        f"query latency p50 {statistics.median(lat):.3f} s over {len(lat)} samples")
    return {
        "setup_s": (statistics.median(res["setup_s"]) + fixture_s, "s"),
        "pass_s": (sum(min(ts) for ts in per_query.values()), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MiB"),
    }


def check(res, verdict):
    attempted = failed = 0
    bad = {}
    for p in res["passes"]:
        for q in p["queries"]:
            attempted += 1
            v = verdict.get(q["name"], {})
            why = None
            if q["error"]:
                why = q["error"]
            elif not v.get("ok"):
                why = "oracle: " + v.get("detail", "not checked")
            elif q["rows"] != v.get("rows"):
                why = f"rows {q['rows']} != verified {v.get('rows')}"
            if why:
                failed += 1
                bad.setdefault(q["name"], why)
    return attempted, failed, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = load_workloads()["workloads"]
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}")
    spec = workloads[a.workload]
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench: no library sources beside perfbench/")
    work = work_dir()
    cp = ensure_build(work)
    if reset_oracle_if_program_changed(work):
        # first run of this program: check every input now, so that no
        # later run pays for it
        run_oracle(all_inputs(workloads, work), cp, work)

    key, data_dir, fixture_s = fixture_for(spec, a.seed, work)
    run_oracle([(key, data_dir, spec["queries"])], cp, work)

    out = os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    cmd = java_cmd(cp, work, "graftbench.Harness", [
        "--sf", data_dir, "--queries", ",".join(spec["queries"]),
        "--seed", str(a.seed), "--passes", str(n_passes(spec, a.seconds)),
        "--trace", str(a.trace), "--cpus", str(CPUS), "--local-dir", local,
        "--out", out])
    if os.path.exists(out):
        os.remove(out)
    rc = run_java(cmd, out[:-5] + ".log", java_env(work), RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness failed with code {rc} (see {out[:-5]}.log)")
    with open(out) as f:
        res = json.load(f)

    attempted, failed, bad = check(res, verdicts(key, work))
    for q, why in sorted(bad.items()):
        log(f"FAILED {q}: {why}")
    if a.trace:
        metrics, summary = layers.per_layer(res, spec["queries"])
        spans = out[:-5] + ".spans.jsonl"
        layers.write_spans(res, spans)
        with open(out[:-5] + ".summary.json", "w") as f:
            json.dump(summary, f, indent=1)
        print(layers.render(summary))
    else:
        metrics = end_to_end(res, fixture_s)
        log(f"failed share {failed}/{attempted}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
