#!/usr/bin/env python3
"""Benchmark of the TEBIS extractor and the analytics suite.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (once per source state), makes
the workload's inputs from the seed, runs the workload in one JVM, checks
every output, and prints one `name value unit` line per metric, then the
result as one JSON line. With --trace 0 the metrics are BENCHMARK.json's
end-to-end ones; with --trace 1 its per-layer ones. The result is also written
to .bench_build/perfbench/results/. See perfbench/README.md.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen_tebis  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("tebis_hist_live", "suite_sf0.01")
HIST_FILES = 30            # files per backfill corpus
HIST_WARM_FILES = 15       # files per warm-up backfill (set-up)
HIST_WARM_BACKFILLS = 2    # warm-up backfills: the cold one and one warm
MIN_BACKFILLS = 4          # backfills per run, at least; 5 when traced
LIVE_RATE = 4.0            # phase A files per second
LIVE_A_FILES = 40          # phase A files: the 75th percentile has 10 beyond it
LIVE_B_FILES = 60          # phase B backlog files
LIVE_BACKLOG_FILES = 60    # dropped at once (a traced run drops two halves)
LIVE_WARM_FILES = 4        # files through the stream during set-up
WARM_PASSES = 2            # suite passes in set-up: the cold one and one warm
MIN_PASSES = 3             # suite passes per run, at least; 4 when traced
# One query per module of SparkEntry.modules: the one with the least cold plus
# warm time at sf0.01 (simhash rather than exact dedup), so a run fits its
# time budget.
SUITE_QUERIES = [
    "q15_epoch_ms", "q291_holt_forecast", "q152_hashed_classifier", "q38_train_split",
    "q43_dedup_simhash", "q61_label_centroids", "q83_frame_sample", "q119_freq_of_freq",
    "q75_zorder_stats", "q164_corpus_diff", "q92_clean_lines", "q251_chat_turns",
    "q261_bradley_terry", "q278_stride_sweep", "q299_column_profile_kmv",
]
SUITE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 150
# A fixed heap, as the engine's tests have, at their smallest size: the
# workloads retain under 200 MB. Touched at start-up (in setup_s), so the
# timed region never waits for the host to back fresh heap pages.
HEAP = "2g"

# The JVM options the engine's tests run with (build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# The metrics and their units, as BENCHMARK.json declares them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _DECLARED = json.load(_fh)
END_TO_END = [(m["name"], m["unit"]) for m in _DECLARED["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DECLARED["per_layer"]]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"), os.path.join(HERE, "harness", "project", "build.properties"),
             os.path.join(HERE, "harness", "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile the engine and the harness; return the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the engine's sources are not in this checkout (no build.sbt / src/main)")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and "scala-library" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


# ---------------------------------------------------------------- inputs

def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def make_tebis(dest, seed, n_files, first_window, tag, manifest):
    rows = gen_tebis.generate(dest, seed, n_files, first_window=first_window, tag=tag)
    gen_tebis.write_manifest(rows, manifest)
    return rows


def make_inputs(workload, seed, trace, run):
    """Write the workload's inputs under `run`; return workload parameters."""
    params = {}
    if workload == "tebis_hist_live":
        d = os.path.join(run, "hist")
        rows = make_tebis(os.path.join(d, "corpus"), seed, HIST_FILES, 0, 0, os.path.join(d, "manifest.tsv"))
        make_tebis(os.path.join(d, "warm"), seed, HIST_WARM_FILES, 0, 1, os.path.join(d, "warm.tsv"))
        seeded = gen_tebis.write_catalog(seed, os.path.join(d, "catalog"))
        expected = set(seeded) | {i for r in rows for i in r["ids"].split(",") if i}
        with open(os.path.join(d, "expected_catalog.txt"), "w") as fh:
            fh.write("\n".join(sorted(expected)) + "\n")
        d = os.path.join(run, "live")
        window = HIST_FILES + LIVE_WARM_FILES
        make_tebis(os.path.join(d, "warm"), seed, LIVE_WARM_FILES, HIST_FILES, 10, os.path.join(d, "warm.tsv"))
        make_tebis(os.path.join(d, "a"), seed, LIVE_A_FILES, window, 2, os.path.join(d, "a.tsv"))
        make_tebis(os.path.join(d, "b"), seed, LIVE_B_FILES, window + LIVE_A_FILES, 3, os.path.join(d, "b.tsv"))
        params.update(warm_ops=HIST_WARM_BACKFILLS, live_rate=LIVE_RATE, live_backlog_files=LIVE_BACKLOG_FILES // (1 + trace),
                      min_ops=MIN_BACKFILLS + trace)
    else:
        import pyarrow.parquet as pq
        d = os.path.join(run, "suite", "data")
        os.makedirs(d)
        # the base tables, each row order permuted by the seed
        for i, t in enumerate(SUITE_TABLES):
            tbl = pq.read_table(os.path.join(HERE, "data", f"{t}.parquet"))
            perm = list(range(tbl.num_rows))
            random.Random(seed * 100 + i).shuffle(perm)
            pq.write_table(tbl.take(perm), os.path.join(d, f"{t}.parquet"))
        params.update(suite_queries=",".join(SUITE_QUERIES), warm_ops=WARM_PASSES, min_ops=MIN_PASSES + trace)
    return params


# ---------------------------------------------------------------- run

def run_jvm(cp, run, deadline):
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:MaxGCPauseMillis=300"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness", run])
    log = os.path.join(run, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True, cwd=run)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    os.makedirs(BUILD, exist_ok=True)
    shutil.copy(log, os.path.join(BUILD, "last_jvm.log"))
    result = os.path.join(run, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}", 4)
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- suite oracle

def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else format(f, ".12g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _rows(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_canon(r[i]) for i in order) for r in cur.fetchall())


def _close(a, b):
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    except ValueError:
        return False


def same_result(oracle, spark):
    """Equal column names and, sorted, equal rows; floats to 1e-9."""
    (o_cols, o_rows), (s_cols, s_rows) = oracle, spark
    return o_cols == s_cols and len(o_rows) == len(s_rows) and all(
        len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b)) for a, b in zip(o_rows, s_rows))


def suite_oracle_failures(run, queries):
    """Queries whose checked output differs from the DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    data = os.path.join(run, "suite", "data")
    for t in SUITE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for q in queries:
        if q["error"] is not None:
            continue  # counted by the harness
        sql_file = os.path.join(run, "suite", "oracle", q["name"] + ".sql")
        out = os.path.join(run, "suite", "results", q["name"])
        try:
            with open(sql_file) as fh:
                o_cols, o_rows = _rows(con.execute(fh.read()))
            s_cols, s_rows = _rows(con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')"))
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad.append(f"{q['name']}: {e}")
            continue
        if not same_result((o_cols, o_rows), (s_cols, s_rows)):
            bad.append(f"{q['name']}: differs from the oracle ({len(s_rows)} rows vs {len(o_rows)})")
    return bad


# ---------------------------------------------------------------- metrics

def _jobs_in(probe, lo, hi):
    return [j for j in probe["jobs"] if lo <= j["start_ms"] < hi]


def _stages_of(probe, jobs):
    by_id = {s["id"]: s for s in probe["stages"]}
    ids = {i for j in jobs for i in j["stages"]}
    return [by_id[i] for i in sorted(ids) if i in by_id]


def _sum(stages, key):
    return sum(s[key] for s in stages)


def end_to_end(workload, res):
    """The end-to-end metrics and, apart, facts a reader needs to read them."""
    w = res["workload"]
    if workload == "tebis_hist_live":
        hist, live = w["hist"], w["live"]
        backfills = [b for b in hist["backfills"] if not b["traced"]]
        throughput = stats.median([b["points"] / b["wall_s"] for b in backfills])
        walls = [b["wall_s"] for b in backfills]
        lat = live["latency_s"]
    else:
        runs = [[r["build_s"] + r["exec_s"] for r in q["runs"] if not r["traced"]] for q in w["queries"]]
        walls = [sum(q[i] for q in runs) for i in range(min(map(len, runs)))]
        # one sample per query, its median warm time
        lat = [stats.median(q) for q in runs]
        throughput = len(lat) / sum(lat)
    t = stats.tail(lat)
    return ({"setup_s": res["setup_s"], "throughput": throughput,
             "latency_p50_s": stats.median(lat), "latency_tail_s": t[1],
             "heap_retained_mb": res["heap_retained_mb"]},
            {"latency_tail_percentile": t[0], "latency_samples": len(lat),
             "op_walls_s": [round(x, 3) for x in walls]})


def _setup_layers(res):
    def dur(name):
        return sum(s["end_ms"] - s["start_ms"] for s in res["spans"] if s["name"] == name) / 1e3
    return {"setup.session_s": dur("setup.session"), "setup.warmup_s": dur("setup.warmup")}


def hist_layers(res):
    w, probe = res["workload"]["hist"], res["probe"]
    roots = [s for s in res["spans"] if s["name"] == "hist.backfill"]
    self_t = stats.self_times(res["spans"])
    per = []
    for root in roots:
        spans = [s for s in res["spans"] if s["run"] == root["run"]]

        def dur(name, own=False):
            return sum((self_t[s["id"]] if own else s["end_ms"] - s["start_ms"]) for s in spans if s["name"] == name) / 1e3

        def stages(name):
            sp = [s for s in spans if s["name"] == name]
            jobs = [j for s in sp for j in _jobs_in(probe, s["start_ms"], s["end_ms"])]
            return jobs, _stages_of(probe, jobs)

        parse_jobs, parse_st = stages("parse")
        cat_jobs, _ = stages("catalog")
        _, sink_st = stages("sink.lake")
        all_jobs = _jobs_in(probe, root["start_ms"], root["end_ms"])
        per.append({
            "discovery.s": dur("discovery"), "parse.s": dur("parse"),
            "parse.tasks": _sum(parse_st, "tasks"), "parse.task_s": _sum(parse_st, "run_s"),
            "parse.gc_s": _sum(parse_st, "gc_s"), "catalog.s": dur("catalog"), "catalog.jobs": len(cat_jobs),
            "sink.lake_s": dur("sink.lake"), "sink.shuffle_write_mb": _sum(sink_st, "shuffle_write_b") / 2**20,
            "sink.spill_mb": _sum(sink_st, "spill_b") / 2**20,
            "lifecycle.s": dur("lifecycle", own=True), "metrics.push_s": dur("metrics.push"),
            "metrics.pushes": sum(1 for s in spans if s["name"] == "metrics.push"),
            "hist.jobs": len(all_jobs), "hist.stages": len(_stages_of(probe, all_jobs)),
            "hist.driver_gap_s": stats.driver_gap((root["start_ms"], root["end_ms"]),
                                                  [(j["start_ms"], j["end_ms"]) for j in all_jobs]) / 1e3,
            "hist.traced_wall_s": (root["end_ms"] - root["start_ms"]) / 1e3,
            "hist.unaccounted_s": self_t[root["id"]] / 1e3,
        })
    out = {k: stats.median([p[k] for p in per]) for k in per[0]} if per else {}
    bfs = w["backfills"]
    untraced = [b for b in bfs if not b["traced"]]
    traced = [b for b in bfs if b["traced"]]
    out["parse.points_per_task_s"] = w["corpus_points"] / out["parse.task_s"] if out.get("parse.task_s") else 0.0
    out["discovery.files"] = w["corpus_files"]
    out["catalog.created_series"] = stats.median([b["created_series"] for b in bfs])
    out["sink.lake_files"] = stats.median([b["files"] for b in bfs])
    out["lifecycle.moves"] = stats.median([b["moves"] for b in bfs])
    out["lifecycle.dead_letters"] = stats.median([b["dead_letters"] for b in bfs])
    out["hist.points_per_s"] = stats.median([b["points"] / b["wall_s"] for b in untraced])
    out["hist.lake_bytes_per_point"] = stats.median([b["bytes"] / b["points"] for b in bfs])
    out["hist.untraced_wall_s"] = stats.median([b["wall_s"] for b in untraced])
    out["trace.overhead_frac"] = stats.median([b["wall_s"] for b in traced]) / out["hist.untraced_wall_s"] - 1
    return out


def live_layers(res):
    w, probe = res["workload"]["live"], res["probe"]
    a_start, a_end = w["phase_a_start_ms"], w["phase_a_end_ms"]
    batches = [b for b in w["batches"] if a_start <= b["start_ms"] < a_end]
    d = [b["durations_s"] for b in batches]
    jobs = _jobs_in(probe, a_start, a_end)
    st = _stages_of(probe, jobs)
    posts = w["posts"]
    legs = {t: stats.median([b["drain_s"] / b["files"] for b in w["backlogs"] if b["traced"] == t])
            for t in (False, True)}
    lat_tail, gen_tail = stats.tail(w["latency_s"]), stats.tail(w["lateness_s"])
    return {
        "live.latency_p50_s": stats.median(w["latency_s"]),
        "live.latency_tail_s": lat_tail[1],
        "live.capacity_files_per_s": 1 / legs[False],
        "live.batches": len(batches),
        "live.files_per_batch": sum(b["files"] for b in batches) / max(1, len(batches)),
        "live.batch_s_p50": stats.median([x.get("triggerExecution", 0) for x in d]),
        "live.add_batch_s": stats.median([x.get("addBatch", 0) for x in d]),
        "live.wal_commit_s": stats.median([x.get("walCommit", 0) for x in d]),
        "live.latest_offset_s": stats.median([x.get("latestOffset", 0) for x in d]),
        "live.trigger_overhead_s": stats.median([x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d]),
        "live.jobs_per_batch": len(jobs) / max(1, len(batches)),
        "live.settle_wait_s": (_sum(st, "run_s") - _sum(st, "cpu_s")) / max(1, len(batches)),
        "live.gen_lateness_tail_s": gen_tail[1],
        "sink.post_calls": posts["calls"], "sink.series_per_post": posts["series"] / max(1, posts["calls"]),
        "sink.posted_points": posts["points"], "metrics.pushes": w["metric_pushes"],
        "trace.overhead_frac": legs[True] / legs[False] - 1,
    }


def suite_layers(res):
    w, probe = res["workload"], res["probe"]
    spans = res["spans"]
    passes = sorted({s["run"] for s in spans if s["run"].startswith("pass")})
    n_pass = max(1, len(passes))
    qspans = [s for s in spans if s["name"].startswith("query:") and s["run"].startswith("pass")]
    jobs = [j for q in qspans for j in _jobs_in(probe, q["start_ms"], q["end_ms"])]
    st = _stages_of(probe, jobs)
    plans = [p for p in probe["plans"] if any(q["start_ms"] <= p["start_ms"] < q["end_ms"] for q in qspans)]
    gap = sum(stats.driver_gap((q["start_ms"], q["end_ms"]),
                               [(j["start_ms"], j["end_ms"]) for j in _jobs_in(probe, q["start_ms"], q["end_ms"])])
              for q in qspans)

    def med(q, key, traced):
        return stats.median([key(r) for r in q["runs"] if r["traced"] == traced])

    untraced = [med(q, lambda r: r["build_s"] + r["exec_s"], False) for q in w["queries"]]
    traced = [med(q, lambda r: r["build_s"] + r["exec_s"], True) for q in w["queries"]]
    out = {}
    for q, t in zip(w["queries"], traced):
        out[f"suite.{q['module']}.s"] = out.get(f"suite.{q['module']}.s", 0.0) + t
    out.update({
        "suite.total_s": sum(untraced), "suite.geomean_s": stats.geomean(untraced),
        "suite.build_s": sum(med(q, lambda r: r["build_s"], True) for q in w["queries"]),
        "suite.plan_s": sum(p["plan_s"] for p in plans) / n_pass,
        "suite.codegen_compile_s": res["codegen_compile_s"] / len(w["queries"][0]["runs"]),
        "suite.jobs": len(jobs) / n_pass, "suite.stages": len(st) / n_pass,
        "suite.tasks": _sum(st, "tasks") / n_pass, "suite.driver_gap_s": gap / 1e3 / n_pass,
        "suite.pinned_rdds": sum(med(q, lambda r: r["pinned_rdds"], True) for q in w["queries"]),
        "suite.task_s": _sum(st, "run_s") / n_pass,
        "suite.shuffle_write_mb": _sum(st, "shuffle_write_b") / 2**20 / n_pass,
        "suite.spill_mb": _sum(st, "spill_b") / 2**20 / n_pass,
        "suite.exchanges": sum(p["exchanges"] for p in plans) / n_pass,
        "suite.smj": sum(p["smj"] for p in plans) / n_pass, "suite.shj": sum(p["shj"] for p in plans) / n_pass,
        "trace.overhead_frac": sum(traced) / sum(untraced) - 1,
    })
    return out


def per_layer(workload, res):
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(_setup_layers(res))
    if workload == "tebis_hist_live":
        hist, live = hist_layers(res), live_layers(res)
        out.update(hist)
        out.update(live)
        out["metrics.pushes"] = hist["metrics.pushes"] + live["metrics.pushes"]
        out["trace.overhead_frac"] = (hist["trace.overhead_frac"] + live["trace.overhead_frac"]) / 2
    else:
        out.update(suite_layers(res))
    undeclared = set(out) - set(dict(PER_LAYER))
    if undeclared:
        fail(f"metrics not declared in BENCHMARK.json: {', '.join(sorted(undeclared))}")
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    deadline = time.time() + JVM_TIMEOUT_S
    run = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        params = make_inputs(args.workload, args.seed, args.trace, run)
        params.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                      cpus=cpus(), scratch=os.path.join(run, "spark"),
                      tebis_t0=gen_tebis.T0, tebis_window_s=gen_tebis.WINDOW_S)
        with open(os.path.join(run, "run.properties"), "w") as fh:
            fh.write("".join(f"{k}={v}\n" for k, v in params.items()))
        res = run_jvm(cp, run, deadline)
        failures = list(res["failures"])
        failed = res["failed"]
        if args.workload == "suite_sf0.01":
            bad = suite_oracle_failures(run, res["workload"]["queries"])
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(run, ignore_errors=True)
    if args.trace:
        values, units, extra = per_layer(args.workload, res), dict(PER_LAYER), {}
    else:
        (values, extra), units = end_to_end(args.workload, res), dict(END_TO_END)
    attempted = res["attempted"]
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    for k, v in values.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_frac {failed / attempted:.6g} ratio")
    for k, v in extra.items():
        print(f"# {k} {v}")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(dict(result, workload=args.workload, seed=args.seed, extra=extra, failures=failures), fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
