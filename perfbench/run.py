"""Benchmark of the graph engine's user-facing jobs, run from the repo root:

    python3 perfbench/run.py --workload scc_variants --seed 1 --seconds 20 --trace 0

Makes a seeded corpus, then repeats the workload's pipeline (ingest, then
its graph jobs) until `--seconds` have passed, at least once. Every output
is checked against the oracles in `tests/oracles.py` outside the timed
region. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (see README.md).

The run pins Spark to the machine (local[nproc], a driver heap below RAM)
and keeps every file it writes under `.perfbench/` in the working
directory; its private Spark directories are removed when it ends.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

WORKLOADS = {
    # the paper's core: FB-Trim and the reference's partition-first variant
    # on one giant-SCC import graph, broadcast regime, no durable writes
    "scc_variants": {"files": 10_000, "arrow_ingest": False, "jobs": ("scc", "scc_partitioned")},
    # fixed-count supersteps with parquet checkpoints and no SCC code at all:
    # the control that an SCC-only change must leave flat; it also carries
    # the Arrow (mapInPandas) extractor, the Python-boundary leg
    "iter_ckpt": {"files": 5_000, "arrow_ingest": True, "jobs": ("pagerank", "wcc", "lpa")},
}

END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}

# job -> (metric, counter prefix, span layer)
JOBS = {
    "scc": ("scc_s", "scc", "operators.scc"),
    "scc_partitioned": ("scc_partitioned_s", "partitioned", "operators.partitioned"),
    "pagerank": ("pagerank_s", "pagerank", "operators.pagerank"),
    "wcc": ("wcc_s", "wcc", "operators.components"),
    "lpa": ("lpa_s", "lpa", "operators.lpa"),
}
# The graph is the generator's at seed 42 on every run. Across generator
# seeds the SCC's BFS hops range 17-23 at 10k files, and FB-Trim takes one
# or two rounds, which moved a run's wall_s by up to 50%: a seed-dependent
# graph made the spread of wall_s over seeds mostly a property of the
# inputs. --seed decides the corpus layout instead: which rows share a
# partition, and their order.
GRAPH_SEED = 42
PAGERANK_ITERS = 20
LPA_ROUNDS = 5
SETUP_REPS = 3

SCC_PHASES = ("trim1", "trim2", "pivots", "bfs", "update")
# layers whose self time the traced run reports -> the span layers they sum
SELF_LAYERS = {"ingest": "ingest", "operators": "operators", "superstep": "plans.superstep", "spark": "spark"}

# Printed with --trace 1. Every time here is measured on both workloads; an
# operator a workload does not run reports 0 for its counts. Per-job and
# per-phase times, which exist on one workload only, are in the trace file.
PER_LAYER = {
    "session.start_s": "s", "corpus.gen_s": "s", "corpus.rows": "count",
    "ingest_s": "s", "ingest.jvm_s": "s", "ingest.verify_s": "s",
    "ingest.jobs": "count", "ingest.edges": "count", "ingest.sha_mismatch": "count",
    "operators_s": "s",
    "scc.jobs": "count", "scc.ticks": "count", "scc.rounds": "count",
    "scc.bfs_hops": "count", "scc.trim_iters": "count", "scc.jobs_per_hop": "ratio",
    "partitioned.jobs": "count", "partitioned.tasks": "count",
    **{f"{op}.{k}": "count" for op in ("pagerank", "wcc", "lpa") for k in ("jobs", "ticks", "iters")},
    "superstep.ticks": "count", "superstep.tick_s": "s",
    "superstep.ckpt_writes": "count", "superstep.ckpt_s": "s", "superstep.ckpt_bytes": "B",
    "superstep.persisted_rdds_after": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_write_bytes": "B",
    "spark.job_busy_s": "s", "spark.driver_gap_s": "s", "spark.cpu_busy_frac": "ratio",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
}

OUT_DIR = ".perfbench"


class Checks:
    """Output checks of one run; every check counts toward `attempted`."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{name}: {detail}")

    def labels(self, name: str, got: dict, want: dict) -> None:
        bad = [v for v in want if got.get(v) != want[v]]
        extra = len(set(got) - set(want))
        self.record(name, not bad and not extra,
                    f"{len(bad)} wrong labels, {extra} unexpected ids, e.g. {bad[:3]}")

    def close(self, name: str, got: dict, want: dict, atol: float) -> None:
        bad = [v for v in want if v not in got or abs(got[v] - want[v]) > atol]
        extra = len(set(got) - set(want))
        self.record(name, not bad and not extra,
                    f"{len(bad)} values off by more than {atol}, {extra} unexpected ids")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def host_info(root: str, seed: int) -> dict:
    import pyspark

    mem_kb = _proc_field("/proc/meminfo", "MemTotal")
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "detectingscc_spark", "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, check=False).stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "git_commit": commit, "source_sha256": digest.hexdigest(), "seed": seed}


def _proc_field(path: str, field: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(f"{field} not in {path}")


def _cpu_seconds(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def pin_host(priv: str, root: str) -> tuple[int, dict]:
    """Environment and Spark conf that fit the machine and keep every file
    the run writes inside `priv`."""
    nproc = len(os.sched_getaffinity(0))
    ram_mb = _proc_field("/proc/meminfo", "MemTotal") // 1024
    # a fixed heap (initial = max) keeps the JVM's peak RSS from depending
    # on when G1 decides to grow it
    heap_mb = min(2048, ram_mb // 4)
    for sub in ("local", "tmp", "events", "ckpt", "warehouse"):
        os.makedirs(os.path.join(priv, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(priv, "local"),
        "TMPDIR": os.path.join(priv, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    })
    conf = {
        "spark.local.dir": os.path.join(priv, "local"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={os.path.join(priv, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(priv, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return nproc, conf


def run(args, priv: str, root: str) -> dict:
    from detectingscc_spark.corpus import expected_edges, generate_corpus
    from detectingscc_spark.ingest import ingest, verify_sha256
    from detectingscc_spark.operators.components import connected_components
    from detectingscc_spark.operators.lpa import label_propagation
    from detectingscc_spark.operators.pagerank import pagerank
    from detectingscc_spark.operators.partitioned import scc_partitioned
    from detectingscc_spark.operators.scc import strongly_connected_components
    from detectingscc_spark.session import get_spark
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    import tracing
    from tests import oracles

    wl = WORKLOADS[args.workload]
    n_files = args.files or wl["files"]
    nproc, conf = pin_host(priv, root)
    event_dir = os.path.join(priv, "events")
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    tracer = tracing.Tracer()
    span = tracer.span if args.trace else _no_span
    checks = Checks()
    info = host_info(root, args.seed)
    info.update(workload=args.workload, files=n_files, trace=args.trace, seconds=args.seconds)

    # ---- set-up: session once, corpus materialized SETUP_REPS times ----
    t0 = time.perf_counter()
    with span("session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]",
                          extra_conf=conf)
    session_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    sc = spark.sparkContext
    jvm_pid = gateway.proc.pid
    info["java"] = sc._jvm.System.getProperty("java.version")
    try:
        corpus, corpus_times = None, []
        sc.setJobGroup("setup", "corpus")
        for _ in range(SETUP_REPS):
            if corpus is not None:
                corpus.unpersist(blocking=True)
            t = time.perf_counter()
            with span("corpus"):
                corpus = (generate_corpus(spark, n_files, seed=GRAPH_SEED)
                          .repartition(nproc, F.xxhash64(F.lit(args.seed), F.col("fid"))).persist())
                n_rows = corpus.count()
            corpus_times.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(corpus_times)
        keep = set(sc._jsc.getPersistentRDDs().keys())

        # ---- oracles, from the generator's own edge rule ----
        sc.setJobGroup("check", "oracle input")
        want_edges = {(r[0], r[1]) for r in expected_edges(spark, n_files, seed=GRAPH_SEED).collect()}
        vertex_ids = list(range(n_files))
        edge_list = sorted(want_edges)
        oracle = {}

        def expected(job):
            if job not in oracle:
                if job.startswith("scc"):
                    oracle[job] = oracle.setdefault("scc", oracles.kosaraju_scc(edge_list, vertex_ids))
                elif job == "pagerank":
                    oracle[job] = oracles.pagerank_numpy(edge_list, vertex_ids, iters=PAGERANK_ITERS, tol=0.0)
                elif job == "wcc":
                    oracle[job] = oracles.cc_unionfind(edge_list, vertex_ids)
                else:
                    oracle[job] = oracles.lpa_sync(edge_list, vertex_ids, rounds=LPA_ROUNDS)
            return oracle[job]

        # passes run while the next one, as long as the last, would end
        # within --seconds; there is at least one
        passes: list[dict] = []
        timed_start = time.perf_counter()
        while not passes or time.perf_counter() - timed_start + passes[-1]["pass_s"] <= args.seconds:
            pass_start = time.perf_counter()
            p = len(passes)
            rec = {"segments": [], "jobs": {}, "counters": {}, "cpu_s": 0.0}

            def timed(group: str, layer: str, fn, rec=rec):
                sc.setJobGroup(group, layer)
                cpu0, w0, t = _cpu_seconds(jvm_pid), time.time(), time.perf_counter()
                with span(layer, group=group) as s:
                    out = fn()
                dt = time.perf_counter() - t
                rec["segments"].append((w0, time.time()))
                rec["cpu_s"] += _cpu_seconds(jvm_pid) - cpu0
                sc.setJobGroup("check", "between timed calls")
                return out, dt, s

            # ---- ingest: JVM extractor, Arrow extractor, sha256 verify ----
            def jvm_ingest():
                verts, edges, manifest = ingest(spark, corpus)
                edges = edges.persist()
                return verts, edges, manifest, edges.count()

            def pandas_ingest():
                _, edges, _ = ingest(spark, corpus, use_pandas=True)
                edges = edges.persist()
                edges.count()
                return edges

            (verts, edges, manifest, n_edges), jvm_s, _ = timed(f"pb{p}:ingest.jvm", "ingest", jvm_ingest)
            edges_pd, pandas_s = None, 0.0
            if wl["arrow_ingest"]:
                edges_pd, pandas_s, _ = timed(f"pb{p}:ingest.pandas", "ingest", pandas_ingest)
            mismatch, verify_s, _ = timed(f"pb{p}:ingest.verify", "ingest",
                                          lambda: verify_sha256(manifest, corpus))
            ingest_s = jvm_s + pandas_s + verify_s
            got_edges = {(r[0], r[1]) for r in edges.select("src", "dst").collect()}
            checks.record("ingest.sha256", mismatch == 0, f"{mismatch} rows changed")
            checks.record("ingest.edges", got_edges == want_edges,
                          f"{len(got_edges ^ want_edges)} edges differ from the generator rule")
            if edges_pd is not None:
                checks.record("ingest.pandas_edges",
                              {(r[0], r[1]) for r in edges_pd.select("src", "dst").collect()} == got_edges,
                              "JVM and Arrow extractors disagree")
                edges_pd.unpersist()
            rec.update(ingest_s=ingest_s, jvm_s=jvm_s, pandas_s=pandas_s, verify_s=verify_s,
                       sha_mismatch=mismatch, edges=n_edges)
            V = verts.select("id")

            # ---- the workload's graph jobs ----
            for job in wl["jobs"]:
                _, prefix, layer = JOBS[job]
                ckpt = os.path.join(priv, "ckpt", f"{p}-{job}")
                runner = None
                if args.trace:
                    # the run_id each operator gives the runner it builds itself
                    run_id = {"pagerank": "pagerank", "wcc": "cc", "lpa": "lpa"}.get(job, "run0")
                    runner = tracing.TracingRunner(spark, tracer, run_id=run_id,
                                                   checkpoint_dir=ckpt if job in ("pagerank", "wcc") else None)
                call = {
                    "scc": lambda r: strongly_connected_components(
                        spark, edges, V, local_finish_edges=0, runner=r),
                    "scc_partitioned": lambda r: scc_partitioned(
                        spark, edges, V, n_parts=32, local_finish_edges=0, runner=r),
                    "pagerank": lambda r: pagerank(
                        spark, edges, V, fixed_iters=PAGERANK_ITERS, checkpoint_dir=ckpt, runner=r),
                    "wcc": lambda r: connected_components(spark, edges, V, checkpoint_dir=ckpt, runner=r),
                    "lpa": lambda r: label_propagation(spark, edges, V, rounds=LPA_ROUNDS, runner=r),
                }[job]
                before = len(sc._jsc.getPersistentRDDs())
                try:
                    rows, dt, s = timed(f"pb{p}:{prefix}", layer, lambda: call(runner).collect())
                except Exception as exc:  # a failed job is a failed check, not a crashed run
                    checks.record(job, False, f"{type(exc).__name__}: {exc}"[:300])
                    continue
                leaked = len(sc._jsc.getPersistentRDDs()) - before
                got = {r[0]: r[1] for r in rows}
                if job == "pagerank":
                    checks.close(job, got, expected(job), atol=1e-6)
                else:
                    checks.labels(job, got, expected(job))
                rec["jobs"][job] = dt
                c = {"persisted_rdds_after": leaked,
                     "ckpt_bytes": _dir_bytes(ckpt) if os.path.isdir(ckpt) else 0}
                if runner is not None:
                    c.update(ticks=runner.ticks, tick_s=runner.tick_s, ckpt_writes=runner.ckpt_writes,
                             ckpt_s=runner.ckpt_s, counters=dict(runner.counters),
                             phases=tracing.phase_intervals(s["start"], runner.logs))
                rec["counters"][job] = c

            rec["wall_s"] = rec["ingest_s"] + sum(rec["jobs"].values())
            passes.append(rec)
            # the benchmark's own cleanup, after the leak count above
            edges.unpersist()
            for rid, jrdd in list(sc._jsc.getPersistentRDDs().items()):
                if rid not in keep:
                    jrdd.unpersist(True)
            shutil.rmtree(os.path.join(priv, "ckpt"), ignore_errors=True)
            rec["pass_s"] = time.perf_counter() - pass_start

        py_hwm = _proc_field("/proc/self/status", "VmHWM")
        jvm_hwm = _proc_field(f"/proc/{jvm_pid}/status", "VmHWM")
    finally:
        spark.stop()
        _stop_gateway(gateway)

    wall = statistics.median(p["wall_s"] for p in passes)
    result = {
        "setup_s": setup_s,
        "wall_s": wall,
        "peak_rss_mb": (py_hwm + jvm_hwm) / 1024.0,
    }
    job_times = {JOBS[j][0]: statistics.median(p["jobs"][j] for p in passes if j in p["jobs"])
                 for j in wl["jobs"] if any(j in p["jobs"] for p in passes)}
    record = {"host": info, "passes": len(passes), "pass_walls": [p["wall_s"] for p in passes],
              "end_to_end": result, "jobs": job_times,
              "setup": {"session_s": session_s, "corpus_s": corpus_times}}
    trace = None
    if args.trace:
        events = tracing.read_event_log(event_dir)
        layer = per_layer(passes, tracer, events, session_s,
                          statistics.median(corpus_times), n_rows, job_times, nproc)
        trace = {"spans": tracer.spans, "passes": passes,
                 "spark_jobs": [{"id": jid, **j} for jid, j in sorted(events["jobs"].items())]}
        if layer["spark.failed_tasks"]:
            checks.record("spark.tasks", False, f"{layer['spark.failed_tasks']} failed tasks")
        record["per_layer"] = layer
        record["trace_overhead_s"] = _trace_overhead(root, info, wall)
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": result[name], "unit": unit} for name, unit in END_TO_END.items()}
    record["checks"] = {"attempted": checks.attempted, "failed": checks.failed,
                        "failed_frac": checks.failed_frac, "notes": checks.notes}
    _save(root, record, trace)
    print(json.dumps(record, default=str), file=sys.stderr)
    return {"correct": checks.failed == 0, "attempted": checks.attempted,
            "failed": checks.failed, "metrics": metrics}


def per_layer(passes, tracer, events, session_s, corpus_s, n_rows, job_times, nproc) -> dict:
    """Per-layer figures of the traced run, averaged over its passes."""
    import tracing

    n = len(passes)
    timed = {jid: j for jid, j in events["jobs"].items() if (j["group"] or "").startswith("pb")}

    def jobs_of(prefix):
        return [jid for jid, j in timed.items() if j["group"].split(":", 1)[1] == prefix]

    def per_pass(values):
        return sum(values) / n

    out = {name: 0 for name, unit in PER_LAYER.items() if unit != "s"}
    out.update({
        "session.start_s": session_s, "corpus.gen_s": corpus_s, "corpus.rows": n_rows,
        "ingest_s": per_pass(p["ingest_s"] for p in passes),
        "ingest.jvm_s": per_pass(p["jvm_s"] for p in passes),
        "ingest.pandas_s": per_pass(p["pandas_s"] for p in passes),
        "ingest.verify_s": per_pass(p["verify_s"] for p in passes),
        "ingest.jobs": per_pass([len(jobs_of(k)) for k in ("ingest.jvm", "ingest.pandas", "ingest.verify")]),
        "ingest.edges": per_pass(p["edges"] for p in passes),
        "ingest.sha_mismatch": per_pass(p["sha_mismatch"] for p in passes),
    })
    out.update(job_times)
    out["operators_s"] = per_pass(sum(p["jobs"].values()) for p in passes)
    for job, (_, prefix, _) in JOBS.items():
        cs = [p["counters"][job] for p in passes if job in p["counters"]]
        if not cs:
            continue
        jids = jobs_of(prefix)
        out[f"{prefix}.jobs"] = len(jids) / n
        counters = [c["counters"] for c in cs]
        if prefix in ("pagerank", "wcc", "lpa"):
            out[f"{prefix}.ticks"] = per_pass(c["ticks"] for c in cs)
            out[f"{prefix}.tick_s"] = per_pass(c["tick_s"] for c in cs)
            out[f"{prefix}.iters"] = per_pass(c["iterations"] for c in counters)
        elif prefix == "scc":
            out["scc.ticks"] = per_pass(c["ticks"] for c in cs)
            out["scc.tick_s"] = per_pass(c["tick_s"] for c in cs)
            out["scc.rounds"] = per_pass(c["iterations"] for c in counters)
            out["scc.bfs_hops"] = per_pass(c["FWD_iterations"] for c in counters)
            out["scc.trim_iters"] = per_pass(c["Trimm_iterations"] for c in counters)
            for ph in SCC_PHASES:
                out[f"scc.phase.{ph}_s"] = per_pass(e - s for c in cs for name, s, e in c["phases"] if name == ph)
            bfs = [(s, e) for c in cs for name, s, e in c["phases"] if name == "bfs"]
            bfs_jobs = sum(1 for j in jids if any(s <= timed[j]["start"] <= e for s, e in bfs))
            out["scc.jobs_per_hop"] = bfs_jobs / max(1, sum(c["FWD_iterations"] for c in counters))
        else:
            out["partitioned.tasks"] = sum(events["tasks"].get(j, 0) for j in jids) / n
    all_c = [c for p in passes for c in p["counters"].values()]
    out["superstep.ticks"] = per_pass(c["ticks"] for c in all_c)
    out["superstep.tick_s"] = per_pass(c["tick_s"] for c in all_c)
    out["superstep.ckpt_writes"] = per_pass(c.get("ckpt_writes", 0) for c in all_c)
    out["superstep.ckpt_s"] = per_pass(c.get("ckpt_s", 0.0) for c in all_c)
    out["superstep.ckpt_bytes"] = per_pass(c["ckpt_bytes"] for c in all_c)
    out["superstep.persisted_rdds_after"] = per_pass(c["persisted_rdds_after"] for c in all_c)
    if "scc_s" in job_times:
        out["scc_edges_per_s"] = out["ingest.edges"] / job_times["scc_s"]

    intervals = [(j["start"], j["end"]) for j in timed.values() if j["end"] is not None]
    segments = [seg for p in passes for seg in p["segments"]]
    seg_s = sum(e - s for s, e in segments)
    busy = tracing.union_seconds(intervals)
    out.update({
        "spark.jobs": len(timed) / n,
        "spark.stages": sum(events["stages"].get(j, 0) for j in timed) / n,
        "spark.tasks": sum(events["tasks"].get(j, 0) for j in timed) / n,
        "spark.failed_tasks": sum(events["failed_tasks"].values()),
        "spark.shuffle_write_bytes": sum(events["shuffle_write"].get(j, 0) for j in timed) / n,
        "spark.job_busy_s": busy / n,
        "spark.driver_gap_s": max(0.0, seg_s - busy) / n,
        "spark.cpu_busy_frac": sum(p["cpu_s"] for p in passes) / (seg_s * nproc),
    })
    # self time over the timed passes only: set-up has its own metrics above
    selfs = tracing.self_times([s for s in tracer.spans if "group" in s or s["depth"] > 0], intervals)
    for name, prefix in SELF_LAYERS.items():
        out[f"self.{name}_s"] = sum(v for k, v in selfs.items()
                                    if k == prefix or k.startswith(prefix + ".")) / n
    return out


def _trace_overhead(root: str, info: dict, traced_wall: float) -> float | None:
    """Traced wall_s minus the median untraced wall_s recorded for the same
    workload and size in this checkout (None before any untraced run)."""
    path = os.path.join(root, OUT_DIR, "results.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        walls = [r["end_to_end"]["wall_s"] for r in map(json.loads, f)
                 if r["host"]["workload"] == info["workload"] and r["host"]["files"] == info["files"]
                 and not r["host"]["trace"]]
    return traced_wall - statistics.median(walls) if walls else None


def _save(root: str, record: dict, trace: dict | None) -> None:
    out = os.path.join(root, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "results.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    if trace is not None:
        h = record["host"]
        name = f"trace-{h['workload']}-seed{h['seed']}-{int(time.time())}.json"
        with open(os.path.join(out, name), "w") as f:
            json.dump({**record, **trace}, f, default=str)


def _no_span(layer, **attrs):
    return nullcontext({"start": time.time()})


def _stop_gateway(gateway) -> None:
    """Close the py4j gateway and wait for the JVM it launched to exit."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files", type=int, default=None,
                    help="corpus size override (tests use a few thousand files)")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("detectingscc_spark/session.py", "tests/oracles.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root", file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    priv = os.path.join(root, OUT_DIR, f"run-{os.getpid()}")
    try:
        line = run(args, priv, root)
    finally:
        shutil.rmtree(priv, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
