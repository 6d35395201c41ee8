"""Strongly connected components via forward-backward reachability with
trim-1/trim-2 pruning (FB-Trim), as iterative DataFrame supersteps.

Re-expresses the reference's `vHong` driver
(/root/reference/src/scc_WCC.cu:568-967) Spark-first:

  phase                reference                       here
  -----                ---------                       ----
  trim1 fixpoint       scc_kernels.cu:187-233          degree semi-joins + anti-join
  trim2                scc_kernels.cu:236-357          indeg==1 mutual-only-neighbor self-join
  pivot election       scc_kernels.cu:57-74,643-656    groupBy(range).agg(max_by(id, struct(prod,-id)))
                       (racy argmax)                   -> deterministic tie-break
  FW/BW BFS            scc_kernels.cu:360-386,419-445  frontier join vs residual edges
  update 3r+fw+2bw     scc_kernels.cu:124-142          (range,sub)->min(id) re-labeling
                                                       (bounded labels, no 3^k overflow)
  WCC decomposition    scc_WCC.cu:829-840              hash-min + pointer jumping

Output contract: (id: long, scc_id: long) with scc_id = min member id
(canonical labels; the reference's racy pivots make its raw labels
nondeterministic, but the partition itself is identical).

Scale design (100 TB): the full edge table is joined exactly ONCE (round
1 residual materialization); afterwards every phase — trims, pivots,
BFS, decomposition — operates on the monotonically shrinking residual
edge set, which is filtered in place as vertices retire (the Spark analog
of the reference keeping all state device-resident and masking retired
rows per kernel). When the residual drops below `local_finish_edges` the
driver finishes with an in-memory Tarjan pass — the distributed rounds
have already removed the giant SCC and trims, and a sub-threshold tail is
latency- not throughput-bound (intent of detectSCC's merge phase,
/root/reference/src/scc_WCC.cu:1345-1528, without its quadratic closure
sets).

Superstep fixed-cost discipline (the scaling-efficiency levers):
  * ONE driver action per tick — row counts ride as observed metrics of
    the materialization job itself (superstep.py), never a second count.
  * ONE join per BFS hop — FW/BW edges and frontiers share a dir tag.
    Each hop is materialized on its own: Spark does not reuse subplans,
    so fused multi-hop windows recompute every inner level once per
    outer level (measured slower at every size, BASELINE.md).
  * Frontier joins and visited anti-joins broadcast while the driver-
    known row count is under BROADCAST_ROW_LIMIT; past it they are plain
    shuffle joins, and AQE skew-join splitting spreads hub adjacency
    (per-hub salting measured slower, BASELINE.md).
  * Retired vertices accumulate as materialized fragments; the `done`
    set is their lazy union (no O(done) rewrite per emit).
  * trim1 re-derives the residual lazily per iteration and materializes
    it once per fixpoint.
Every superstep localCheckpoints to truncate lineage and periodically
commits a durable parquet checkpoint + manifest for resume (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.superstep import SuperstepRunner

# (dir,id) rows ~16B each -> <=24MB broadcast. The same cap bounds the
# BFS visited-set anti-join, whose build side GROWS every hop: at a 300k
# cap a round-7 order-alternated A/B at 4x bench scale (941k edges, vis
# peaking ~800k rows) measured the shuffle anti-join it falls back to —
# which sort-merges level AND vis every hop — ~10% SLOWER end to end than
# broadcasting up to this byte bound. Past it the anti-join still
# shuffles (AQE-sized), keeping data motion on the executors.
BROADCAST_ROW_LIMIT = 1_500_000


def _bc(df: DataFrame, cnt: int | None) -> DataFrame:
    """Broadcast hint for driver-known-small frames (frontiers, pivots)."""
    if cnt is not None and cnt <= BROADCAST_ROW_LIMIT:
        return F.broadcast(df)
    return df


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Dedup + drop self loops. SCC membership is invariant under both
    (the reference keeps duplicate edges, /root/reference/src/load.cpp;
    results agree — see tests on the dup-edge fixture)."""
    return (
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )


def _tarjan_local(edge_rows, vertex_ids):
    """Iterative Tarjan on the (small) residual graph, driver-side.
    Returns {vertex: scc_min_id}."""
    adj: dict = {v: [] for v in vertex_ids}
    for s, d in edge_rows:
        if s in adj and d in adj:
            adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    result = {}
    counter = [0]
    for root in vertex_ids:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj[v]
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    result[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                if low[v] < low[p]:
                    low[p] = low[v]
    return result


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    runner: SuperstepRunner | None = None,
    checkpoint_dir: str | None = None,
    max_rounds: int = 64,
    max_bfs_hops: int = 10_000,
    local_finish_edges: int = 0,
    decompose_every: int = 4,
    decompose_iters: int = 12,
    trim2_enabled: bool = True,
    trim_iters: int = 4,
) -> DataFrame:
    """Compute SCCs of a directed graph given as edges(src, dst).

    `vertices(id)` optionally supplies isolated vertices (GTgraph declares
    V explicitly; vertices without arcs are singleton SCCs — e.g.
    /root/reference/data/sample0.gr has V=6 with two arcless vertices).

    Set `local_finish_edges > 0` to let the driver finish a sub-threshold
    residual with in-memory Tarjan; tests exercise both paths.
    """
    runner = runner or SuperstepRunner(spark, checkpoint_dir=checkpoint_dir)

    resumed = runner.resume()
    if resumed is not None:
        _, states = resumed
        active, a_cnt = runner.tick("active", states["active"])
        re, _ = runner.tick("re", states["re"])
        rnd = runner.superstep
        first_done = states["done"]
    else:
        E = _canonical_edges(edges)
        verts = E.select(F.col("src").alias("id")).union(E.select(F.col("dst").alias("id"))).distinct()
        if vertices is not None:
            verts = verts.union(vertices.select(F.col("id").cast("long"))).distinct()
        init = verts.select("id", F.lit(0).cast("long").alias("range"))
        active, a_cnt = runner.tick("active", init)
        # round-1 residual: the ONLY pass over the full edge table.
        # localCheckpoint drops the src keying, but AQE coalesces this
        # shuffle by bytes and every later residual tick inherits its
        # partition count: without it the distinct's 32 partitions carry
        # through (10k-file benchmark graph: 680 more tasks, slower run)
        re, _ = runner.tick("re", E.withColumn("range", F.lit(0).cast("long")).repartition("src"), detach=False)
        rnd = 0
        first_done = spark.createDataFrame([], "id long, scc_id long")

    # retired vertices accumulate as MATERIALIZED FRAGMENTS; the logical
    # `done` set is their lazy union. Ticking only the (small) new
    # fragment avoids rewriting the whole done set on every emit — the
    # old design's O(done) localCheckpoint per trim/update was a large
    # share of the superstep fixed cost.
    done_frags: list[DataFrame] = []

    def emit_done(new_rows: DataFrame) -> None:
        frag, _ = runner.tick(
            f"done_{len(done_frags)}", new_rows.select("id", "scc_id"),
            count=False, detach=False,
        )
        done_frags.append(frag)

    def all_done() -> DataFrame:
        out = done_frags[0]
        for frag in done_frags[1:]:
            out = out.unionByName(frag)
        return out

    emit_done(first_done)

    while a_cnt > 0:
        rnd += 1
        runner.superstep = rnd
        runner.bump("iterations")
        if rnd > max_rounds:
            raise RuntimeError(f"SCC did not converge in {max_rounds} rounds")

        def refresh_residual(re, active, a_cnt):
            a_src = _bc(active, a_cnt).select(F.col("id").alias("src"), F.col("range").alias("srange"))
            a_dst = _bc(active, a_cnt).select(F.col("id").alias("dst"), F.col("range").alias("drange"))
            return runner.tick(
                "re",
                re.select("src", "dst")
                .join(a_src, "src")
                .join(a_dst, "dst")
                .where(F.col("srange") == F.col("drange"))
                .select("src", "dst", F.col("srange").alias("range")),
                detach=False,
            )

        # ---- refresh residual for current membership + ranges ---------
        # (round 1 after a cold start is a no-op: every vertex is active
        # in range 0 and the initial residual IS the canonical edge set)
        if rnd == 1 and resumed is None:
            re_cnt = re.count()
        else:
            re, re_cnt = refresh_residual(re, active, a_cnt)

        # ---- optional range decomposition (weak components of residual)
        # (after refresh: must only see same-CURRENT-range edges, else it
        # would partially undo the previous round's FB split)
        if rnd > 1 and decompose_every and (rnd - 2) % decompose_every == 0:
            active, a_cnt = _decompose(runner, re, active, a_cnt, decompose_iters)
            runner.log("decompose", active=a_cnt)
            re, re_cnt = refresh_residual(re, active, a_cnt)
        runner.log("residual", active=a_cnt, edges=re_cnt)

        # ---- trim1 (bounded fixpoint; stragglers become singleton
        # ranges and retire via later pivots — correctness unaffected) --
        active, a_cnt, re, re_cnt = _trim1_fixpoint(
            runner, re, re_cnt, active, a_cnt, emit_done, trim_iters
        )
        if a_cnt == 0:
            break
        if trim2_enabled:
            active, a_cnt, re, re_cnt, fired = _trim2(runner, re, re_cnt, active, a_cnt, emit_done)
            if fired and a_cnt > 0:
                active, a_cnt, re, re_cnt = _trim1_fixpoint(
                    runner, re, re_cnt, active, a_cnt, emit_done, trim_iters
                )
            if a_cnt == 0:
                break

        # ---- optional driver-side finish for a tiny residual ----------
        if local_finish_edges and re_cnt <= local_finish_edges:
            rows = [(r["src"], r["dst"]) for r in re.select("src", "dst").collect()]
            ids = [r["id"] for r in active.select("id").collect()]
            labels = _tarjan_local(rows, ids)
            emit_done(
                spark.createDataFrame(
                    [(int(v), int(s)) for v, s in labels.items()], "id long, scc_id long"
                )
            )
            a_cnt = 0
            runner.log("local_finish", vertices=len(ids), edges=len(rows))
            break

        # ---- pivot election: per-range argmax of indeg*outdeg ---------
        # both degrees in ONE tagged-union agg (1 exchange) instead of
        # two groupBys + a full join (3): a one-sided endpoint has the
        # other degree 0, so the product matches the old coalesce form
        degs = (
            re.select(F.col("src").alias("id"), F.lit(1).alias("o"))
            .unionByName(re.select(F.col("dst").alias("id"), F.lit(0).alias("o")))
            .groupBy("id")
            .agg((F.sum("o") * F.sum(1 - F.col("o"))).alias("prod"))
        )
        pivots = (
            active.join(_bc(degs, a_cnt), "id", "left")
            .select("id", "range", F.coalesce("prod", F.lit(0)).alias("prod"))
            .groupBy("range")
            .agg(F.expr("max_by(id, struct(prod, -id))").alias("pivot"))
        )
        pivots, p_cnt = runner.tick("pivots", pivots)
        runner.log("pivots", ranges=p_cnt)

        # ---- FW + BW BFS from all pivots, confined to their range -----
        # state stays LAZY: it is a broadcast join of two materialized
        # frames, and every consumer (the BFS seed tick, the final
        # assembled-state tick) materializes its own derivation — a
        # dedicated state tick was one more job per round for nothing
        state = active.join(
            _bc(pivots, p_cnt).select(F.col("range"), F.col("pivot")), "range", "left"
        ).select(
            "id",
            "range",
            F.coalesce(F.col("id") == F.col("pivot"), F.lit(False)).alias("fw"),
            F.coalesce(F.col("id") == F.col("pivot"), F.lit(False)).alias("bw"),
        )

        state, hops = _bfs_join(runner, re, re_cnt, state, max_bfs_hops, n_active=a_cnt)
        runner.log("bfs", hops=hops)

        # ---- update: FW∩BW = pivot's SCC; survivors re-ranged ---------
        in_scc = state.where(F.col("fw") & F.col("bw"))
        reps = in_scc.groupBy("range").agg(F.min("id").alias("scc_id"))
        emit_done(in_scc.join(_bc(reps, p_cnt), "range").select("id", "scc_id"))

        surv = state.where(~(F.col("fw") & F.col("bw"))).withColumn(
            "sub", F.when(F.col("fw"), 1).when(F.col("bw"), 2).otherwise(0)
        )
        regroup = surv.groupBy("range", "sub").agg(F.min("id").alias("new_range"))
        active = surv.join(_bc(regroup, None), ["range", "sub"]).select(
            "id", F.col("new_range").alias("range")
        )
        active, a_cnt = runner.tick("active", active)
        runner.log("update", active=a_cnt)

        runner.maybe_checkpoint({"active": active, "done": all_done(), "re": re})
        runner.release("pivots")

    runner.maybe_checkpoint({"active": active, "done": all_done(), "re": re}, force=True)
    return all_done().select(F.col("id").cast("long"), F.col("scc_id").cast("long"))


def _assemble_state(runner, state, vis_f, vis_b):
    """Rebuild (id, range, fw, bw) from the two visited id-sets."""
    out = (
        state.select("id", "range")
        .join(vis_f.withColumn("nf", F.lit(True)), "id", "left")
        .join(vis_b.withColumn("nb", F.lit(True)), "id", "left")
        .select(
            "id",
            "range",
            F.coalesce(F.col("nf"), F.lit(False)).alias("fw"),
            F.coalesce(F.col("nb"), F.lit(False)).alias("bw"),
        )
    )
    out, _ = runner.tick("state", out, count=False)
    return out


def _part_target(rows: int | None, spark=None, bytes_per_row: int = 24) -> int:
    """Partition count sized by DATA VOLUME (~16MB each), capped at the
    session's shuffle parallelism — cached iterative state should never
    carry core-count partitions when the bytes don't warrant them (the
    tiny-task flood is pure scheduler overhead at any cluster size)."""
    if rows is None:
        return 1
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32")) if spark else 32
    return max(1, min(cap, (rows * bytes_per_row) // (16 << 20) + 1))


def _bfs_join(runner, re_f, re_cnt, state, max_bfs_hops, n_active=None):
    """Single-job bidirectional frontier BFS.

    FW and BW edges are unioned into ONE frame tagged `dir` (0=fwd edge
    (src->dst), 1=bwd edge (dst->src)); the frontier carries the same tag,
    so both directions expand in ONE join per hop — half the Spark jobs
    of the previous two-thread design and no executor pool (the fix for
    the superstep fixed-cost scaling bottleneck). Each hop's new level is
    materialized once and becomes the next frontier.

    Skew: while the frontier is broadcast-able the join is a map-side
    hash join and hubs are irrelevant. Past BROADCAST_ROW_LIMIT the hop
    is a plain shuffle join, where AQE skew-join splitting (enabled in
    session.py) spreads a hub's adjacency over several tasks."""
    ed = re_f.select(F.lit(0).alias("dir"), F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        re_f.select(F.lit(1).alias("dir"), F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    # While the frontier stays broadcast-able (bounded by the active
    # count), every hop's joins are broadcast-hash and the only exchange
    # left is the frontier dedup — so partition the cached edge frame by
    # the DEDUP key (dir, v): persist (unlike localCheckpoint) preserves
    # the partitioning, the broadcast join and the select carry it
    # through, and the per-hop distinct becomes exchange-free. Past the
    # broadcast regime the hops are shuffle joins on (dir, u) and key
    # partitioning buys nothing — keep the byte-sized coalesce so per-hop
    # scans cost O(data) tasks.
    n_parts_ed = _part_target(2 * re_cnt if re_cnt else None)
    if n_active is not None and n_active <= BROADCAST_ROW_LIMIT:
        ed = ed.repartition(n_parts_ed, "dir", "v")
    else:
        ed = ed.coalesce(n_parts_ed)
    ed, _ = runner.tick(
        "bfs_ed", ed,
        truncate=False, count=False, detach=False,
    )

    seeds = state.where("fw").select(F.lit(0).alias("dir"), "id").unionByName(
        state.where("bw").select(F.lit(1).alias("dir"), "id")
    )
    front, cnt = runner.tick("bfs_front", seeds, detach=False)
    # visited set = one compacted base + up to COMPACT_EVERY materialized
    # per-hop fragments (lazy union). ONE tick per hop; the base is
    # re-checkpointed only at compaction, not every hop.
    COMPACT_EVERY = 8
    vis, vis_cnt = front, cnt
    frag_slots: list[str] = []
    hops = 0
    while cnt > 0:
        if hops >= max_bfs_hops:
            raise RuntimeError("BFS exceeded max hops")
        hops += 1
        runner.bump("FWD_iterations")
        runner.bump("BWD_iterations")
        new = (
            ed.join(_bc(front.withColumnRenamed("id", "u"), cnt), ["dir", "u"])
            .select("dir", F.col("v").alias("id"))
            .distinct()
            .join(_bc(vis, vis_cnt), ["dir", "id"], "left_anti")
        )
        new, cnt = runner.tick(f"bfs_new_{hops}", new, detach=False)
        if cnt:
            frag_slots.append(f"bfs_new_{hops}")
            vis = vis.unionByName(new)
            vis_cnt += cnt
            if len(frag_slots) >= COMPACT_EVERY:
                vis, _ = runner.tick("bfs_vis", vis, count=False, detach=False)
                # newest fragment stays alive: it is the live frontier for
                # the next hop's join (its blocks must not be dropped)
                for s in frag_slots[:-1]:
                    runner.release(s)
                frag_slots = frag_slots[-1:]
        else:
            runner.release(f"bfs_new_{hops}")
        front = new
    final = _assemble_state(
        runner, state,
        vis.where("dir = 0").select("id"),
        vis.where("dir = 1").select("id"),
    )
    for slot in ["bfs_ed", "bfs_front", "bfs_vis"] + frag_slots:
        runner.release(slot)
    return final, hops


def _trim1_fixpoint(runner, re, re_cnt, active, a_cnt, emit_done, max_iters=4):
    """Iteratively retire vertices with zero residual in- or out-edges
    (singleton SCCs) — reference trim1,
    /root/reference/src/scc_kernels.cu:187-233. Bounded at max_iters per
    round: the geometric tail isn't worth a Spark job per handful of
    rows, and missed stragglers retire in later rounds.

    Edge filtering by a monotone-shrinking vertex set is idempotent, so
    each iteration derives the current residual LAZILY from the
    round-entry residual and the live survivor set (a frame that is
    always materialized when used), and the residual is materialized
    exactly ONCE after the fixpoint — 2 driver actions per trim
    iteration instead of 4."""
    re0 = re
    iters = 0
    trimmed_any = False
    while a_cnt > 0 and iters < max_iters:
        iters += 1
        runner.bump("Trimm_iterations")
        if trimmed_any:
            sv = _bc(active, a_cnt).select("id")
            cur = re0.join(sv.withColumnRenamed("id", "src"), "src", "left_semi").join(
                sv.withColumnRenamed("id", "dst"), "dst", "left_semi"
            )
        else:
            cur = re0
        # raw endpoint columns: the semi-join hash build dedups, so the
        # old per-side .distinct() only added an exchange each
        has_out = cur.select(F.col("src").alias("id"))
        has_in = cur.select(F.col("dst").alias("id"))
        survivors = active.join(has_out, "id", "left_semi").join(has_in, "id", "left_semi")
        survivors, s_cnt = runner.tick("active_next", survivors)
        trimmed_cnt = a_cnt - s_cnt
        runner.log("trim1", trimmed=trimmed_cnt, active=s_cnt)
        if trimmed_cnt > 0:
            trimmed = active.join(survivors.select("id"), "id", "left_anti").select(
                "id", F.col("id").alias("scc_id")
            )
            emit_done(trimmed)
            trimmed_any = True
        runner.promote("active_next", "active")
        active, a_cnt = survivors, s_cnt
        if trimmed_cnt == 0:
            break
    if trimmed_any:
        sv = _bc(active, a_cnt).select("id")
        re, re_cnt = runner.tick(
            "re",
            re0.join(sv.withColumnRenamed("id", "src"), "src", "left_semi").join(
                sv.withColumnRenamed("id", "dst"), "dst", "left_semi"
            ).select("src", "dst", "range"),
            detach=False,
        )
    return active, a_cnt, re, re_cnt


def _trim2(runner, re, re_cnt, active, a_cnt, emit_done):
    """Retire 2-cycle SCCs {u,k} where each is the other's only residual
    in-neighbor (or only out-neighbor) — reference trim2,
    /root/reference/src/scc_kernels.cu:236-357. scc_id = min(u,k)."""
    only_in = (
        re.groupBy("dst").agg(F.count("*").alias("c"), F.min("src").alias("nbr"))
        .where("c = 1")
        .select(F.col("dst").alias("id"), "nbr")
    )
    only_out = (
        re.groupBy("src").agg(F.count("*").alias("c"), F.min("dst").alias("nbr"))
        .where("c = 1")
        .select(F.col("src").alias("id"), "nbr")
    )

    def mutual(only_nbr):
        a = only_nbr.alias("a")
        b = only_nbr.alias("b")
        return (
            a.join(b, (F.col("a.nbr") == F.col("b.id")) & (F.col("b.nbr") == F.col("a.id")))
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("u"), F.col("b.id").alias("k"))
        )

    pairs = mutual(only_in).unionByName(mutual(only_out)).distinct()
    pairs, pair_cnt = runner.tick("t2pairs", pairs)
    if pair_cnt == 0:
        runner.release("t2pairs")
        return active, a_cnt, re, re_cnt, False
    retired = pairs.select(F.col("u").alias("id"), F.col("u").alias("scc_id")).unionByName(
        pairs.select(F.col("k").alias("id"), F.col("u").alias("scc_id"))
    ).distinct()
    retired, r_cnt = runner.tick("t2retired", retired)
    emit_done(retired)
    active, a_cnt = runner.tick("active_next", active.join(retired.select("id"), "id", "left_anti"))
    runner.promote("active_next", "active")
    rt = _bc(retired, r_cnt).select("id")
    re, re_cnt = runner.tick(
        "re",
        re.join(rt.withColumnRenamed("id", "src"), "src", "left_anti").join(
            rt.withColumnRenamed("id", "dst"), "dst", "left_anti"
        ).select("src", "dst", "range"),
        detach=False,
    )
    runner.log("trim2", retired=r_cnt, active=a_cnt)
    runner.release("t2pairs")
    runner.release("t2retired")
    return active, a_cnt, re, re_cnt, True


def _decompose(runner, re, active, a_cnt, iters):
    """Refine ranges to weak components of the residual graph via
    hash-min label propagation + pointer jumping (reference's 'WCC
    decomposition', /root/reference/src/scc_WCC.cu:829-840 /
    scc_kernels.cu:496-536). Any partial refinement is correct: an SCC is
    weakly connected, so min-labels never split an SCC across ranges.

    Round-7 shape: edges are partitioned by the pull-join key (dst) so
    the per-iteration SMJ fallback never reshuffles them; the pointer
    jumps run FIRST, as broadcast self-lookups against the MATERIALIZED
    previous labels (the old post-pull self-join re-evaluated the whole
    un-materialized pull subtree twice per tick); label-side joins are
    broadcast-hinted from the driver-known active count (the detached
    frame's stats are reset by design)."""
    und = re.select("src", "dst").unionByName(
        re.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # broadcast regime: partition by the pull's AGG key (src) so the
    # persisted frame's partitioning rides through the broadcast join and
    # the per-iteration aggregation is exchange-free; past it, partition
    # by the join key (dst) so iterations never reshuffle the edges
    und_key = "src" if a_cnt <= BROADCAST_ROW_LIMIT else "dst"
    und, _ = runner.tick("dec_edges", und.repartition(und_key), truncate=False, detach=False)

    from pyspark.sql import Observation

    lab, _ = runner.tick("dec_lab", active.select("id", F.col("id").alias("label")))
    prev_sum = None  # labels are monotone non-increasing; sum fixpoint = converged
    for i in range(iters):
        cur = lab
        for _j in range(2):
            cur = cur.join(
                _bc(lab.select(F.col("id").alias("label"), F.col("label").alias("ll")), a_cnt),
                "label",
                "left",
            ).select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"),
            )
        nbr = (
            und.join(_bc(cur.select(F.col("id").alias("dst"), F.col("label").alias("nl")), a_cnt), "dst")
            .groupBy("src")
            .agg(F.min("nl").alias("nmin"))
            .select(F.col("src").alias("id"), "nmin")
        )
        lab1 = cur.join(_bc(nbr, a_cnt), "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label")
        )
        # convergence sum rides along as an observed metric of the tick's
        # own materialization job — no separate agg action per iteration
        obs = Observation(f"dec_{i}")
        lab, _ = runner.tick("dec_lab", lab1.observe(obs, F.sum("label").alias("s")), count=False)
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    active, a_cnt = runner.tick("active_next", active.join(lab, "id").select("id", F.col("label").alias("range")))
    runner.promote("active_next", "active")
    runner.release("dec_edges")
    runner.release("dec_lab")
    return active, a_cnt
