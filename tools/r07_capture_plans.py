"""Capture .explain("formatted") plans for the round-7 before/after
evidence (plans/r07/<name>_{before,after}.txt).

For non-iterative queries the captured frame is the query's own lazy
DataFrame. Iterative operators tick (materialize) every superstep, so
their final frame is just a union of checkpoint leaves — for those we
reconstruct ONE representative superstep plan lazily, with small
materialized stand-ins for the loop state, exactly as the operator
builds it. Run from a checkout:

    python tools/r07_capture_plans.py <outdir> <suffix>

e.g. `python tools/r07_capture_plans.py plans/r07 after` at HEAD and
`python /root/repo/tools/r07_capture_plans.py /root/repo/plans/r07 before`
from a round-start worktree (the harness only imports from its CWD repo).
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402
from pyspark.storagelevel import StorageLevel  # noqa: E402


def persisted(df):
    """Replicate SuperstepRunner.tick(truncate=False): persist (which,
    unlike localCheckpoint, PRESERVES partitioning) + materialize."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.write.format("noop").mode("overwrite").save()
    return out.select([F.col(c).alias(c) for c in out.columns])


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main():
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)

    from detectingscc_spark.session import get_spark

    spark = get_spark(app_name=f"plan-capture-{suffix}")
    SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    import __spark_entry__ as entry
    from detectingscc_spark.graph import derived_edges

    out: dict[str, object] = {}

    # ---- non-iterative queries: the query frame itself ----------------
    for q in ("clustering_coeff", "assortativity", "edge_support",
              "minhash_pairs", "decontaminate", "bm25_topk",
              "stratified_sample", "repetition_stats", "pricing_summary",
              "top_orders", "degrees", "sessionize", "embedding_topk",
              "exact_dedup", "text_stats"):
        out[q] = entry.queries()[q](spark, SF)

    # ---- ANN probe (builds/reuses the persisted index) ----------------
    out["ann_lsh_indexed"] = entry.queries()["ann_lsh_indexed"](spark, SF)

    # ---- representative supersteps of the iterative operators ---------
    E = derived_edges(spark, SF).localCheckpoint(eager=True)
    verts = (
        E.select(F.col("src").alias("id"))
        .union(E.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()

    # pagerank: iteration-1 new_rank plan (the per-iteration unit)
    from detectingscc_spark.operators import pagerank as pr_mod

    new_code = "dang" in inspect.getsource(pr_mod.pagerank)
    outdeg = E.groupBy("src").count().select(F.col("src").alias("id"), F.col("count").alias("od"))
    Ew_raw = E.join(outdeg, E["src"] == outdeg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("od")).alias("w")
    )
    if new_code:
        Ew = persisted(Ew_raw.repartition("dst"))
    else:
        Ew = Ew_raw.repartition("src").localCheckpoint(eager=True)
    if new_code:
        from detectingscc_spark.plans.superstep import bc as _bc

        vts = verts.join(
            outdeg.select("id", F.lit(True).alias("has_out")), "id", "left"
        ).select("id", F.coalesce(F.col("has_out"), F.lit(False)).alias("has_out"))
        vts = vts.select("id", (~F.col("has_out")).alias("dang")).localCheckpoint(eager=True)
        rank = vts.select("id", (F.lit(1.0) / F.lit(n)).alias("rank"), "dang").localCheckpoint(eager=True)
        dm = rank.where(F.col("dang")).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        contrib = (
            Ew.join(_bc(rank.select("id", "rank"), n).withColumnRenamed("id", "src"), "src")
            .groupBy("dst").agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
            .select(F.col("dst").alias("id"), "c")
        )
        out["pagerank_iteration"] = (
            vts.join(_bc(contrib, n), "id", "left").crossJoin(F.broadcast(dm))
            .select("id", (F.lit(0.15 / n) + F.lit(0.85) * (
                F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / F.lit(float(n)))).alias("rank"), "dang")
        )
    else:
        dangling_ids = verts.join(outdeg, "id", "left_anti").localCheckpoint(eager=True)
        rank = verts.select("id", (F.lit(1.0) / F.lit(n)).alias("rank")).localCheckpoint(eager=True)
        dm = rank.join(dangling_ids, "id", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        contrib = (
            Ew.join(rank.withColumnRenamed("id", "src"), "src")
            .groupBy("dst").agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
            .select(F.col("dst").alias("id"), "c")
        )
        out["pagerank_iteration"] = (
            verts.join(contrib, "id", "left").crossJoin(F.broadcast(dm))
            .select("id", (F.lit(0.15 / n) + F.lit(0.85) * (
                F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / F.lit(float(n)))).alias("rank"))
        )

    # wcc: one label-propagation iteration
    from detectingscc_spark.operators import components as cc_mod

    und_cc = E.unionByName(E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    lab = verts.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
    if "bc(" in inspect.getsource(cc_mod.connected_components):
        from detectingscc_spark.plans.superstep import bc as _bc

        und_cc = persisted(und_cc.repartition("src"))
        cur = lab
        for _ in range(2):
            cur = cur.join(
                _bc(lab.select(F.col("id").alias("label"), F.col("label").alias("ll")), n),
                "label", "left",
            ).select("id", F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"))
        nbr = (
            und_cc.join(_bc(cur.select(F.col("id").alias("dst"), F.col("label").alias("nl")), n), "dst")
            .groupBy("src").agg(F.min("nl").alias("nmin"))
            .select(F.col("src").alias("id"), "nmin")
        )
        out["wcc_iteration"] = cur.join(_bc(nbr, n), "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"))
    else:
        und_cc = und_cc.repartition("src").localCheckpoint(eager=True)
        nbr = (
            und_cc.join(lab.select(F.col("id").alias("dst"), F.col("label").alias("nl")), "dst")
            .groupBy("src").agg(F.min("nl").alias("nmin"))
            .select(F.col("src").alias("id"), "nmin")
        )
        l1 = lab.join(nbr, "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"))
        out["wcc_iteration"] = l1.alias("a").join(
            l1.select(F.col("id").alias("label"), F.col("label").alias("ll")).alias("b"),
            "label", "left",
        ).select(F.col("id"), F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"))

    # lpa: one voting round
    from detectingscc_spark.operators import lpa as lpa_mod

    und_l = E.unionByName(E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    if "bc(" in inspect.getsource(lpa_mod.label_propagation):
        und_l = persisted(und_l.repartition("dst"))
    else:
        und_l = und_l.repartition("dst").localCheckpoint(eager=True)
    if "bc(" in inspect.getsource(lpa_mod.label_propagation):
        from detectingscc_spark.plans.superstep import bc as _bc

        votes = (
            und_l.join(_bc(lab.select(F.col("id").alias("src"), F.col("label").alias("nl")), n), "src")
            .groupBy("dst", "nl").agg(F.count("*").alias("c"))
            .groupBy("dst").agg(F.expr("max_by(nl, struct(c, -nl))").alias("winner"))
            .select(F.col("dst").alias("id"), "winner")
        )
        out["lpa_round"] = lab.join(_bc(votes, n), "id", "left").select(
            "id", F.coalesce(F.col("winner"), F.col("label")).alias("label"))
    else:
        votes = (
            und_l.join(lab.select(F.col("id").alias("src"), F.col("label").alias("nl")), "src")
            .groupBy("dst", "nl").agg(F.count("*").alias("c"))
            .groupBy("dst").agg(F.expr("max_by(nl, struct(c, -nl))").alias("winner"))
            .select(F.col("dst").alias("id"), "winner")
        )
        out["lpa_round"] = lab.join(votes, "id", "left").select(
            "id", F.coalesce(F.col("winner"), F.col("label")).alias("label"))

    # hits: one half-step push (the per-half-step unit)
    from detectingscc_spark.operators import hits as hits_mod

    if "total_prev" in inspect.getsource(hits_mod.hits):
        raw_prev = verts.select("id", (F.lit(1.0) / F.lit(float(n))).alias("raw")).localCheckpoint(eager=True)
        total_prev = raw_prev.agg(F.sum("raw").alias("t"))
        if "_keyed_copies" in inspect.getsource(hits_mod):
            e_push = persisted(E.repartition("dst"))  # agg-key copy (broadcast regime)
        else:
            e_push = E
        j = e_push.join(raw_prev.withColumnRenamed("id", "src"), "src").crossJoin(F.broadcast(total_prev))
        out["hits_halfstep"] = j.groupBy(F.col("dst").alias("id")).agg(
            F.sum(F.col("raw") / F.col("t")).alias("raw"))
    else:
        scores = verts.select("id", (F.lit(1.0) / F.lit(float(n))).alias("s")).localCheckpoint(eager=True)
        raw = E.join(scores.withColumnRenamed("id", "src"), "src").groupBy(
            F.col("dst").alias("id")).agg(F.sum("s").alias("raw")).localCheckpoint(eager=True)
        total = raw.agg(F.sum("raw").alias("t"))
        out["hits_halfstep"] = (
            verts.join(raw, "id", "left").crossJoin(F.broadcast(total))
            .select("id", (F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("t")).alias("s"))
        )

    # scc: the pivot-election plan over a materialized residual
    from detectingscc_spark.operators import scc as scc_mod

    re_f = E.withColumn("range", F.lit(0).cast("long")).repartition("src").localCheckpoint(eager=True)
    active = verts.select("id", F.lit(0).cast("long").alias("range")).localCheckpoint(eager=True)
    if "unionByName(re.select(F.col(\"dst\").alias(\"id\"), F.lit(0).alias(\"o\")))" in inspect.getsource(
        scc_mod.strongly_connected_components
    ):
        from detectingscc_spark.plans.superstep import bc as _bc

        degs = (
            re_f.select(F.col("src").alias("id"), F.lit(1).alias("o"))
            .unionByName(re_f.select(F.col("dst").alias("id"), F.lit(0).alias("o")))
            .groupBy("id").agg((F.sum("o") * F.sum(1 - F.col("o"))).alias("prod"))
        )
        out["scc_pivots"] = (
            active.join(_bc(degs, n), "id", "left")
            .select("id", "range", F.coalesce("prod", F.lit(0)).alias("prod"))
            .groupBy("range").agg(F.expr("max_by(id, struct(prod, -id))").alias("pivot"))
        )
    else:
        outd = re_f.groupBy("src").count().select(F.col("src").alias("id"), F.col("count").alias("od"))
        ind = re_f.groupBy("dst").count().select(F.col("dst").alias("id"), F.col("count").alias("inde"))
        degs = outd.join(ind, "id", "full").select(
            "id", (F.coalesce("od", F.lit(0)) * F.coalesce("inde", F.lit(0))).alias("prod"))
        out["scc_pivots"] = (
            active.join(degs, "id", "left")
            .select("id", "range", F.coalesce("prod", F.lit(0)).alias("prod"))
            .groupBy("range").agg(F.expr("max_by(id, struct(prod, -id))").alias("pivot"))
        )

    # coloring: one color-propagation tick
    from detectingscc_spark.operators import coloring as col_mod

    col_df = active.select("id", F.col("id").alias("color")).localCheckpoint(eager=True)
    if "prop_jumps" in inspect.getsource(col_mod.scc_coloring):
        from detectingscc_spark.plans.superstep import bc as _bc

        re_f = persisted(re_f.repartition("src"))
        cur = col_df
        for _ in range(2):
            cur = cur.join(
                _bc(col_df.select(F.col("id").alias("color"), F.col("color").alias("cc")), n),
                "color", "left",
            ).select("id", F.greatest(F.col("color"), F.coalesce(F.col("cc"), F.col("color"))).alias("color"))
        nbr = (
            re_f.join(_bc(cur.select(F.col("id").alias("dst"), F.col("color").alias("nc")), n), "dst")
            .groupBy("src").agg(F.max("nc").alias("nmax"))
            .select(F.col("src").alias("id"), "nmax")
        )
        out["coloring_prop_tick"] = cur.join(_bc(nbr, n), "id", "left").select(
            "id", F.greatest(F.col("color"), F.coalesce(F.col("nmax"), F.col("color"))).alias("color"))
    else:
        nbr = (
            re_f.join(col_df.select(F.col("id").alias("dst"), F.col("color").alias("nc")), "dst")
            .groupBy("src").agg(F.max("nc").alias("nmax"))
            .select(F.col("src").alias("id"), "nmax")
        )
        c1 = col_df.join(nbr, "id", "left").select(
            "id", F.greatest(F.col("color"), F.coalesce(F.col("nmax"), F.col("color"))).alias("color"))
        out["coloring_prop_tick"] = c1.alias("a").join(
            c1.select(F.col("id").alias("color"), F.col("color").alias("cc")).alias("b"),
            "color", "left",
        ).select(F.col("id"), F.greatest(F.col("color"), F.coalesce(F.col("cc"), F.col("color"))).alias("color"))

    # partitioned scc: the intra-part edge derivation + contraction input
    from detectingscc_spark.operators import partitioned as part_mod

    n_parts = 32
    if "pure FUNCTION" in inspect.getsource(part_mod.scc_partitioned) or (
        "% n_parts) == (F.col(\"dst\") % n_parts)" in inspect.getsource(part_mod.scc_partitioned)
    ):
        out["partitioned_local_edges"] = E.where(
            (F.col("src") % n_parts) == (F.col("dst") % n_parts)
        ).select((F.col("src") % n_parts).cast("long").alias("part"), "src", "dst")
    else:
        vp = verts.select("id", (F.col("id") % n_parts).cast("long").alias("part"))
        out["partitioned_local_edges"] = (
            E.join(vp.select(F.col("id").alias("src"), F.col("part").alias("sp")), "src")
            .join(vp.select(F.col("id").alias("dst"), F.col("part").alias("dp")), "dst")
            .where(F.col("sp") == F.col("dp"))
            .select(F.col("sp").alias("part"), "src", "dst")
        )

    # scc BFS hop: one frontier expansion (dedup + visited anti-join)
    ed_raw = re_f.select(F.lit(0).alias("dir"), F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        re_f.select(F.lit(1).alias("dir"), F.col("dst").alias("u"), F.col("src").alias("v")))
    if "n_active" in inspect.getsource(scc_mod._bfs_join):
        ed = persisted(ed_raw.repartition(4, "dir", "v"))
    else:
        ed = persisted(ed_raw.coalesce(1))
    front = verts.limit(10).select(F.lit(0).alias("dir"), F.col("id").alias("u")).localCheckpoint(eager=True)
    vis = front.withColumnRenamed("u", "id").localCheckpoint(eager=True)
    out["scc_bfs_hop"] = (
        ed.join(F.broadcast(front), ["dir", "u"])
        .select("dir", F.col("v").alias("id")).distinct()
        .join(F.broadcast(vis), ["dir", "id"], "left_anti")
    )

    for name, df in out.items():
        p = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(p, "w") as f:
            f.write(fmt(df))
        print("wrote", p)


if __name__ == "__main__":
    main()
