"""Label propagation (community detection) — north_rule companion
algorithm (SURVEY.md §2.11).

Synchronous LPA over the undirected graph: every round each vertex adopts
the most frequent label among its neighbors, ties broken by MIN label,
for a fixed number of rounds (synchronous + deterministic tie-break makes
the result exactly reproducible — required for oracle testing; classic
async LPA is nondeterministic).

One shuffle per round: groupBy(dst, label).count() then per-dst
max_by(label, struct(count, -label)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.superstep import SuperstepRunner, bc


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    rounds: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Return (id: long, label: long) after `rounds` synchronous rounds."""
    runner = runner or SuperstepRunner(spark, run_id="lpa")
    E = (
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    und = E.unionByName(E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()

    verts = E.select(F.col("src").alias("id")).union(E.select(F.col("dst").alias("id"))).distinct()
    if vertices is not None:
        verts = verts.union(vertices.select(F.col("id").cast("long"))).distinct()

    lab = verts.select("id", F.col("id").alias("label"))
    lab, n_verts = runner.tick("label", lab)

    # keyed by the vote aggs' key (dst) while labels broadcast — both
    # per-round aggregations are then exchange-free — by the vote join's
    # key (src) past the limit
    und = runner.keyed("edges", und, n_verts, "dst", "src")

    for i in range(rounds):
        runner.superstep = i + 1
        runner.bump("iterations")
        # label side broadcast-hinted from the driver-known vertex count
        # (the detached frame's stats are reset by design); the und frame
        # is partitioned by dst, which also satisfies both vote aggs'
        # clustering, so a broadcast-joined round runs exchange-free
        votes = (
            und.join(bc(lab.select(F.col("id").alias("src"), F.col("label").alias("nl")), n_verts), "src")
            .groupBy("dst", "nl")
            .agg(F.count("*").alias("c"))
            .groupBy("dst")
            .agg(F.expr("max_by(nl, struct(c, -nl))").alias("winner"))
            .select(F.col("dst").alias("id"), "winner")
        )
        new_lab = lab.join(bc(votes, n_verts), "id", "left").select(
            "id", F.coalesce(F.col("winner"), F.col("label")).alias("label")
        )
        lab, _ = runner.tick("label", new_lab, count=False)
        runner.log("lpa_round")
    runner.finish("label")
    return lab.select("id", "label")
