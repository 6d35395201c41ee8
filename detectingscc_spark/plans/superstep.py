"""Superstep execution backbone: persistence discipline, metrics, durable
checkpoint + resume.

The reference keeps all per-vertex state device-resident and mutates it in
place across kernel launches (/root/reference/src/scc_WCC.cu:110-111 et
seq.). Spark state is immutable DataFrames, so an iterative algorithm must
(a) persist the new state, (b) unpersist the old, and (c) truncate lineage
every round — otherwise the logical plan grows without bound (the classic
iterative-Spark failure mode). `SuperstepRunner.tick` encapsulates exactly
that.

Durable checkpoints (north_rule: "resumable from checkpoint with
per-partition lineage + metrics") write the live state through a
pluggable Spark datasource format (default parquet) plus a JSON manifest
per superstep:

    <dir>/manifest_<step>.json   {run_id, superstep, counters, metrics,
                                  format, per-partition row counts (lineage)}
    <dir>/state_<step>/<name>/    datasource files in `state_format`

`state_format` (ctor arg or SPARK_GRAFT_STATE_FORMAT) is passed verbatim
to `df.write.format(...)` / `spark.read.format(...)`: on a cluster with
the Iceberg runtime jar on the classpath, `state_format="iceberg"` gives
the north rule's Iceberg snapshots (path-based HadoopTables); in this
sandbox the plumbing is proven format-agnostic with ORC
(tests/test_resume.py::test_resume_orc_state_format). resume() reads
with the format RECORDED IN THE MANIFEST, so a config change between
crash and restart cannot misread old state.

`resume()` returns the newest complete checkpoint; the algorithm driver
re-enters its loop from there and the final output is byte-identical to an
uninterrupted run (tested in tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class SuperstepRunner:
    """Manages persisted state + metrics + durable checkpoints for one
    iterative algorithm run."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        run_id: str = "run0",
        checkpoint_interval: int = 8,
        collect_lineage: bool = True,
        fingerprint: str | None = None,
        state_format: str | None = None,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.run_id = run_id
        # datasource format for durable state ("iceberg" on a cluster with
        # the runtime jar; parquet default — see module docstring)
        self.state_format = state_format or os.environ.get(
            "SPARK_GRAFT_STATE_FORMAT", "parquet"
        )
        # input/param fingerprint: manifests record it and resume() skips
        # checkpoints minted by a different run_id or fingerprint, so
        # rerunning with the same --checkpoint-dir but a different input
        # can never silently return the stale run's state
        self.fingerprint = fingerprint
        self.checkpoint_interval = max(1, checkpoint_interval)
        self.collect_lineage = collect_lineage
        self.superstep = 0
        import threading

        self._lock = threading.Lock()  # ticks may run from worker threads
        # counter parity with the reference's instrumentation
        # (/root/reference/src/scc_WCC.cu:600-603)
        self.counters = {
            "iterations": 0,
            "FWD_iterations": 0,
            "BWD_iterations": 0,
            "Trimm_iterations": 0,
        }
        self.metrics: list[dict] = []
        self._live: dict[str, DataFrame] = {}
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)

    # ---- persistence discipline -------------------------------------

    def tick(
        self,
        name: str,
        df: DataFrame,
        truncate: bool = True,
        count: bool = True,
        detach: bool = True,
    ) -> tuple[DataFrame, int | None]:
        """Persist `df` as the new value of slot `name`, optionally count
        it, release the previous value, and truncate lineage. Returns
        (materialized df, row count | None). Pass count=False when the
        count is not needed for control flow — saves one job per tick.

        detach=True (default) rebuilds the frame via a Row-RDD round trip
        to RESET carried statistics (see _detach) — required for frames
        whose plans re-reference themselves multiplicatively across
        supersteps (state/active style). It costs a Row<->InternalRow
        conversion on every downstream scan, so pass detach=False for
        large edge/visited frames whose statistics only compound
        additively (semi/anti joins and unions keep sizeInBytes linear in
        the superstep count)."""
        if truncate:
            # eager localCheckpoint both materializes and cuts the plan;
            # the row count rides along as an observed metric of the SAME
            # job — one driver action per tick, not two
            if count:
                from pyspark.sql import Observation

                obs = Observation()
                new = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
                    eager=True
                )
                cnt = int(obs.get["n"])
            else:
                new = df.localCheckpoint(eager=True)
                cnt = None
        else:
            new = df.persist(StorageLevel.MEMORY_AND_DISK)
            if count:
                cnt = new.count()
            else:
                # materialize the cache without a count job
                cnt = None
                new.write.format("noop").mode("overwrite").save()
        with self._lock:
            old = self._live.get(name)
            self._live[name] = new
        if old is not None:
            old.unpersist()
        if detach:
            return self._detach(new), cnt
        # fresh expression ids only (no stats reset, no conversion cost)
        return new.select([F.col(c).alias(c) for c in new.columns]), cnt

    def _detach(self, df: DataFrame) -> DataFrame:
        """Wrap a materialized frame as a fresh JVM DataFrame.

        Two reasons, both load-bearing for iterative algorithms:
        (1) fresh expression ids — prevents ambiguous-self-join errors
            when state is joined against frames derived from it;
        (2) STATS RESET — localCheckpoint carries the optimized plan's
            sizeInBytes into the new leaf (originStats). Iterative joins
            then COMPOUND those statistics multiplicatively: after n
            supersteps the BigInt sizeInBytes has O(2^n) digits and
            Catalyst's SizeInBytesOnlyStatsPlanVisitor spends minutes in
            BigInteger.multiply during planning (observed as a live-lock
            at ~20 BFS hops). Rebuilding via createDataFrame(rdd, schema)
            drops originStats so every tick restarts from default leaf
            statistics.
        """
        try:
            # zero-copy: rewrap the materialized InternalRow RDD as a new
            # LogicalRDD leaf (fresh attrs, no originStats, no encoder)
            jdf = df._jdf
            jnew = self.spark._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            )
            return DataFrame(jnew, self.spark)
        except Exception:
            pass
        try:
            jdf = df._jdf
            jnew = self.spark._jsparkSession.createDataFrame(jdf.rdd(), jdf.schema())
            return DataFrame(jnew, self.spark)
        except Exception:
            # spark-connect or API drift: fall back to fresh aliases only
            return df.select([F.col(c).alias(c) for c in df.columns])

    def promote(self, src: str, dst: str) -> None:
        """Move slot `src` to slot `dst`, releasing dst's old value."""
        new = self._live.pop(src, None)
        old = self._live.get(dst)
        if new is not None:
            self._live[dst] = new
        if old is not None and old is not new:
            old.unpersist()

    def release(self, name: str) -> None:
        old = self._live.pop(name, None)
        if old is not None:
            old.unpersist()

    def release_all(self) -> None:
        for name in list(self._live):
            self.release(name)

    # ---- metrics -----------------------------------------------------

    def log(self, phase: str, **kv) -> None:
        rec = {
            "run_id": self.run_id,
            "superstep": self.superstep,
            "phase": phase,
            "wall_ts": time.time(),
            **kv,
        }
        self.metrics.append(rec)

    def bump(self, counter: str, by: int = 1) -> None:
        self.counters[counter] = self.counters.get(counter, 0) + by

    # ---- durable checkpoint / resume ----------------------------------

    def _lineage(self, df: DataFrame) -> list[dict]:
        if not self.collect_lineage:
            return []
        rows = (
            df.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .count()
            .collect()
        )
        return [{"partition": int(r["__pid"]), "rows": int(r["count"])} for r in rows]

    def maybe_checkpoint(self, states: dict[str, DataFrame], force: bool = False) -> bool:
        """Write a durable checkpoint if the interval elapsed (or forced)."""
        if not self.checkpoint_dir:
            return False
        if not force and self.superstep % self.checkpoint_interval != 0:
            return False
        step_dir = os.path.join(self.checkpoint_dir, f"state_{self.superstep}")
        lineage = {}
        for name, df in states.items():
            path = os.path.join(step_dir, name)
            df.write.mode("overwrite").format(self.state_format).save(path)
            lineage[name] = self._lineage(df)
        manifest = {
            "run_id": self.run_id,
            "fingerprint": self.fingerprint,
            "format": self.state_format,
            "superstep": self.superstep,
            "counters": dict(self.counters),
            "states": sorted(states),
            "lineage": lineage,
            "metrics_tail": self.metrics[-50:],
            "wall_ts": time.time(),
        }
        tmp = os.path.join(self.checkpoint_dir, f".manifest_{self.superstep}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.checkpoint_dir, f"manifest_{self.superstep}.json"))
        return True

    def resume(self) -> tuple[int, dict[str, DataFrame]] | None:
        """Load the newest complete checkpoint, restoring counters."""
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        manifests = sorted(
            (
                int(f[len("manifest_") : -len(".json")])
                for f in os.listdir(self.checkpoint_dir)
                if f.startswith("manifest_") and f.endswith(".json")
            ),
            reverse=True,
        )
        for step in manifests:
            with open(os.path.join(self.checkpoint_dir, f"manifest_{step}.json")) as f:
                manifest = json.load(f)
            if manifest.get("run_id") != self.run_id:
                continue
            if manifest.get("fingerprint") != self.fingerprint:
                continue
            step_dir = os.path.join(self.checkpoint_dir, f"state_{step}")
            # read with the format the manifest RECORDS (not the current
            # setting): a config change between crash and restart must not
            # misread old state. Pre-format manifests default to parquet.
            fmt = manifest.get("format", "parquet")
            try:
                states = {
                    name: self.spark.read.format(fmt).load(os.path.join(step_dir, name))
                    for name in manifest["states"]
                }
            except Exception:
                continue
            self.superstep = step
            self.counters.update(manifest.get("counters", {}))
            return step, states
        return None
