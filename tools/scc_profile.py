import sys, time, os, json
sys.path.insert(0, "/root/repo")
from detectingscc_spark.session import get_spark
from detectingscc_spark.corpus import generate_corpus
from detectingscc_spark.ingest import ingest
from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.plans.superstep import SuperstepRunner

n = int(os.environ.get("N", "100000"))
import os as _os
_master = _os.environ.get("MASTER")
_extra = {}
if _master and _master.startswith("local-cluster"):
    _cores = _os.environ.get("EXEC_CORES", "4")
    _extra = {"spark.executor.extraJavaOptions": f"-XX:ActiveProcessorCount={_cores}"}
spark = get_spark(app_name="profile", master=_master, extra_conf=_extra)
if os.environ.get("RULE_EDGES", "0") == "1":
    from detectingscc_spark.corpus import expected_edges
    edges = expected_edges(spark, n).persist(); ne = edges.count()
    verts = spark.range(n).withColumnRenamed("id", "id").select("id")
else:
    corpus = generate_corpus(spark, n).persist(); corpus.count()
    verts, edges, _ = ingest(spark, corpus)
    edges = edges.persist(); ne = edges.count()

class T(SuperstepRunner):
    t0 = time.time()
    last = time.time()
    def log(self, phase, **kv):
        now = time.time()
        print(f"+{now-self.t0:7.1f} (+{now-self.last:5.1f}) step={self.superstep} {phase} {kv}", flush=True)
        self.last = now
        super().log(phase, **kv)

r = T(spark)
t0 = time.time()
res = strongly_connected_components(spark, edges, verts.select("id") if "fid" in getattr(verts, "columns", []) or "repo" in getattr(verts, "columns", []) else verts,
        runner=r, local_finish_edges=int(os.environ.get("LOCAL_FINISH", "100000")),
        trim_iters=int(os.environ.get("TRIM_ITERS", "4")))
cnt = res.count()
print(json.dumps({"n": n, "edges": ne, "wall": time.time()-t0, "counters": r.counters}), flush=True)
