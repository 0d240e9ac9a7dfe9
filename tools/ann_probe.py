"""Member-level cold probe for ann_topk (round 13, VERDICT r12 §Next 1/3).

Times each similarity member in ONE cold JVM with the noop sink
(guide §1.4) and labelled jobs, in the SAME alphabetical-first position
ann_topk occupies in the bench, then the two persisted-index members
phase by phase (build / extend / query) so the catalog-write cost is
attributable. Run it under both AQE floors (the argument sets
spark.sql.adaptive.coalescePartitions.minPartitionSize; without one,
Spark's 1m default holds) to separate floor effects from member effects:

    python tools/ann_probe.py 64k
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uw_hadoop_aglorithms_spark.operators import similarity  # noqa: E402
from uw_hadoop_aglorithms_spark.session import get_spark  # noqa: E402
from uw_hadoop_aglorithms_spark.sources.indexes import scoped_index  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def t(label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    out = fn()
    sec = round(time.perf_counter() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"{label}: {sec}", flush=True)
    timings[label] = sec
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


timings: dict[str, float] = {}
FLOOR_CONF = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
spark = get_spark(
    "ann-probe", extra_conf={FLOOR_CONF: sys.argv[1]} if len(sys.argv) > 1 else None
)
spark.sparkContext.setLogLevel("ERROR")
t("warmup_nation_count", lambda: spark.read.parquet(f"{SF_DIR}/nation.parquet").count())

# scoring members, serially, noop sink
for name, fn in (
    ("brute", similarity.ann_brute_topk),
    ("lsh", similarity.ann_lsh_topk),
    ("ivf", similarity.ann_ivf_topk),
    ("pq", similarity.ann_pq_topk),
    ("filtered", similarity.ann_ivf_filtered_topk),
):
    t(f"member_{name}", lambda fn=fn: noop(fn(spark, SF_DIR)))

# persisted-IVF lifecycle, phase by phase
from pyspark.sql import functions as F  # noqa: E402

cents = t("idx_centroids_collect", lambda: similarity._ivf_centroids(spark, SF_DIR))
emb = similarity._normed(spark, SF_DIR)
split = t("idx_split_percentile", lambda: emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0])
with scoped_index(spark, "ann", "annprobe_idx") as prefix:
    t("idx_build_save", lambda: similarity.save_ann_index(
        spark, emb.filter(F.col("vec_id") <= split), prefix, cents))
    t("idx_extend_append", lambda: similarity.extend_ann_index(
        spark, emb.filter(F.col("vec_id") > split), prefix))
    t("idx_query", lambda: noop(similarity.ann_index_topk(spark, SF_DIR, prefix)))

# persisted IVF-ADC lifecycle
with scoped_index(spark, "pq", "annprobe_pq") as prefix:
    t("ivfpq_build_save", lambda: similarity.save_pq_index(spark, SF_DIR, prefix))
    t("ivfpq_query", lambda: noop(similarity.ann_ivfpq_topk(spark, SF_DIR, prefix)))

floor = spark.conf.get(FLOOR_CONF, "1m")
print(json.dumps({"floor": floor, "timings": timings}))
spark.stop()
