"""Materialized-structure sinks: postings index and classifier models.

The reference persists its index as partitioned MapFiles keyed by term
(reference MapReduce/Inverted Index/BuildInvertedIndexCompressed.java:200,
partitioner :146-151) and its model as text lines `"(feature,weight)"`
parsed back with a regex (reference Spark/Spam Classifier/
ApplySpamClassifier.scala:34-36). Here both become Parquet tables —
Parquet's dictionary/RLE encodings replace the hand-rolled gap+VInt
compression (SURVEY.md §4) — with the term-bucketed layout preserving
point-lookup pushdown. The reference's text model format is kept as an
alternate codec for format parity (P10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Buckets for the postings sink — point lookups prune to one bucket.
POSTINGS_BUCKETS = 8


def save_postings(postings: DataFrame, path: str) -> None:
    """Persist a postings table (term, postings: array<struct<docno,tf>>)
    partitioned by a term-hash bucket: the Parquet replacement for the
    reference's `hash(term) % reducers` MapFile layout — a term lookup
    reads ONE bucket directory (partition pruning) instead of the index.
    """
    (
        postings.withColumn("bucket", F.pmod(F.hash("term"), F.lit(POSTINGS_BUCKETS)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def load_postings(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("bucket")


def lookup_term(spark: SparkSession, path: str, term: str) -> DataFrame:
    """Point lookup: bucket pruning + term filter (reference
    BooleanRetrievalCompressed.java:135-158 opened one MapFile part)."""
    bucket_df = spark.createDataFrame([(term,)], "term string").select(
        F.pmod(F.hash("term"), F.lit(POSTINGS_BUCKETS)).alias("b")
    )
    bucket = bucket_df.first()[0]
    return (
        spark.read.parquet(path)
        .filter((F.col("bucket") == bucket) & (F.col("term") == term))
        .drop("bucket")
    )


def save_model(weights: DataFrame, path: str) -> None:
    """Persist classifier weights (feature int, weight double) as Parquet."""
    weights.write.mode("overwrite").parquet(path)


def load_model(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def save_model_text(weights: DataFrame, path: str) -> None:
    """Reference-compatible text codec: one `(feature,weight)` line per
    weight (the format TrainSpamClassifier emitted and
    ApplySpamClassifier.scala:34-36 regex-parsed)."""
    (
        weights.select(
            F.concat(F.lit("("), F.col("feature"), F.lit(","), F.col("weight"), F.lit(")")).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )


def load_model_text(spark: SparkSession, path: str) -> DataFrame:
    """Parse the reference's text model lines back into (feature, weight)
    — the P10 regex as a column expression, not a driver loop."""
    raw = spark.read.text(path)
    return raw.select(
        F.regexp_extract("value", r"^\((.*),(.*)\)$", 1).cast("int").alias("feature"),
        F.regexp_extract("value", r"^\((.*),(.*)\)$", 2).cast("double").alias("weight"),
    )
