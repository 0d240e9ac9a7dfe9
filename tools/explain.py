"""Dump .explain("formatted") for every registered query into plans/rN/.

Usage:
    python tools/explain.py --round 14 before            # all keys -> <key>_before.txt
    python tools/explain.py --round 14 after key1,key2   # chosen keys -> <key>_after.txt

Optimization-round evidence: the committed plan text lets plan-shape
claims in OPTIMIZATION_rN.md be checked without running Spark. Suite keys that execute their members eagerly and return a
re-wrapped local result (stream_batch_equiv, layout_suite, neardup_pairs,
ann_topk, …) show a trivial LocalTableScan for the returned frame; for
those, the per-member component plans that actually carry the cost are
dumped via the COMPONENTS hooks below.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import traceback
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _components() -> dict[str, dict[str, object]]:
    """key -> {label: fn(spark, sf_dir) -> DataFrame} for eager suite keys
    whose registered callable returns a collected/re-wrapped local frame."""
    from uw_hadoop_aglorithms_spark.operators import (
        dedup,
        similarity,
    )

    return {
        "neardup_pairs": {
            "ngram": dedup.ngram_jaccard_pairs,
            "minhash": dedup.minhash_lsh_dedup,
            "simhash": dedup.simhash_dedup,
            "cosine": dedup.embedding_cosine_dups,
            "winnow": dedup.winnow_dup_pairs,
            "semantic": dedup.semantic_dedup_pairs,
            "sem_scaled": dedup.semantic_dedup_pairs_scaled,
        },
        "ann_topk": {
            "brute": similarity.ann_brute_topk,
            "lsh": similarity.ann_lsh_topk,
            "ivf": similarity.ann_ivf_topk,
            "pq": similarity.ann_pq_topk,
            "filtered": similarity.ann_ivf_filtered_topk,
        },
    }


def dump(key: str, fn, spark, out_dir: str, suffix: str) -> None:
    buf = io.StringIO()
    try:
        df = fn(spark, SF_DIR)
        with redirect_stdout(buf):
            df.explain("formatted")
    except Exception:
        buf.write("EXPLAIN FAILED:\n")
        buf.write(traceback.format_exc())
    comps = _components().get(key, {})
    for label, cfn in comps.items():
        buf.write(f"\n=== component: {label} ===\n")
        try:
            cdf = cfn(spark, SF_DIR)
            with redirect_stdout(buf):
                cdf.explain("formatted")
        except Exception:
            buf.write("EXPLAIN FAILED:\n")
            buf.write(traceback.format_exc())
    path = os.path.join(out_dir, f"{key}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(buf.getvalue())
    print(f"wrote {path}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, help="writes plans/r<N>/")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("keys", nargs="?", help="comma-separated keys (default: all)")
    args = ap.parse_args()
    only = set(args.keys.split(",")) if args.keys else None
    out_dir = os.path.join(REPO, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry
    from uw_hadoop_aglorithms_spark.session import get_spark

    spark = get_spark(f"explain-r{args.round}")
    spark.sparkContext.setLogLevel("ERROR")
    for key, fn in sorted(entry.queries().items()):
        if only and key not in only:
            continue
        spark.sparkContext.setJobDescription(f"explain:{key}")
        dump(key, fn, spark, out_dir, args.suffix)
    spark.stop()


if __name__ == "__main__":
    main()
