"""Cold-JVM one-variable A/B over bench.py (driver protocol).

Round-12's interleaved in-process minima protocol disagreed with the
driver's cold-JVM medians on ann_topk / stream_batch_equiv (VERDICT r12
§What's wrong 2): in-process interleaving hides per-process effects
(JVM startup shape, AQE floor × task-commit contention, state-store
warm-up). This harness reproduces the driver's shape instead: each rep
is a FRESH `python bench.py` process (cold JVM), variants alternate
A,B,A,B,… so the host's multi-minute slow windows tax both variants
equally, and the report gives per-key median AND min per variant.

Usage:
    python tools/ab_cold.py --name shared_frame \
        --keys dedup_clusters,corpus_curation --reps 5 --cpus 32 \
        --var SPARK_GRAFT_DRIVER_MEM=8g,16g

Writes plans/r13/ab_<name>.json and prints a compact table.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(keys: str, cpus: str, extra_env: dict[str, str]) -> dict:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_BENCH_ONLY=keys,
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_BENCH_NODIAG="1",
        SPARK_GRAFT_CPUS=cpus,
    )
    env.update(extra_env)
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=1800,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        parsed = json.loads(last)
    except json.JSONDecodeError:
        parsed = {"parse_error": last[:200], "stderr": p.stderr[-500:]}
    parsed["rc"] = p.returncode
    return parsed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--name", required=True)
    ap.add_argument("--keys", required=True)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", default="32")
    ap.add_argument(
        "--var", required=True,
        help="ENVNAME=valA,valB — the single variable under test",
    )
    args = ap.parse_args()
    var_name, _, vals = args.var.partition("=")
    variants = vals.split(",")

    samples: dict[str, dict[str, list[float]]] = {v: {} for v in variants}
    runs = []
    for rep in range(args.reps):
        for v in variants:  # alternate within each rep round
            r = run_once(args.keys, args.cpus, {var_name: v})
            runs.append({"rep": rep, "variant": v, "result": r})
            for k, sec in r.get("queries", {}).items():
                samples[v].setdefault(k, []).append(sec)
            line = ", ".join(
                f"{k}={sec}" for k, sec in sorted(r.get("queries", {}).items())
            )
            print(f"[{args.name}] rep{rep} {var_name}={v}: {line}", flush=True)

    report = {
        "name": args.name, "keys": args.keys, "cpus": args.cpus,
        "reps": args.reps, "var": var_name, "variants": variants,
        "per_key": {},
        "runs": runs,
    }
    for k in sorted({k for v in variants for k in samples[v]}):
        report["per_key"][k] = {
            v: {
                "median": round(statistics.median(samples[v][k]), 3),
                "min": round(min(samples[v][k]), 3),
                "all": [round(x, 3) for x in samples[v][k]],
            }
            for v in variants if k in samples[v]
        }
        row = "  ".join(
            f"{v}: med={report['per_key'][k][v]['median']} min={report['per_key'][k][v]['min']}"
            for v in variants if k in samples[v]
        )
        print(f"[{args.name}] {k}: {row}", flush=True)
    out = os.path.join(REPO, "plans", "r13", f"ab_{args.name}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"[{args.name}] wrote {out}", flush=True)


if __name__ == "__main__":
    main()
