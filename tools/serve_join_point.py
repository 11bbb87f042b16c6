"""Stored-index kNN join (#156) vs inline ADC join (#155): what does
the snapshot root actually buy at a larger corpus?

The #156 claim is deployment-shaped: the inline join re-derives its
index every session (train + full-corpus encode at plan-build time),
while the serve join reads frozen codebooks + live codes from the
snapshot root, so (a) time-to-first-result amortizes to the root's
one-off build, and (b) the steady-state candidate scan is the lean
codes artifact, not a qemb-carrying frame. This tool turns both into
numbers on a replica corpus:

* per arm: ``plan_sec`` (fn call — training collects / root ensure
  happen here), ``first_sec`` (first count — checkpoints, index build
  I/O), ``warm_secs`` (re-counts of the warmed plan, interleaved — the
  steady state a deployment repeats).
* tombstone sensitivity: extra delete generations pushed onto the SAME
  root (10% -> ~30% dead), re-timing the serve join warmed — the serve
  anti-join is a broadcast key set, so the wall should stay flat (the
  join-face analog of the r10 delete-serve curve in BASELINE.md).

Caveats (documented, not hidden): the two arms share the corpus but
not the codebook geometry (#155 trains M=4 books on the full corpus;
#156's root is the lifecycle geometry — M=16 books trained on the
frozen vec_id<100 subset, everything later appended against them), so
candidate pair counts match (same 8 coarse cells, nprobe=2) but
per-candidate ADC cost differs (16 vs 4 lookups). The serve arm is
structurally DISADVANTAGED on that axis and still competes on wall —
which is the honest direction for the claim. Both lifecycles keep the
oracle-deterministic fixed-8-cell coarse geometry; at production cell
counts both arms scale by the #153 cells-proportional-to-n law, which
is orthogonal to the stored-vs-inline question measured here.

Usage:
  python tools/serve_join_point.py [--src /root/testdata/sf0.1]
      [--out /tmp/embJ5] [--copies 5] [--runs 2]
Prints one JSON line for BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/embJ5")
    ap.add_argument("--copies", type=int, default=5)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    # scratch index base: the tombstone arm below pushes EXTRA delete
    # generations onto the lifecycle root, which is content-addressed by
    # corpus + consts only — mutating the shared default base would make
    # later oracle-compared runs on the same corpus serve from a root
    # missing 40% of candidates (false MISMATCH; review finding, r11).
    # Assigned UNCONDITIONALLY: a pre-set env var (e.g. the shared
    # persistent base) would re-open exactly that hazard (ADVICE r11).
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(
        args.out, "_ann_index"
    )

    from ann_scale_point import build_embeddings_replicas

    from projekt_data_engineering_iubh_spark.pipeline import ann_index
    from projekt_data_engineering_iubh_spark.plans import all_queries
    from projekt_data_engineering_iubh_spark.plans import (
        vector_queries as vq,
    )
    from projekt_data_engineering_iubh_spark.session import get_spark

    spark = get_spark("serve_join_point")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.isdir(os.path.join(args.out, "embeddings.parquet")):
        build_embeddings_replicas(spark, args.src, args.out, args.copies)
    n = spark.read.parquet(
        os.path.join(args.out, "embeddings.parquet")
    ).count()

    qs = all_queries()
    arms = {
        "inline_adc": "emb_knn_join_adc",
        "serve_root": "emb_knn_join_serve",
    }
    out: dict = {
        "src": args.src,
        "out": args.out,
        "n_vectors": n,
        "arms": {},
    }
    plans = {}
    for arm, qname in arms.items():
        t0 = time.time()
        plans[arm] = qs[qname].fn(spark, args.out)
        plan_sec = round(time.time() - t0, 3)
        t0 = time.time()
        rows = plans[arm].count()
        first_sec = round(time.time() - t0, 3)
        out["arms"][arm] = {
            "plan_sec": plan_sec,
            "first_sec": first_sec,
            "rows": rows,
            "warm_secs": [],
        }
    for _ in range(args.runs):
        for arm in arms:  # interleaved — box state hits both
            t0 = time.time()
            plans[arm].count()
            out["arms"][arm]["warm_secs"].append(
                round(time.time() - t0, 3)
            )

    # tombstone sensitivity on the SAME root: push extra delete
    # generations (%10 in {0} -> ~20% dead incl. the lifecycle's own
    # %10==3; then {1, 5} -> ~40%), rebuild the serve plan (it
    # re-resolves the root) and re-time warmed
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    emb = load_table(spark, args.out, "embeddings")
    root = vq._ensure_ivfpq_deleted_index(spark, args.out)
    out["tombstone_arm"] = []
    for extra in ([0], [1, 5]):
        keys = emb.filter(
            F.col("vec_id") % 10 == extra[0]
            if len(extra) == 1
            else (F.col("vec_id") % 10).isin(extra)
        ).select("vec_id")
        ann_index.delete_generation(spark, root, keys)
        df = qs["emb_knn_join_serve"].fn(spark, args.out)
        df.count()  # warm
        walls = []
        for _ in range(args.runs):
            t0 = time.time()
            df.count()
            walls.append(round(time.time() - t0, 3))
        from projekt_data_engineering_iubh_spark.pipeline import store

        live = ann_index.read_live_codes(spark, store.resolve(root)).count()
        out["tombstone_arm"].append(
            {
                "extra_residues": extra,
                "live_codes": live,
                "dead_frac": round(1 - live / n, 3),
                "warm_secs": walls,
            }
        )

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
