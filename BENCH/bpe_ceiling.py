#!/usr/bin/env python
"""Measure the nested-replace BPE-apply ceiling vs the mapInPandas batch
path (VERDICT r4 "what's wrong" #1).

bpe_apply builds 2 x n_merges nested ``replace`` calls in ONE projection —
unbeatable while the expression tree codegens, but cost grows linearly in
merge-list length (every replace scans the whole doc string twice) and
past the JVM's 64KB-bytecode / constant-pool limits the stage falls back
interpreted or fails to compile. bpe_apply_batch's per-word min-rank loop
is O(applied merges), independent of the merge-LIST length.

Protocol: one window, interleaved (nested, batch, nested, batch ...) at
each tier, best-of-N per (path, tier); merges trained ONCE with
bpe_train on the same corpus (one vocab scan per merge, so the
training step dominates the script's wall time at high --max-merges). Tiers where the nested
path cannot run (analysis error / codegen failure) are recorded as
"failed". Prints one JSON line.

Usage: python BENCH/bpe_ceiling.py [--sf /root/testdata/sf0.01] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "src"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    ap.add_argument("--max-merges", type=int, default=1000)
    args = ap.parse_args()

    # same driver-heap sizing rationale as bench.py: one local JVM hosts
    # every executor thread + the 1k-round training loop's bookkeeping
    os.environ.setdefault("WEBEXTRACT_DRIVER_MEM", "16g")
    from webextract.bpe import SEP, bpe_apply, bpe_apply_batch, bpe_train
    from webextract.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]", shuffle_partitions=16)
    docs = (spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
            .select("doc_id", "text").cache())
    n_docs = docs.count()

    t0 = time.time()
    trained = (bpe_train(docs, n_merges=args.max_merges)
               .orderBy("step").collect())
    merges = [r.left + SEP + r.right for r in trained]
    train_s = round(time.time() - t0, 2)
    n_real = len(merges)

    # the synthetic corpus's vocabulary saturates well before production
    # merge counts, so tiers past the trained list are PADDED with
    # never-matching pairs (the test_bpe 30k trick: 'padNx|padNy' symbols
    # can never be formed). Padding is the honest probe of merge-LIST cost:
    # the nested path pays 2 replaces per list entry whether or not the
    # pair occurs; the batch path pays a rank-dict miss.
    merges += [f"pad{i}x{SEP}pad{i}y"
               for i in range(max(0, args.max_merges - n_real))]
    tiers = sorted({t for t in (50, 200, 1000, args.max_merges)
                    if t <= len(merges)} | {n_real})

    def run(fn, ms):
        t = time.time()
        fn(docs, ms).agg({"n_tokens": "sum"}).collect()
        return time.time() - t

    out: dict[str, dict] = {}
    for tier in tiers:
        ms = merges[:tier]
        res = {"nested": [], "batch": []}
        nested_dead = None
        for _ in range(args.runs):
            if nested_dead is None:
                try:
                    res["nested"].append(run(bpe_apply, ms))
                except Exception as exc:  # noqa: BLE001 — ceiling probe
                    nested_dead = f"{type(exc).__name__}: {str(exc)[:200]}"
            res["batch"].append(run(bpe_apply_batch, ms))
        out[str(tier)] = {
            "nested_best_s": round(min(res["nested"]), 3)
            if res["nested"] else None,
            "nested_failed": nested_dead,
            "batch_best_s": round(min(res["batch"]), 3),
            "padded": tier > n_real,
        }

    print(json.dumps({
        "metric": "bpe_apply nested-replace vs mapInPandas batch",
        "sf": args.sf, "n_docs": n_docs, "n_merges_trained": n_real,
        "n_merges_padded_to": len(merges),
        "train_batched_s": train_s, "runs_per_cell": args.runs,
        "tiers": out,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
