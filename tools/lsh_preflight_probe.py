"""Measure the LSH guard pre-flight estimates at a scale directory.

Computes, for the minhash family (word-shingle signatures) and the
winnowing family (sketch-set signatures), the banded-bucket profile
Σ n·(n-1)/2 and the priced estimate the cost route compares against
$SPARK_GRAFT_LSH_SPILL_BUDGET_BYTES — the calibration evidence for the
default budget (the guard must stay OFF at scales measured safe and be
ON before the projected disk exhaustion).

Usage: python tools/lsh_preflight_probe.py SF_DIR [--partitions N]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("sf_dir")
    p.add_argument("--partitions", type=int, default=128)
    p.add_argument(
        "--families", default="minhash,winnow",
        help="comma list: minhash, winnow",
    )
    ns = p.parse_args()

    from pyspark.sql import functions as F

    from autonomous_orchestrator_ai_spark.functions.text import (
        winnowing_sketch,
        word_shingles,
    )
    from autonomous_orchestrator_ai_spark.operators.dedup import (
        MINHASH_CAND_ROW_BYTES,
        SCREEN_ROW_BYTES,
        SORT_MERGE_TRANSIENT_FACTOR,
        WINNOW_CAND_ROW_BYTES,
        lsh_band_cost_profile,
        minhash_signatures,
        slice_count,
    )
    from autonomous_orchestrator_ai_spark.plans.dedup_queries import (
        _MLSH_CAP,
        _WK,
        _WLSH_CAP,
        _WW,
        BANDS,
        NUM_HASHES,
        _lsh_budget_bytes,
        _winnow_slice_budget_bytes,
    )
    from autonomous_orchestrator_ai_spark.plans.registry import table
    from autonomous_orchestrator_ai_spark.session import get_spark

    spark = get_spark("lsh-preflight-probe")
    spark.conf.set("spark.sql.shuffle.partitions", str(ns.partitions))
    docs = table(spark, ns.sf_dir, "documents")
    out: dict = {
        "sf_dir": ns.sf_dir,
        "budget_bytes": _lsh_budget_bytes(),
        "n_docs": docs.count(),
    }

    def banded_of(sigs, id_col="doc_id"):
        # mirror lsh_candidate_pairs' banding exactly (explode of
        # per-band md5 keys), without the join
        rows_per_band = NUM_HASHES // BANDS
        structs = []
        for b in range(BANDS):
            sig_cols = [
                F.col(f"minhash_{j}")
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
            structs.append(
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(F.concat_ws("|", *sig_cols)).alias("band_key"),
                )
            )
        return sigs.select(
            F.col(id_col), F.explode(F.array(*structs)).alias("__band")
        ).select(F.col(id_col), "__band.band_id", "__band.band_key")

    fams = set(ns.families.split(","))
    if "minhash" in fams:
        t0 = time.time()
        sigs = minhash_signatures(docs, "text", "doc_id", NUM_HASHES, 3)
        prof = lsh_band_cost_profile(
            banded_of(sigs), MINHASH_CAND_ROW_BYTES, cap=_MLSH_CAP
        )
        prof["probe_sec"] = round(time.time() - t0, 1)
        prof["over_budget"] = prof["est_shuffle_bytes"] > out["budget_bytes"]
        out["minhash"] = prof

    if "winnow" in fams:
        t0 = time.time()
        sk = docs.select(
            F.col("doc_id"),
            F.transform(
                winnowing_sketch("text", _WK, _WW), lambda x: x.cast("string")
            ).alias("__sks"),
        )
        sigs = minhash_signatures(
            sk, "__sks", "doc_id", NUM_HASHES, precomputed_shingles=True
        )
        prof = lsh_band_cost_profile(
            banded_of(sigs), WINNOW_CAND_ROW_BYTES, cap=_WLSH_CAP
        )
        prof["probe_sec"] = round(time.time() - t0, 1)
        prof["over_budget"] = prof["est_shuffle_bytes"] > out["budget_bytes"]
        # the slice auto-route's inputs (r9): guarded transient = capped
        # candidates x the per-candidate screen-row price vs the budget
        slice_budget = _winnow_slice_budget_bytes()
        est_guarded = prof.get("est_capped_candidate_rows", 0) * SCREEN_ROW_BYTES
        prof["est_guarded_transient_bytes"] = est_guarded
        prof["slice_budget_bytes"] = slice_budget
        prof["transient_factor"] = SORT_MERGE_TRANSIENT_FACTOR
        prof["auto_verify_slices"] = slice_count(est_guarded, slice_budget)
        out["winnow"] = prof

    print(json.dumps(out))


if __name__ == "__main__":
    main()
