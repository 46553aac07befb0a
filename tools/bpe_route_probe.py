"""Measure where operators.bpe.bpe_train's driver route stops paying off
(PERF.md "BPE driver route"): train 8 merges over synthetic vocabularies
of 10^3..10^6 distinct words, once per route, and print one JSON line per
size with the training wall time of each route, the driver route's
per-round time and the wall time of one distributed round (pair counts
plus the top-1 collect).

The corpus is ``spark.range(n)`` mapped to one word per row (a prefix of
``md5(id)``, 4..12 characters of ``[0-9a-f]``), so the vocabulary is about
``n`` distinct words. Both routes read the same corpus once; the driver
route is forced with a bound above ``n``, the distributed route with 0.

Usage: python tools/bpe_route_probe.py [max_exponent]   (default 6)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from autonomous_orchestrator_ai_spark.operators import bpe
    from autonomous_orchestrator_ai_spark.session import get_spark

    spark = get_spark("bpe-route-probe")
    max_exp = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    for exp in range(3, max_exp + 1):
        n = 10**exp
        docs = spark.range(n).select(
            F.substring(F.md5(F.col("id").cast("string")), 1, 4 + F.col("id") % 9)
            .alias("text")
        ).localCheckpoint()
        state = bpe.bpe_initial_state(bpe.bpe_word_counts(docs)).localCheckpoint()
        t0 = time.perf_counter()
        vocab = [(r["seq"], int(r["cnt"])) for r in state.select("seq", "cnt").collect()]
        t1 = time.perf_counter()
        bpe._driver_merges(vocab, 8)
        rounds_s = (time.perf_counter() - t1) / 8
        t = time.perf_counter()
        bpe.bpe_pair_counts(state).orderBy(
            F.col("cnt").desc(), F.col("a"), F.col("b")
        ).limit(1).collect()
        out = {"words": len(vocab), "collect_s": round(t1 - t0, 3),
               "driver_round_s": round(rounds_s, 4),
               "distributed_round_s": round(time.perf_counter() - t, 4)}
        for route, bound in (("driver", n + 1), ("distributed", 0)):
            bpe.DRIVER_VOCAB_MAX = bound
            t = time.perf_counter()
            bpe.bpe_train(docs, "text", 8)
            out[f"{route}_train_s"] = round(time.perf_counter() - t, 3)
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
