"""Fuzzy string matching / entity resolution (blocked edit-distance join).

The classic record-linkage shape the reference's DQ layer stops short of
(its closest analog is the exact regex/set membership checks,
``spark/jobs/ingest_transform.py:230-251``): reconcile a dirty feed of
slightly-misspelled names against a clean dictionary.

Scale design (the 100 TB contract):

- **Never all-pairs.** Candidates come from an equi-join on a blocking
  key (e.g. the first token, a soundex code, a length bucket). Cost is
  O(sum of block sizes squared), not O(n^2); a blocking key's worst-case
  block size is an explicit knob the caller can profile with
  ``join_key_skew_profile`` before running.
- **Lossless length prefilter.** ``|len(a) - len(b)| <= max_dist`` is a
  necessary condition for ``levenshtein(a, b) <= max_dist``, so applying
  it before the edit-distance computation prunes candidates without
  losing a single true match.
- **Early-exit distance.** Spark >= 3.5's three-argument
  ``levenshtein(l, r, threshold)`` abandons the DP once the running
  distance exceeds the threshold (returns -1), turning the per-candidate
  cost from O(|a|*|b|) into O(threshold * min(|a|,|b|)).
- **Broadcast the dictionary.** A clean-entity dictionary is usually
  tiny relative to the dirty feed, so it is broadcast and the
  dirty side streams through a broadcast hash join — no shuffle of the
  100 TB side at all.

Single-pass blocking misses matches whose corruption hits the blocking
key itself; the standard fix is multi-pass blocking (union of candidate
sets from independent keys), which composes naturally here: call this
function once per key and union the results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def blocked_levenshtein_join(
    dirty: DataFrame,
    clean: DataFrame,
    dirty_col: str,
    clean_col: str,
    block_dirty: Column,
    block_clean: Column,
    max_dist: int = 2,
) -> DataFrame:
    """Candidate-blocked fuzzy join.

    Returns ``dirty``'s columns plus ``clean``'s columns plus an
    ``edit_distance`` int column, one row per (dirty row, clean row) pair
    within the same block at ``levenshtein <= max_dist``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    d = dirty.withColumn("__blk", block_dirty)
    c = F.broadcast(clean.withColumn("__blk", block_clean))
    dcol, ccol = F.col(dirty_col), F.col(clean_col)
    joined = d.join(c, on="__blk").where(
        F.abs(F.length(dcol) - F.length(ccol)) <= max_dist
    )
    # three-arg levenshtein: -1 when the threshold is exceeded (early exit)
    dist = F.levenshtein(dcol, ccol, max_dist)
    return (
        joined.withColumn("edit_distance", dist)
        .where(F.col("edit_distance") >= 0)
        .drop("__blk")
    )


def first_token(col: str | Column) -> Column:
    """First whitespace-delimited token — a cheap, common blocking key."""
    col = F.col(col) if isinstance(col, str) else col
    return F.split(col, " ").getItem(0)
