"""Blocked fuzzy matching — approximate string joins without all-pairs.

The standard entity-resolution shape (q-gram blocking + edit-distance
verify, as in public record-linkage literature and Spark's own
approxSimilarityJoin design): candidate pairs are keys that share at
least one character q-gram, and only candidates pay the Levenshtein
verification.  All-pairs never materializes.

Spark shape:

* **q-gram extraction — map-only, JVM-side.**  ``sequence`` +
  ``transform`` + ``array_distinct`` + ``explode``; no Python in the
  path.
* **Blocking — ONE equi-join shuffle on the gram key.**  Both sides
  shuffle-partition by gram; candidate pairs are ``distinct`` (the same
  pair may collide on several grams) before verification, so Levenshtein
  runs once per candidate.
* **Optional stop-gram pruning.**  Ultra-frequent grams ("th", "in" in
  real names) are the skew hazard at scale: ``max_gram_df`` drops any
  gram appearing in more than that many distinct keys via one partial-
  agged count — the exact analogue of the df-cap in inverted-index
  blocking.  Recall caveat: a pruned gram can drop a true pair; standard
  practice is to size the cap so every key retains >= 1 un-pruned gram.
* **Verify — built-in ``levenshtein``** (JVM dynamic-programming, no
  UDF).

Recall bound (why blocking is sound for short distances): strings of
lengths la, lb at edit distance d share at least
``max(la, lb) - q + 1 - d*q`` q-grams, so with q=3 and keys >= q+d*q
chars every true pair collides on some gram.  Shorter keys or larger d
degrade recall — callers pick q accordingly (q-grams of padded keys are
the usual fix; not needed for this corpus).

Reference counterpart: none; extends the join surface (J+ family) with
the approximate-match member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching


def qgrams(col, q: int = 3):
    """Distinct character q-grams of a string column (JVM-side:
    ``sequence`` + ``transform`` + ``array_distinct``).

    Keys shorter than ``q`` yield an EMPTY array (Spark's ``sequence``
    descends when stop < start, so the length guard is a filter on the
    gram length, not on the index range)."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (q - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: c.substr(i, F.lit(q)))
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) == q))


def fuzzy_self_pairs(
    df: DataFrame,
    key_col: str,
    q: int = 3,
    max_distance: int = 2,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Distinct key pairs (key_a < key_b) within ``max_distance`` edits
    that share at least one (un-pruned) q-gram.

    Output: (key_a, key_b, edit_distance).  Deterministic; the blocking
    predicate is part of the contract (a pair sharing no q-gram is NOT
    emitted — see the recall bound in the module docstring).
    """
    keys = df.select(F.col(key_col).alias("__k")).distinct()
    # Persist BEFORE the frequency pass: freq and the pruning anti-join's
    # left side both consume the raw gram frame, so an un-cached subtree
    # would run the distinct + explode twice.  The pruned frame is then
    # persisted separately — it feeds both sides of the candidate join.
    grams = caching.persist(
        keys.select(
            "__k", F.explode(qgrams(F.col("__k"), q)).alias("__gram")
        )
    )
    if max_gram_df is not None:
        freq = grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__df"))
        grams = caching.persist(
            grams.join(F.broadcast(freq.filter(F.col("__df") > max_gram_df)),
                       "__gram", "left_anti")
        )
    a = grams.select(F.col("__k").alias("key_a"), "__gram")
    b = grams.select(F.col("__k").alias("key_b"), "__gram")
    cand = (
        a.join(b, "__gram")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    return (
        cand.withColumn("edit_distance", F.levenshtein("key_a", "key_b"))
        .filter(F.col("edit_distance") <= max_distance)
    )
