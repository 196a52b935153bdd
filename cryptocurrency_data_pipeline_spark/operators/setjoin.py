"""Exact set-similarity self-join via prefix filtering (the AllPairs /
PPJoin family: Bayardo et al. WWW'07, Xiao et al. VLDB'08) — every pair
with Jaccard >= t, found WITHOUT materializing all-pairs.

Complements the engine's other near-dup paths: MinHash-LSH
(``dedup.py``) is probabilistic with banding recall; q-gram fuzzy
(``fuzzy.py``) targets edit distance on short keys; this join is EXACT
over element sets (shingles, tokens, any array column) with a provable
no-miss guarantee.

The prefix lemma: order all elements by one global total order (here
(document-frequency, element) — rarest first, the order that minimizes
collisions).  If ``jaccard(a, b) >= t`` then the overlap ``o`` satisfies
``o >= ceil(t * |a|)`` (since ``o >= t * union >= t * |a|``), so the
first ``|a| - ceil(t*|a|) + 1`` ordered elements of ``a`` — its *prefix*
— must contain a common element, and likewise for ``b``; under a shared
total order the two prefixes themselves must intersect.  Joining only
on prefix elements therefore finds every qualifying pair.

Spark shape (scale story):

* **df ranking without a global window.**  No unpartitioned
  ``row_number`` over the raw data: the vocabulary gets a dense global
  (df, element) rank via ``ids.with_consecutive_ids`` (range exchange +
  partition-offset arithmetic over the DISTINCT-element table only),
  and every downstream structure — per-doc ordered sets, prefix keys,
  verification joins — carries the 8-byte rank instead of the element
  string (r14: the string form shuffled 158 MB/pass at sf0.1 where the
  rank form shuffles ~15, and per-doc sorts ran on string structs).
  The rank map is a bijection, so results are bit-identical.
* **Candidate join on prefix elements only** — rare elements first, so
  hot elements (stopword shingles) fall outside most prefixes, the
  exact effect PPJoin exploits.  Size filter
  ``den * min(sz) >= num * max(sz)`` prunes length-incompatible pairs
  in the join condition, and the PPJoin POSITIONAL filter (overlap
  upper bound from the collision's prefix positions vs the required
  alpha) prunes before the distinct — on the sf0.1 documents corpus it
  removes ~60% of raw candidates (310k -> 125k) with zero recall loss
  (the brute-force oracle pins exact equality).
* **Verification joins are candidate-bounded.**  The intersection count
  re-joins the (id, element) table restricted to candidates — cost
  O(candidates x |doc|), never O(n²).
* **All-integer threshold test** ``den * inter >= num * union`` (t =
  num/den), so the result hashes identically on any engine.

Reference counterpart: none; extends the join surface (J+ family) with
the exact set-similarity member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching
from cryptocurrency_data_pipeline_spark.operators.ids import (
    with_consecutive_ids,
)


def jaccard_self_join(
    tok: DataFrame,
    num: int = 1,
    den: int = 2,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(elements) >= num/den.

    ``tok`` is an ``(id, elem)`` frame; Jaccard is defined over the SET
    of elements per id, and duplicate ``(id, elem)`` rows — within one
    id or from a duplicated id — are collapsed INSIDE the aggregations
    the plan already pays, never trusted away: document frequency is
    ``count_distinct(id)`` per element, the per-doc ordered set is a
    ``collect_set`` (so ``sz`` is the true set size), and the
    verification side re-derives its distinct (id, elem) rows by
    exploding those sets.  An uncollapsed ``count(*)`` sizing would
    drive ``union_sz = sz_a + sz_b - inter`` negative on a duplicated
    corpus — silent wrong answers, not errors.  No standalone
    enforcement exchange: dedup lives in the element-keyed and
    id-keyed shuffles that were already there.  Output:
    ``(id_a, id_b, inter, union_sz, jaccard)``; ``jaccard`` is the exact
    ratio rounded to 6 dp, the filter itself is integer arithmetic.
    """
    assert 0 < num <= den
    # One pass for document frequencies; every element is then replaced
    # by its dense global (df, elem) rank — the shared total order AS AN
    # INT.  The rank map is a bijection (with_consecutive_ids over the
    # distinct vocabulary, exact global rank, no hashing), so every
    # equality, distinct and count below is EXACT — but the per-doc
    # ordered sets, the candidate join keys and the verification join
    # all carry 8-byte longs instead of shingle strings: the r14 profile
    # showed the groupBy(id) exchange moving 158 MB of shingle text per
    # pass at sf0.1 (ints: ~15 MB) and 20 s of task CPU sorting string
    # structs (guide §2.3: shuffle fewer bytes / narrower types).
    tok = caching.persist(tok)
    df_e = tok.groupBy("elem").agg(F.count_distinct(F.col("id")).alias("df"))
    ranked = with_consecutive_ids(df_e, ["df", "elem"], "rk")
    te = tok.join(ranked.select("elem", "rk"), "elem")
    docs = caching.persist(
        te.groupBy("id")
        .agg(F.array_sort(F.collect_set("rk")).alias("ordered"))
        .select("id", F.size("ordered").alias("sz"), "ordered")
    )
    # prefix length p = sz - ceil(t * sz) + 1 (integer ceil).
    ceil_t = F.floor((F.col("sz") * num + (den - 1)) / den).cast("int")
    prefix = docs.select(
        "id",
        "sz",
        F.posexplode(
            F.slice(F.col("ordered"), F.lit(1), F.col("sz") - ceil_t + 1)
        ).alias("pos", "rk"),
    )
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "rk",
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "rk",
    )
    # PPJoin positional filter: a collision at (0-based) positions
    # (pos_a, pos_b) caps the possible overlap at
    # 1 + min(sz_a - pos_a - 1, sz_b - pos_b - 1); pairs whose shared
    # prefix element sits too late to ever reach the required overlap
    # alpha = ceil(t/(1+t) * (sz_a + sz_b)) are pruned BEFORE the
    # distinct and the verification joins.  Safe: if jaccard >= t, the
    # pair's EARLIEST shared prefix element satisfies the bound, so at
    # least one collision row survives.
    alpha_num = F.col("sz_a") + F.col("sz_b")  # alpha = ceil(num*sum/(num+den))
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a") - 1, F.col("sz_b") - F.col("pos_b") - 1
    )
    cand = (
        a.join(b, "rk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b") * den
                >= F.greatest("sz_a", "sz_b") * num
            )
            & (ubound * (num + den) >= alpha_num * num)
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    # Verification: the candidate pairs are already DISTINCT, so the
    # intersection size is one set expression per pair over the cached
    # per-doc ordered sets — ``size(array_intersect(a, b))`` — instead
    # of exploding both sets and re-aggregating: the exploded form
    # produced |cand| x |set| intermediate rows (8.8M at sf0.1, the
    # pass's hottest aggregate at ~15 s of task time) plus an exchange;
    # this form is two id-keyed joins carrying the arrays and zero
    # post-join shuffles (r15, guide §2.3/§2.4).  Exact: both arrays
    # are distinct ranks (array_sort(collect_set)), and array_intersect
    # over longs is set semantics — the same count the group-by
    # computed.  Scale shape: same id-keyed equi-joins as the exploded
    # verification, moving each doc's set once per candidate instead of
    # once per candidate PER ELEMENT.
    sets_a = docs.select(F.col("id").alias("id_a"), F.col("ordered").alias("__oa"))
    sets_b = docs.select(F.col("id").alias("id_b"), F.col("ordered").alias("__ob"))
    inter = (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("__oa", "__ob"))
            .cast("long")
            .alias("inter"),
        )
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.where(F.col("inter") * den >= union_sz * num)
        .select(
            "id_a",
            "id_b",
            "inter",
            union_sz.cast("long").alias("union_sz"),
            F.round(F.col("inter") / union_sz, 6).alias("jaccard"),
        )
    )


def containment_join(
    tok: DataFrame,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """All ORDERED pairs (id_a != id_b) with containment
    ``|A ∩ B| >= (num/den) * |A|`` — SUBSET-duplicate detection.

    Containment is the asymmetric cousin of Jaccard: a short document A
    embedded verbatim inside a much longer B has jaccard ≈ |A|/|B| (tiny)
    but containment(A in B) ≈ 1 — exactly the quote/aggregation/mirror
    pattern symmetric near-dup passes miss.  Same prefix-lemma machinery
    as :func:`jaccard_self_join`, asymmetric form: ``o >= ceil(t·|A|)``
    forces A's ``|A| - ceil(t·|A|) + 1`` rarest elements (the probe
    prefix) to hit B, while B is indexed on ALL its elements; the size
    filter ``den·|B| >= num·|A|`` and the positional cap
    ``den·(|A| - pos_a) >= num·|A|`` (the earliest collision leaves at
    most ``|A| - pos_a`` shared elements) prune before verification.
    Verification re-joins candidates only — never all-pairs.  Integer
    threshold test, so the result hashes identically on any engine.

    Like :func:`jaccard_self_join`, containment is defined over the SET
    of elements per id, and duplicate ``(id, elem)`` rows are collapsed
    INSIDE the aggregations the plan already pays (count_distinct df,
    collect_set per-doc sets, set-derived index/verification sides) —
    a duplicated id otherwise inflates both ``sz`` and the fanned-out
    verification count, producing wrong ratios rather than errors.
    """
    assert 0 < num <= den
    # Same int-rank discipline as :func:`jaccard_self_join`: one df pass,
    # a bijective dense (df, elem) rank, and every downstream shuffle
    # carries longs instead of element strings.
    tok = caching.persist(tok)
    df_e = tok.groupBy("elem").agg(F.count_distinct(F.col("id")).alias("df"))
    ranked = with_consecutive_ids(df_e, ["df", "elem"], "rk")
    te = tok.join(ranked.select("elem", "rk"), "elem")
    docs = caching.persist(
        te.groupBy("id")
        .agg(F.array_sort(F.collect_set("rk")).alias("ordered"))
        .select("id", F.size("ordered").alias("sz"), "ordered")
    )
    ceil_t = F.floor((F.col("sz") * num + (den - 1)) / den).cast("int")
    a = docs.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.posexplode(
            F.slice(F.col("ordered"), F.lit(1), F.col("sz") - ceil_t + 1)
        ).alias("pos_a", "rk"),
    )
    # B is indexed on ALL its elements — derived from the cached SETS,
    # so the index is distinct (id, rank) by construction.
    elems = docs.select("id", "sz", F.explode("ordered").alias("rk"))
    b = elems.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "rk"
    )
    cand = (
        a.join(b, "rk")
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("sz_b") * den >= F.col("sz_a") * num)
            & ((F.col("sz_a") - F.col("pos_a")) * den >= F.col("sz_a") * num)
        )
        .select("id_a", "id_b", "sz_a")
        .distinct()
    )
    # Verification via one set expression per DISTINCT candidate pair
    # over the cached ordered sets (same r15 rewrite as
    # :func:`jaccard_self_join`): two id-keyed joins carrying the
    # arrays, no explode fan-out, no post-join aggregation exchange.
    sets_a = docs.select(F.col("id").alias("id_a"), F.col("ordered").alias("__oa"))
    sets_b = docs.select(F.col("id").alias("id_b"), F.col("ordered").alias("__ob"))
    inter = (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "sz_a",
            F.size(F.array_intersect("__oa", "__ob"))
            .cast("long")
            .alias("inter"),
        )
    )
    return (
        inter.where(F.col("inter") * den >= F.col("sz_a") * num)
        .select(
            "id_a",
            "id_b",
            "inter",
            F.col("sz_a").cast("long").alias("sz_a"),
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
        )
    )
