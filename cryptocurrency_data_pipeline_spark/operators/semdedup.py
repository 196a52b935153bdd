"""SemDeDup — semantic deduplication over an embedding column.

Public recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): cluster the corpus embeddings
with a cheap coarse quantizer, then, *within each cluster only*, drop
every vector that sits inside the epsilon-ball (cosine >= tau) of a kept
exemplar.  The clustering is what makes it tractable — the pair space is
per-cluster, never corpus x corpus.

Spark shape, stage by stage:

* **Coarse clustering — map-only.**  Centers come from the deterministic
  md5-seeded IVF quantizer (``similarity.ivf_centroids``,
  TakeOrderedAndProject — no single-task collapse); every row picks its
  nearest center via the Arrow-batched numpy matmul
  (``clustering.assign_clusters_auto`` — one matmul per Arrow batch,
  never per-row Python).  No shuffle.
* **Within-cluster pairs — ONE equi-join shuffle on ``cluster_id``.**
  Pairs are restricted to ``id_a < id_b`` and scored with the JVM-side
  ``zip_with``/``aggregate`` cosine.  Because the join key is a plain
  equi-key, AQE's skew-join splitting applies if one cluster is hot.
* **Keep rule — deterministic lowest-id exemplar.**  A vector is DROPPED
  iff some *lower-id* vector in the same cluster has cosine >= tau; the
  surviving set is exactly "one exemplar per epsilon-ball, ties to the
  smallest id", reproducible in any engine (no RNG, no float ranking).
* **Flagging — one aggregation keyed on the id.**  The dropped-id set is
  deduped and left-joined back as a boolean, so callers can either filter
  (``is_kept``) or audit per-cluster retention.

At 100 TB: driver state is O(nlist x dim) doubles (a numpy matrix
serialized with the Arrow assignment UDF); nothing materializes the
cross-corpus pair space.  ``nlist`` AUTO-SCALES with the corpus by
default (:func:`auto_nlist`: ceil(n/256), floor 8, UNCAPPED since r14) —
with any fixed nlist the per-cluster row count grows with n, the pair
space grows n^2/nlist, and the cluster-keyed shuffle is stuck at nlist
keys; the r13 slope instrument measured exactly that (x23 wall-time at
x10 data under the old fixed default), and the r13 clamp at 256 merely
moved the same quadratic past ~65k vectors.  Assignment itself runs the
Arrow-batched numpy matmul at every center count
(``clustering.assign_clusters_auto``; the r14 crossover measurement
found the folded-literal fold — higher-order functions, interpreted —
loses at EVERY size: x1.6 at 8 centers, x13 at 250).

Reference counterpart: none (the Glue jobs do no ML); extends the
dedup family (exact / MinHash / SimHash / winnowing / substring) with the
embedding-space member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching
from cryptocurrency_data_pipeline_spark.operators.clustering import (
    assign_clusters_auto,
)
from cryptocurrency_data_pipeline_spark.operators.similarity import (
    dot,
    ivf_centroids,
    norm,
)


def _one_row_per_id(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Enforce the operator family's id-uniqueness contract: exactly one
    ``(id, vector)`` row per id, deterministically.

    Duplicated ids are the NORM in a crawl-scale corpus (mirrors,
    re-ingests), and an uncollapsed duplicate fans out every downstream
    per-id join — the keep/drop flag join triples, per-cluster counts
    inflate, and the exemplar rule stops being "one row per ball".
    Collapsing to ``min(vector)`` per id is deterministic for any input
    (exact duplicates collapse to themselves; a genuinely conflicting id
    gets the lexicographically-smallest vector — well-defined, engine-
    reproducible, and mirrored verbatim by ``min(v) .. GROUP BY vec_id``
    in the oracles).  One id-keyed shuffle, the same exchange any
    enforcement would pay; it then feeds the map-only assignment.
    """
    return corpus.groupBy(id_col).agg(F.min(vec_col).alias(vec_col))


def _normalized_assignment(
    corpus: DataFrame,
    centers: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cluster_id, __nv): literal-center assignment + one-time L2
    normalization, persisted for multi-consumer reuse.  Norm lives in its
    OWN column first — inside the transform lambda it would re-fold the
    whole vector once per element (O(dim^2)/row).  The persist is
    registered with :mod:`caching` so composed plans / loops can
    release it eagerly after their terminal action.

    Zero-norm guard: an all-zero embedding (they DO occur at corpus
    scale) keeps its zero components instead of dividing — the unguarded
    x/0 raises DIVIDE_BY_ZERO under ANSI mode, and in non-ANSI mode the
    all-null vector silently nulls every pair dot out of the >= tau
    filter.  A zero vector then scores dot == 0 against everything,
    matching :func:`similarity.cosine`'s guarded semantics.

    Assignment runs the Arrow-batched numpy matmul at every center
    count (``assign_clusters_auto``; O(1) plan size in nlist), so the
    auto-scaled cluster count (``auto_nlist``, uncapped since r14)
    keeps the pair space linear at ANY corpus size instead of
    re-quadratizing past ~65k vectors."""
    return caching.persist(
        assign_clusters_auto(corpus, centers, id_col=id_col, vec_col=vec_col)
        .withColumn("__norm", norm(F.col(vec_col)))
        .withColumn(
            "__nv",
            F.transform(
                F.col(vec_col),
                lambda x: F.when(F.col("__norm") > 0, x / F.col("__norm"))
                .otherwise(F.lit(0.0)),
            ),
        )
        .select(id_col, "cluster_id", "__nv")
    )


#: Auto-nlist targets: keep coarse clusters near this many rows.  The
#: within-cluster pair space is n x cluster_size / 2, so a FIXED nlist
#: makes SemDeDup quadratic in corpus size (the r13 slope instrument
#: measured x23 at 10x data under the old nlist=8 default: x100 pairs
#: on 8 shuffle keys) — bounding cluster size makes it linear and keeps
#: the cluster-keyed shuffle's parallelism growing with the data.
TARGET_CLUSTER_ROWS = 256

def auto_nlist(
    n_complete: int,
    target_rows: int = TARGET_CLUSTER_ROWS,
    floor: int = 8,
    cap: int | None = None,
) -> int:
    """Cluster count for ``n_complete`` vectors: ceil(n/target), at least
    ``floor``, UNCAPPED by default — cluster count must keep growing with
    the corpus or the pair space re-quadratizes (the r13 cap at 256 made
    the default path O(n^2/256) past ~65k vectors; r14 removed it once
    assignment moved off folded plan literals onto the Arrow-batched
    numpy matmul).  Pass ``cap`` only to pin a
    quantizer budget explicitly.  Oracle mirror (pinned by the sf0.01
    parity gate): ``greatest(floor, ceil(count(v) / target))``."""
    import math

    if n_complete <= 0:
        return floor
    k = max(floor, math.ceil(n_complete / target_rows))
    return k if cap is None else min(cap, k)


def semantic_dedup(
    corpus: DataFrame,
    nlist: int | None = None,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Flag semantic near-duplicates: (id, cluster_id, is_kept).

    ``is_kept`` is False iff a lower-id vector in the same coarse cluster
    has cosine similarity >= ``tau``.  Deterministic end to end (md5
    seeds, lowest-id exemplars); filter on ``is_kept`` for the deduped
    corpus or aggregate per cluster for a retention audit.

    ``nlist=None`` (default) auto-scales the cluster count to the corpus
    (:func:`auto_nlist`): one extra count() of complete vectors buys a
    pair space that stays LINEAR in corpus size — with any fixed nlist
    the per-cluster row count grows with n and the pair space grows
    n^2/nlist (measured: x23 wall-time at 10x data under the old fixed
    default).  Pass an explicit ``nlist`` only to pin the quantizer
    (e.g. to reuse assignments across runs); the auto count is uncapped
    and the Arrow-batched assignment's plan size is O(1) in nlist, so
    the default stays linear at any corpus size.

    Exactly one output row per distinct id: duplicated-id inputs are
    collapsed first (:func:`_one_row_per_id`), so the seed sample, the
    pair space, and the flag join all see one row per id.

    The collapse is one id-keyed shuffle of the vector column ahead of
    an otherwise map-only assignment; ``assume_unique_ids=True`` skips
    it — the scale knob for corpora that are already keyed one row per
    id (e.g. straight out of an exact-dedup pass).  With it set on a
    duplicated input the per-cluster counts and flags are silently
    wrong, so the default pays the shuffle.
    """
    if not assume_unique_ids:
        corpus = _one_row_per_id(corpus, id_col, vec_col)
    if nlist is None:
        # Count COMPLETE vectors post-collapse — the same population the
        # seed sample draws from (and the oracle's count(v), since its
        # corpus CTE nulls incomplete vectors).  One cheap count() scan.
        from cryptocurrency_data_pipeline_spark.operators.similarity import (
            as_double,
        )

        n_complete = corpus.where(
            as_double(F.col(vec_col)).isNotNull()
        ).count()
        nlist = auto_nlist(n_complete)
    seeds = ivf_centroids(corpus, nlist=nlist, id_col=id_col, vec_col=vec_col)
    centers = sorted((r.centroid_id, list(r.centroid)) for r in seeds.collect())
    # Three consumers (both pair sides + the flag join) would each rescan
    # the corpus and recompute the k x dim assignment; persist collapses
    # them onto one scan + cache reads (spills to disk at scale, reclaimed
    # by the ContextCleaner — the MLlib caching discipline).  Vectors are
    # L2-normalized once per row, so every within-cluster pair pays a
    # single dot-product fold instead of dot + two norms — the pair space
    # is the quadratic term, the normalization is linear.  (Oracles must
    # normalize-then-dot the same way: the fold order matters.)
    assigned = _normalized_assignment(corpus, centers, id_col, vec_col)

    a = assigned.select(
        F.col(id_col).alias("__id_a"),
        F.col("cluster_id"),
        F.col("__nv").alias("__v_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("__id_b"),
        F.col("cluster_id"),
        F.col("__nv").alias("__v_b"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("__id_a") < F.col("__id_b"))
        .filter(dot(F.col("__v_a"), F.col("__v_b")) >= F.lit(float(tau)))
        .select(F.col("__id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    # The flag join never needs the vectors — shuffle (id, cluster) only.
    slim = assigned.select(id_col, "cluster_id")
    return (
        slim.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
        )
    )


def semantic_dedup_incremental(
    existing: DataFrame,
    batch: DataFrame,
    nlist: int | None = None,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assume_unique_ids: bool = False,
    retrain_on_large_batch: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an already-kept corpus — the steady-state
    mode of a growing corpus.  Output: (id, cluster_id, dup_of_existing,
    dup_within_batch, is_kept) for the batch rows only.

    Semantics (all deterministic):

    * the coarse quantizer comes from the EXISTING corpus only — a stable
      center set, so historical cluster assignments never churn as
      batches arrive (the production IVF discipline);
    * ``dup_of_existing``: some existing same-cluster vector has cosine
      >= tau (the existing corpus is immutable — nothing in it is ever
      re-dropped);
    * ``dup_within_batch``: not a dup of existing, but a lower-id batch
      vector has cosine >= tau (the same greedy lowest-id-exemplar rule
      as ``semantic_dedup``);
    * ``is_kept``: neither.

    Cost shape: existing x batch and batch x batch pairs, BOTH bounded by
    the shared cluster key — one equi-join shuffle each, never corpus x
    batch all-pairs.  In the steady state (batch <= existing) the auto
    cluster count is keyed to the EXISTING corpus (the quantizer's
    training set) and centers never churn as batches arrive — the
    production IVF discipline.  A batch that DWARFS the corpus would
    pack clusters sized for the small existing set (the r13 slope
    instrument read x12 on a 400-row corpus with a 19,600-row batch), so
    in auto mode (``nlist=None``) the operator RETRAINS when
    ``batch > existing``: the quantizer re-seeds from the min-collapsed
    union of both sides with the cluster count keyed to the combined
    population — the retrain-when-doubled discipline of any production
    IVF index, applied mechanically instead of left to a docstring.
    Retraining churns cluster ids for that call (inherent to retraining);
    pass an explicit ``nlist`` (or ``retrain_on_large_batch=False``) to
    pin the existing-corpus quantizer regardless of batch size.  The
    existing side is assigned fresh here; a real deployment persists its
    normalized assignment alongside the corpus and feeds it back, paying
    only the (small) batch assignment per increment.

    Both sides carry the family's id-uniqueness contract
    (:func:`_one_row_per_id`): duplicated ids in either frame are
    collapsed before seeding/assignment, so the output stays one row per
    distinct batch id.  ``assume_unique_ids=True`` skips both collapse
    shuffles for already-keyed inputs (see :func:`semantic_dedup`).
    """
    if not assume_unique_ids:
        existing = _one_row_per_id(existing, id_col, vec_col)
        batch = _one_row_per_id(batch, id_col, vec_col)
    train = existing
    if nlist is None:
        # Auto mode: two O(1)-result count scans decide both the cluster
        # count and the quantizer's training set (see docstring — the
        # retrain-when-doubled dispatch).
        from cryptocurrency_data_pipeline_spark.operators.similarity import (
            as_double,
        )

        def _n_complete(df: DataFrame) -> int:
            return df.where(as_double(F.col(vec_col)).isNotNull()).count()

        n_ex = _n_complete(existing)
        n_b = _n_complete(batch)
        if retrain_on_large_batch and n_b > n_ex:
            # The batch outgrew the corpus: clusters sized for the small
            # existing set would hold O(batch/nlist_ex) rows each and the
            # batch x batch half re-quadratizes.  Retrain on the union —
            # one more id-keyed collapse shuffle (ids may overlap across
            # sides; seeds must be deterministic one-row-per-id), cluster
            # count keyed to the combined population.
            train = _one_row_per_id(
                existing.unionByName(batch), id_col, vec_col
            )
            nlist = auto_nlist(n_ex + n_b)
        else:
            nlist = auto_nlist(n_ex)
    seeds = ivf_centroids(train, nlist=nlist, id_col=id_col, vec_col=vec_col)
    centers = sorted((r.centroid_id, list(r.centroid)) for r in seeds.collect())
    ex = _normalized_assignment(existing, centers, id_col, vec_col)
    nw = _normalized_assignment(batch, centers, id_col, vec_col)

    n_side = nw.select(
        F.col(id_col).alias("__id_n"), "cluster_id", F.col("__nv").alias("__v_n")
    )
    e_side = ex.select(
        "cluster_id", F.col("__nv").alias("__v_e")
    )
    dup_existing = (
        n_side.join(e_side, "cluster_id")
        .filter(dot(F.col("__v_n"), F.col("__v_e")) >= F.lit(float(tau)))
        .select(F.col("__id_n").alias(id_col))
        .distinct()
        .withColumn("__dup_ex", F.lit(True))
    )
    lo = nw.select(
        F.col(id_col).alias("__id_a"), "cluster_id", F.col("__nv").alias("__v_a")
    )
    hi = nw.select(
        F.col(id_col).alias("__id_b"), "cluster_id", F.col("__nv").alias("__v_b")
    )
    dup_batch = (
        lo.join(hi, "cluster_id")
        .filter(F.col("__id_a") < F.col("__id_b"))
        .filter(dot(F.col("__v_a"), F.col("__v_b")) >= F.lit(float(tau)))
        .select(F.col("__id_b").alias(id_col))
        .distinct()
        .withColumn("__dup_new", F.lit(True))
    )
    slim = nw.select(id_col, "cluster_id")
    flags = (
        slim.join(dup_existing, id_col, "left")
        .join(dup_batch, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(F.col("__dup_ex"), F.lit(False)).alias("dup_of_existing"),
            (
                F.coalesce(F.col("__dup_new"), F.lit(False))
                & ~F.coalesce(F.col("__dup_ex"), F.lit(False))
            ).alias("dup_within_batch"),
        )
    )
    return flags.withColumn(
        "is_kept", ~F.col("dup_of_existing") & ~F.col("dup_within_batch")
    )
