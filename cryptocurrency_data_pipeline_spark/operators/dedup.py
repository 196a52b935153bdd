"""Document deduplication family for the LLM-data-pipeline surface.

Scale design notes (the point of each variant at 100 TB):

* **Exact** — fingerprint groupBy: one shuffle on a 32-char hash, minimal.
* **MinHash + LSH** — shingle → k salted-md5 minhashes → b bands → band-key
  groupBy → candidate pairs only within buckets → verified Jaccard on
  candidates.  Cost is O(docs × shingles × k) map-side + one shuffle per
  band on short band keys; the quadratic pair space is never materialized.
  The minhash here is the *lexicographic-min of salted md5 hex digests* —
  mathematically a valid MinHash family (md5 as the random permutation),
  chosen deliberately so the whole construction stays inside built-in JVM
  expressions AND is reproducible in ANSI SQL for the correctness oracle.
* **SimHash** — 64-bit weighted-bit signature via a vectorized Pandas UDF
  (Arrow-batched; the per-token bit loop is genuinely imperative), then
  exact-match or small-Hamming grouping on the signature.
* **Embedding near-dup** — cosine over ``array<float>`` columns with an
  LSH/blocking key to bound pairs (see ``similarity.py``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: Per-row size threshold dispatching the gram build between the
#: substring-seek form (quadratic byte-walk, trivial under the limit,
#: fastest on ordinary docs) and the split-chars form (linear, ×30 on
#: 150 KB docs).  At the boundary the seek form does ~lim²/2 ≈ 8M byte
#: ops per doc — well under a millisecond.
_CHAR_SEEK_LIM = 4096

from cryptocurrency_data_pipeline_spark.operators import caching
from cryptocurrency_data_pipeline_spark.operators.text import fingerprint, shingles, tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per normalized fingerprint (hash-groupBy)."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__fp")
    )


#: Hex-digit buckets for one-permutation hashing (k=8 fixed buckets).
_OPH_BUCKETS = [("0", "1"), ("2", "3"), ("4", "5"), ("6", "7"),
                ("8", "9"), ("a", "b"), ("c", "d"), ("e", "f")]


def minhash_signature(hashes: Column) -> Column:
    """8-element one-permutation MinHash signature from md5'd shingles.

    ``hashes`` = array of md5 hex digests (one per shingle, computed ONCE —
    at 100 TB the md5 pass dominates, so a single pass beats k salted
    passes k×).  Bucket i = shingles whose first hex digit falls in bucket
    i's range; element i = lexicographic min within the bucket (a valid
    OPH MinHash estimator; empty buckets are null and handled null-safely
    at band construction).
    """
    def bucket_pred(digits):
        # Closure (not a lambda default arg): PySpark introspects lambda
        # parameters and would bind a default arg as a second HOF variable.
        return lambda h: F.substring(h, 1, 1).isin(*digits)

    return F.array(
        *[F.array_min(F.filter(hashes, bucket_pred(d))) for d in _OPH_BUCKETS]
    )


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, sh, hashes): distinct shingles + their md5s, computed once and
    persisted — both the signature and the verification join read it, so
    the shingling/hash pass runs a single time (at scale: persist to
    MEMORY_AND_DISK rather than recompute a 100 TB lineage twice)."""
    from cryptocurrency_data_pipeline_spark.operators.skew import (
        spread_small_scan,
    )

    return (
        # Spread the single-row-group scan BEFORE the shingle/md5/OPH
        # map chain (re-measured r15 under the cache-hermetic harness —
        # the r14 removal A/B timed warm-cache reads, not this pass):
        # the interpreted-HOF pipeline otherwise runs on ONE task.
        # Identity on at-scale inputs.
        spread_small_scan(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
        )
        # Stage tokens as a bound column: shingling references the token
        # array inside a HOF lambda, which re-evaluates raw expressions
        # per element (O(len²) tokenization otherwise).
        .withColumn("__toks", tokens("__txt"))
        .select(
            "id",
            F.array_distinct(shingles(toks=F.col("__toks"), n=n)).alias("sh"),
        )
        .withColumn("hashes", F.transform("sh", lambda s: F.md5(s)))
    )


def band_keys(sig: Column, bands: int = 4) -> Column:
    """Band keys from an 8-element signature: bands of ``8/bands`` rows,
    null-safe (empty OPH buckets hash as a sentinel on both engines).
    ``bands`` must divide the signature length exactly — a non-divisor
    silently ignores trailing signature elements, and ``bands > 8``
    degenerates to zero rows per band, where EVERY doc shares every band
    key and the candidate join explodes to all-pairs."""
    if bands <= 0 or 8 % bands:
        raise ValueError(
            f"bands must be a positive divisor of the signature length 8, "
            f"got {bands}"
        )
    rows = 8 // bands
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.coalesce(sig[b * rows + r], F.lit("~")) for r in range(rows)],
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    n: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: docs sharing any full band of the
    signature.  Returns distinct (a_id, b_id) with a < b.

    rows-per-band = 8/bands; collision prob ≈ jaccard^(8/bands) per band.
    The pair space is generated by a self-equi-join on short band keys —
    the only shuffle, on ~32-byte keys.  ``sh`` injects a pre-built
    (persisted) shingle frame so callers that also verify pairs share
    the one shingling pass (:func:`minhash_near_dups`).

    Zero-shingle docs (shorter than the shingle width) are excluded
    BEFORE banding: their signature is all-null, so every such doc would
    share every sentinel band key with every other — C(n,2) candidate
    pairs that all verify to Jaccard 0, a quadratic shuffle for nothing
    at corpus scale.
    """
    if sh is None:
        sh = _shingle_frame(df, text_col, id_col, n)
    # No distinct: the band-index prefix makes the exploded keys unique per doc.
    # Persisted: the self-join below references this frame on BOTH sides,
    # and each alias re-computes the 8-bucket OPH signature over the
    # cached shingle hashes (~4 s of task CPU per side at sf0.1) — the
    # cache collapses both onto one signature pass.
    banded = caching.persist(
        sh.where(F.size("sh") > 0)
        .select(
            "id",
            F.explode(
                band_keys(minhash_signature(F.col("hashes")), bands)
            ).alias("band_key"),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Set Jaccard over two token/shingle arrays (duplicates ignored)."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(F.array_union(a_tokens, b_tokens))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verification.

    Output: (a_id, b_id, jaccard_sim) for pairs above ``threshold``.  The
    shingle frame is persisted so shingling+md5 runs once for both the
    signature pass and the verification joins.
    """
    sh = caching.persist(_shingle_frame(df, text_col, id_col, n))
    pairs = lsh_candidate_pairs(df, text_col, id_col, bands, n, sh=sh)
    shingle_sets = sh.select("id", "sh")
    return (
        pairs.join(
            shingle_sets.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), "a_id"
        )
        .join(
            shingle_sets.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), "b_id"
        )
        .select(
            "a_id",
            "b_id",
            F.round(jaccard(F.col("a_sh"), F.col("b_sh")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens.

    Per doc: for each token, md5 → 64 bits; accumulate +1/−1 per bit;
    signature bit = sign.  Token weight = term frequency (repeat adds).

    Tokenization matches the engine-wide contract EXACTLY — ASCII
    ``WS_CLASS`` split plus ``fold_lower``: Python's argless
    ``str.split()`` splits on Unicode whitespace (U+00A0, U+0085,
    U+2028, …) and ``str.lower()`` carries the Java-style full case
    mappings, both of which diverged from the oracle's
    ``tokens_sql`` on the sfuni fixture (İstanbul / NBSP / NEL docs).
    """
    import hashlib
    import re

    from cryptocurrency_data_pipeline_spark.operators.text import (
        WS_CLASS,
        fold_lower_py,
    )

    ws = re.compile(WS_CLASS)
    out = []
    for text in texts:
        if text is None:
            out.append(None)
            continue
        acc = [0] * 64
        for tok in filter(None, ws.split(fold_lower_py(str(text)))):
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for bit in range(64):
                acc[bit] += 1 if (h >> bit) & 1 else -1
        sig = 0
        for bit in range(64):
            if acc[bit] > 0:
                sig |= 1 << bit
        # Interpret as signed 64-bit for Spark LongType.
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
    return pd.Series(out, dtype="object")


_simhash_udf = None


def simhash64(col: Column) -> Column:
    """Arrow-batched SimHash UDF, created lazily (pandas_udf needs an
    active SparkSession to parse its return type — a module-level
    decorator would make this module import-order sensitive)."""
    global _simhash_udf
    if _simhash_udf is None:
        # asNondeterministic (guide §4.4): signatures feed equi-joins,
        # and a pushed-down isnotnull over the UDF column would
        # duplicate the ArrowEvalPython (every row pays the Python
        # boundary twice).  Pure function; the marker only forbids the
        # optimizer cloning/reordering it.
        _simhash_udf = pandas_udf(_simhash_batch, "long").asNondeterministic()
    return _simhash_udf(col)


def simhash_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical 64-bit SimHash signature (near-dup at
    Hamming distance 0; banding the signature extends to distance>0)."""
    sigs = df.select(F.col(id_col), simhash64(F.col(text_col)).alias("simhash"))
    return (
        sigs.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# Exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL'22) — suffix-array-free distributed variant.
# --------------------------------------------------------------------------

def duplicated_gram_positions(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Every character position opening a k-gram that appears VERBATIM more
    than once anywhere in the corpus (other docs or elsewhere in the same
    doc) — the distributed stand-in for Lee et al.'s suffix-array duplicate
    scan.

    Scale shape (100 TB): the explode is a deliberate k-fold amplification
    — exact substring detection inherently touches every position; suffix
    arrays avoid re-reading but not the O(total_chars) index. The gram
    subtree (the expensive md5-per-position pass) runs ONCE: the duplicate
    test is a count over a window partitioned by the hash, not an
    aggregate-plus-self-join, so there is no second scan and no join. The
    shuffle carries (32-char hash, id, pos), independent of k. md5 (not
    xxhash64) so the dup-gram set is bit-identical to the ANSI oracle
    under any collision. Skew note: a gram repeated millions of times
    (e.g. a whitespace run) concentrates its window partition in one
    task — pathological only for degenerate corpora; pre-filter such runs
    upstream if they appear.
    """
    from pyspark.sql import Window

    from cryptocurrency_data_pipeline_spark.operators.text import char_array

    # Hashes are built IN-ROW (the exploded rows carry only (pos,
    # 32-char hash)) — the previous position-explode carried the FULL
    # parent text on every exploded row, O(n²) row-copy bytes: ~200 s
    # on 150 KB docs (sfbig, tools/make_big_sf.py) for what runs in
    # seconds linearized.  Two in-row forms, size-dispatched per row:
    #
    # * docs <= _CHAR_SEEK_LIM: md5(substring(text, p, k)) per position.
    #   UTF8String.substring SEEKS code points from the string start, so
    #   this is O(n²) byte-walk — irrelevant under the limit (<= ~8M
    #   byte ops/doc), and it matches the old form's small-doc speed.
    # * larger docs: split the text ONCE into a codepoint array
    #   (text.char_array, its own column so the lambda doesn't re-split
    #   per element — the O(n²)-in-disguise the semdedup norm column
    #   dodges) and hash array_join(slice(chars, p, k)) — O(n·k),
    #   measured ×30 on the giants.  slice+array_join reproduces
    #   substring exactly (codepoint semantics, verified vs the oracle
    #   on CJK/astral/newline corpora).
    #
    # CASE branches evaluate lazily per row, so small docs never pay the
    # regex split and giant docs never pay the quadratic seek.
    from cryptocurrency_data_pipeline_spark.operators.skew import (
        spread_small_scan,
    )

    lim = _CHAR_SEEK_LIM
    # The md5-per-position build is the expensive map of this operator;
    # spread a small (few-partition) input across the cluster first so
    # it never runs serially behind a single-row-group scan (identity on
    # big inputs — see spread_small_scan).
    grams = (
        spread_small_scan(df.where(F.length(text_col) >= k))
        .select(
            F.col(id_col),
            F.length(text_col).alias("_n"),
            F.col(text_col).alias("_t"),
            F.when(
                F.length(text_col) > lim, char_array(text_col)
            ).alias("_chars"),
        )
        .select(
            F.col(id_col),
            F.posexplode(
                F.when(
                    F.col("_n") <= lim,
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n") - (k - 1)),
                        lambda p: F.md5(F.substring("_t", p, k)),
                    ),
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n") - (k - 1)),
                        lambda p: F.md5(
                            F.array_join(F.slice("_chars", p, k), "")
                        ),
                    )
                )
            ).alias("_i", "g"),
        )
        .select(
            id_col,
            (F.col("_i") + 1).cast("long").alias("p"),
            "g",
        )
    )
    wg = Window.partitionBy("g")
    return (
        grams.withColumn("n", F.count(F.lit(1)).over(wg))
        .where("n > 1")
        .select(id_col, "p")
    )


def exact_substring_spans(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Maximal duplicated spans per doc: overlapping/adjacent duplicated
    k-gram intervals ``[p, p+k)`` merged gaps-and-islands style.

    Two shuffles end-to-end: the gram-hash exchange in
    ``duplicated_gram_positions`` and ONE doc-keyed window for the merge
    (lag → break flag → running island id → per-island min/max). Span ends
    are inclusive char indexes, 1-based, matching ANSI ``substring``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("p")
    hits = duplicated_gram_positions(df, k, text_col, id_col)
    islands = (
        hits.withColumn(
            "brk",
            F.when(F.col("p") - F.lag("p").over(w) <= k, F.lit(0)).otherwise(F.lit(1)),
        )
        .withColumn("isl", F.sum("brk").over(w))
    )
    return (
        islands.groupBy(id_col, "isl")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + (k - 1)).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def segment_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 4,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document boilerplate detection at SEGMENT granularity — the
    RefinedWeb / CCNet line-dedup move generalized to token windows.

    Documents are cut into consecutive ``seg_len``-token segments; a
    segment whose exact hash appears in >= ``min_df`` DISTINCT documents
    is boilerplate (headers, footers, license blocks, injected templates
    — and, in a near-dup corpus, the shared spans).  Returns one row per
    document that has >= 1 segment: ``id, n_segments, n_boilerplate,
    boilerplate_frac`` — the removal/trim decision composes downstream.

    Scale shape: one explode (map-side), one partial-agged groupBy on the
    segment hash for document frequency, one hash-keyed join back (AQE
    skew-splittable; the frequency side is |distinct segments|, already
    reduced), one partial-agged groupBy on the doc id.  Segment hashes —
    never segment text — cross the shuffles.  No driver state.

    Key-uniqueness contract: one output row per distinct id; rows
    sharing an id POOL their segments (a ×k-duplicated doc reports k×
    the segment counts, same fraction), and the df count is over
    DISTINCT ids, so self-duplicates never make a segment boilerplate.
    """
    toks = tokens(text_col)
    n_seg = F.floor(F.size(toks) / seg_len).cast("int")
    seg_idx = F.when(
        n_seg > 0, F.sequence(F.lit(0), n_seg - 1)
    ).otherwise(F.array().cast("array<int>"))
    # Segment hashes are built IN-ROW (transform over the index array,
    # slicing the materialized token column) and only then exploded: the
    # previous explode-then-slice carried the FULL token array on every
    # segment row — O(n²/seg_len) element copies, the same wide-parent
    # quadratic the sfbig gram queries hit, just one power of seg_len
    # softer.  ``tk`` is its own column, so the lambda reads a
    # materialized array rather than re-tokenizing per element.
    # Persisted: the segment frame feeds the df count AND the join
    # back — uncached the tokenize+hash explode ran twice per action.
    # Measured NOT to want spread_small_scan (r15 interleaved hermetic
    # A/B: 1.33 s unspread vs 1.37 spread — segment hashing is too
    # cheap to pay the repartition).
    segs = caching.persist(
        df.select(F.col(id_col), toks.alias("tk"), seg_idx.alias("idx"))
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.col("idx"),
                    lambda j: F.md5(
                        F.array_join(
                            F.slice("tk", j * seg_len + 1, seg_len), " "
                        )
                    ),
                )
            ).alias("seg_hash"),
        )
    )
    freq = segs.groupBy("seg_hash").agg(
        F.count_distinct(F.col(id_col)).alias("seg_df")
    )
    return (
        segs.join(freq, "seg_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("seg_df") >= min_df).cast("long")).alias("n_boilerplate"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(F.col("n_boilerplate") / F.col("n_segments"), 6),
        )
    )
