"""SemDeDup, graph, retrieval, BPE, PQ/IVFPQ families (epoch 3):
embedding near-dup pruning, duplicate-cluster graph queries, RRF
retrieval, BPE apply, PQ/ADC and IVFPQ train+serve paths, IVF oracles.

Split from the monolithic ``queries.py`` by REGISTRATION EPOCH — the
import sequence in ``queries/__init__.py`` preserves the original
registration order exactly (pinned by ``tests/test_oracle_parity.py``);
append new queries to the LAST part (or a new part imported last), never
reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cryptocurrency_data_pipeline_spark.operators import silver  # noqa: F401
from cryptocurrency_data_pipeline_spark.operators import caching  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._fragments import (  # noqa: F401
    minhash_sig_ctes,
)
from cryptocurrency_data_pipeline_spark.operators.quantize import finite  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._fragments import finite_sql  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._registry import query, t  # noqa: F401
from cryptocurrency_data_pipeline_spark.sources.tables import load_table  # noqa: F401

# --------------------------------------------------------------------------
# SemDeDup (operators/semdedup.py): embedding-space near-dup pruning —
# coarse IVF clustering (map-only literal centers) bounds the pair space,
# then ONE cluster-keyed equi-join shuffle scores within-cluster cosines
# and drops everything inside a kept exemplar's epsilon-ball (lowest id
# wins).  Oracle replays the md5 seed sample, the ties-to-lowest-cid L2
# assignment (same CTE shape as kmeans_embedding_clusters, driver-green
# r3), and the pair predicate verbatim.  Training-data extension; no
# reference counterpart.
# --------------------------------------------------------------------------

@query(
    "semantic_dedup_keep",
    oracle="""
    WITH corpus AS (
      -- mirrors semdedup._one_row_per_id: one deterministic (min-vector)
      -- row per id, so duplicated vec_id inputs collapse identically
      SELECT vec_id, min(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END) AS v
      FROM embeddings GROUP BY vec_id
    ), nl AS (
      -- mirrors semdedup.auto_nlist: ceil(complete-vectors / 256), floor
      -- 8, UNCAPPED (count(v) skips the nulled incomplete rows); values
      -- identical to the r13 clamped form at every corpus under ~65k
      SELECT greatest(8, CAST(ceil(count(v) / 256.0) AS INT)) AS k
      FROM corpus
    ), seed AS (
      SELECT cid, c FROM (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
               v AS c
        FROM corpus)
      WHERE cid <= (SELECT k FROM nl)
    ), d0 AS (
      SELECT a.vec_id, a.v, s.cid,
             list_aggregate(list_transform(generate_series(1, len(a.v)),
               j -> (a.v[j] - s.c[j]) * (a.v[j] - s.c[j])), 'sum') AS d
      FROM corpus a CROSS JOIN seed s
    ), a0 AS (
      -- zero-norm guard mirrors _normalized_assignment: an all-zero
      -- embedding keeps its zero components (dot 0 vs everything, kept)
      SELECT vec_id, cid,
             CASE WHEN list_dot_product(v, v) > 0
                  THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                  ELSE v END AS nv
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d0) WHERE rn = 1
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM a0 a JOIN a0 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.nv, b.nv) >= 0.45
    )
    SELECT a0.cid AS cluster_id,
           count(*) AS n_vecs,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM a0 LEFT JOIN dropped d ON a0.vec_id = d.vec_id
    GROUP BY a0.cid
    """,
)
def semantic_dedup_keep(spark, sf_dir):
    """Per-cluster SemDeDup retention audit over the embeddings table."""
    from cryptocurrency_data_pipeline_spark.operators.semdedup import semantic_dedup

    flags = semantic_dedup(t(spark, sf_dir, "embeddings"), tau=0.45)
    return flags.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("is_kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("is_kept"), 0).otherwise(1)).cast("long").alias("n_dropped"),
    )


# --------------------------------------------------------------------------
# DSIR importance weights (operators/dsir.py): distribution-matching data
# selection — hashed-unigram bucket distributions for target (source src0)
# vs the whole corpus, Laplace-smoothed log ratios broadcast against the
# per-doc term frequencies.  One doc-keyed shuffle; B-row sketch joins.
# Per-source mean weight is the audit: the target source must score
# highest by construction.  Training-data extension; no ref counterpart.
# --------------------------------------------------------------------------

@query(
    "dsir_source_weights",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                t -> t <> '')) AS tk
      FROM documents
    ), tf AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(tk), 1, 4)) AS INT) % 64 AS bk,
             count(*) AS tf
      FROM tok GROUP BY doc_id, source, bk
    ), raw AS (
      SELECT bk, CAST(sum(tf) AS BIGINT) AS n_raw FROM tf GROUP BY bk
    ), tgt AS (
      SELECT bk, CAST(sum(tf) AS BIGINT) AS n_tgt
      FROM tf WHERE source = 'src0' GROUP BY bk
    ), tot AS (
      SELECT (SELECT CAST(sum(n_raw) AS DOUBLE) FROM raw) AS t_raw,
             (SELECT CAST(coalesce(sum(n_tgt), 0) AS DOUBLE) FROM tgt) AS t_tgt
    ), ratio AS (
      SELECT r.bk,
             ln((coalesce(g.n_tgt, 0) + 1) / (tot.t_tgt + 64))
             - ln((r.n_raw + 1) / (tot.t_raw + 64)) AS lr
      FROM raw r LEFT JOIN tgt g USING (bk), tot
    ), contrib AS (
      SELECT f.doc_id, f.source, sum(f.tf * ratio.lr) AS w
      FROM tf f JOIN ratio USING (bk)
      GROUP BY f.doc_id, f.source
    ), scored AS (
      -- zero-token docs keep their well-defined empty-sum weight of 0
      -- (mirrors the operator's explode_outer); DISTINCT mirrors the
      -- operator's one-row-per-key contract — duplicated (doc_id,
      -- source) rows pool their tokens into ONE document upstream (the
      -- tf GROUP BY), so the scored frame must not re-multiply them
      -- null-SAFE key join: a NULL source is a real grouping key with
      -- real token weight; the plain equi-join zeroed it (sfnull class)
      SELECT DISTINCT d.doc_id, d.source,
             round(coalesce(c.w, 0.0), 6) AS w
      FROM documents d LEFT JOIN contrib c
        ON d.doc_id IS NOT DISTINCT FROM c.doc_id
       AND d.source IS NOT DISTINCT FROM c.source
    )
    SELECT source, count(*) AS n_docs, round(avg(w), 4) AS avg_logweight
    FROM scored GROUP BY source
    """,
)
def dsir_source_weights(spark, sf_dir):
    """Per-source mean DSIR log weight, target domain = source 'src0'."""
    from cryptocurrency_data_pipeline_spark.operators.dsir import (
        importance_logweights,
    )

    docs = t(spark, sf_dir, "documents")
    w = importance_logweights(
        docs, target=F.col("source") == "src0", keys=("doc_id", "source")
    )
    return w.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("log_weight"), 4).alias("avg_logweight"),
    )


# --------------------------------------------------------------------------
# Blocked fuzzy self-join (operators/fuzzy.py): q-gram blocking + built-in
# levenshtein verify over the distinct part names — the entity-resolution
# shape that never materializes all-pairs.  The oracle replays the
# BLOCKING predicate too (shared-gram candidates, then the distance cap),
# same discipline as the LSH oracles: the blocking is part of the
# operator's contract, not an approximation to hide.  The stop-gram
# df-cap is SET here (max_gram_df=12): ultra-frequent grams are the skew
# hazard at 100x — a hot gram ("pro", "ste") makes one join partition
# quadratic — so the scale-safe configuration is the demonstrated
# default.  Cap sizing: on this corpus every part name keeps >= 1
# un-pruned gram at df<=12 (max per-key min-df is 6; measured at
# sf0.001/0.01/0.1), while the hottest grams (df up to 16) are pruned —
# tests/test_fuzzy.py asserts both properties.  The oracle replays the
# pruning with the same anti-join-on-df predicate.
# --------------------------------------------------------------------------

@query(
    "fuzzy_part_name_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS k FROM part),
    g AS (
      SELECT k, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(k) - 2, 0)),
               i -> substr(k, i, 3)))) AS gram
      FROM names
    ), df AS (
      SELECT gram, count(*) AS d FROM g GROUP BY gram
    ), kept AS (
      SELECT g.k, g.gram FROM g JOIN df USING (gram) WHERE df.d <= 12
    ), cand AS (
      SELECT DISTINCT a.k AS key_a, b.k AS key_b
      FROM kept a JOIN kept b ON a.gram = b.gram AND a.k < b.k
    )
    SELECT key_a, key_b, levenshtein(key_a, key_b) AS edit_distance
    FROM cand WHERE levenshtein(key_a, key_b) <= 2
    """,
)
def fuzzy_part_name_pairs(spark, sf_dir):
    """Near-identical part names within 2 edits, q-gram-blocked, with the
    stop-gram df-cap active (the scale-safe default — see block comment)."""
    from cryptocurrency_data_pipeline_spark.operators.fuzzy import fuzzy_self_pairs

    return fuzzy_self_pairs(
        t(spark, sf_dir, "part"), "p_name", q=3, max_distance=2, max_gram_df=12
    )


# --------------------------------------------------------------------------
# Hybrid retrieval (operators/retrieval.py): reciprocal-rank fusion of the
# engine's own BM25 lexical ranker and the dense cosine ranker — the
# standard RAG front-end.  Both lists truncate via TakeOrderedAndProject
# before their 50-row rank windows; fusion is a full outer join of two
# 50-row frames + a map-only score.  Ranks are computed over 6-dp-rounded
# scores so the ordering replays exactly in DuckDB; absent-list sentinel
# rank is 0.  The BM25 CTE is the (driver-green) bm25_top_docs oracle
# verbatim; the dense CTE is the embedding_near_dups cosine idiom.
# --------------------------------------------------------------------------

@query(
    "hybrid_rrf_retrieval",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                        t -> t <> '')) AS token
      FROM documents
    ), per_doc AS (
      SELECT doc_id, count(*) AS dl,
             sum(CASE WHEN token = 'dup' THEN 1 ELSE 0 END) AS tf0,
             sum(CASE WHEN token = 'spark' THEN 1 ELSE 0 END) AS tf1,
             sum(CASE WHEN token = 'key' THEN 1 ELSE 0 END) AS tf2
      FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM per_doc
    ), scored AS (
      SELECT d.doc_id,
             0 + (CASE WHEN d.tf0 > 0 THEN
                 ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
                 * d.tf0 * 2.2
                 / (d.tf0 + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
               ELSE 0.0 END)
               + (CASE WHEN d.tf1 > 0 THEN
                 ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
                 * d.tf1 * 2.2
                 / (d.tf1 + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
               ELSE 0.0 END)
               + (CASE WHEN d.tf2 > 0 THEN
                 ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
                 * d.tf2 * 2.2
                 / (d.tf2 + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
               ELSE 0.0 END) AS score
      FROM per_doc d CROSS JOIN stats s
    ), lex AS (
      SELECT doc_id, round(score, 6) AS s FROM scored WHERE score > 0
    ), lex_r AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r_lex
      FROM (SELECT * FROM lex ORDER BY s DESC, doc_id LIMIT 50)
    ), c AS (
      SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings
    ), qv AS (SELECT v FROM c WHERE vec_id = 0
    ), dense AS (
      SELECT c.vec_id AS doc_id,
             round(list_dot_product(c.v, qv.v)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(qv.v, qv.v))), 6) AS sim
      FROM c, qv WHERE c.vec_id != 0
    ), dense_r AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_dense
      FROM (SELECT * FROM dense ORDER BY sim DESC, doc_id LIMIT 50)
    ), fused AS (
      SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
             CAST(coalesce(l.r_lex, 0) AS BIGINT) AS r_lex,
             CAST(coalesce(d.r_dense, 0) AS BIGINT) AS r_dense,
             round(coalesce(1.0 / (60 + l.r_lex), 0)
                   + coalesce(1.0 / (60 + d.r_dense), 0), 6) AS rrf_score
      FROM lex_r l FULL JOIN dense_r d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, r_lex, r_dense, rrf_score FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def hybrid_rrf_retrieval(spark, sf_dir):
    """Top-10 hybrid (BM25 + dense cosine) retrieval, RRF-fused, for the
    query terms [dup, spark, key] and query vector = embedding of doc 0."""
    from cryptocurrency_data_pipeline_spark.operators import similarity, text
    from cryptocurrency_data_pipeline_spark.operators.retrieval import (
        ranked_topn,
        rrf_fuse,
    )

    docs = t(spark, sf_dir, "documents")
    lex_scored = (
        text.bm25_rank(docs, ["dup", "spark", "key"])
        .filter(F.col("score") > 0)
        .select("doc_id", F.round("score", 6).alias("s"))
    )
    lex = ranked_topn(lex_scored, "s", "doc_id", 50, "r_lex")

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dense_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(similarity.cosine(F.col("v"), F.col("qv")), 6).alias("sim"),
        )
    )
    dense = ranked_topn(dense_scored, "sim", "doc_id", 50, "r_dense")

    fused = rrf_fuse([lex, dense], "doc_id", ["r_lex", "r_dense"], k=60)
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


# --------------------------------------------------------------------------
# Distinct-n diversity (Li et al. 2016's distinct-1/2/3, the standard
# lexical-diversity signal in corpus QA): per source, distinct n-grams /
# total n-grams for n = 1..3.  One pass: the token array feeds three
# JVM-side gram builders, a single union explodes them with an n tag, and
# ONE (source, n, gram)-keyed shuffle (map-side combined) yields both the
# distinct and total counts; the pivot to columns is conditional agg over
# 60 rows.  Training-data extension; no reference counterpart.
# --------------------------------------------------------------------------

@query(
    "ngram_diversity_by_source",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                  t -> t <> ''), []) AS t
      FROM documents
    ), grams AS (
      SELECT source, n, gram FROM (
        SELECT source, 1 AS n, unnest(t) AS gram FROM tok
        UNION ALL
        SELECT source, 2 AS n,
               unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                 i -> array_to_string(t[i:i+1], ' '))) AS gram
        FROM tok
        UNION ALL
        SELECT source, 3 AS n,
               unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS gram
        FROM tok
      )
    ), per_gram AS (
      SELECT source, n, gram, count(*) AS c FROM grams GROUP BY source, n, gram
    ), per_n AS (
      SELECT source, n, count(*) AS n_distinct,
             CAST(sum(c) AS BIGINT) AS n_total
      FROM per_gram GROUP BY source, n
    )
    SELECT source,
           round(max(CASE WHEN n = 1 THEN n_distinct * 1.0 / n_total END), 6)
             AS distinct_1,
           round(max(CASE WHEN n = 2 THEN n_distinct * 1.0 / n_total END), 6)
             AS distinct_2,
           round(max(CASE WHEN n = 3 THEN n_distinct * 1.0 / n_total END), 6)
             AS distinct_3
    FROM per_n GROUP BY source
    """,
)
def ngram_diversity_by_source(spark, sf_dir):
    """distinct-1/2/3 lexical diversity per source."""
    from cryptocurrency_data_pipeline_spark.operators import text

    tok = t(spark, sf_dir, "documents").select(
        "source", text.tokens("text").alias("t")
    )

    # All three gram sizes come out of ONE scan: each n contributes a
    # tagged struct array, concat + a single explode replaces a 3-way
    # union that would rescan the documents three times.
    def tagged(n):
        idx = F.sequence(
            F.lit(1), F.greatest(F.size("t") - (n - 1), F.lit(0))
        )
        grams = F.when(
            F.size("t") >= n,
            F.transform(
                idx, lambda i: F.array_join(F.slice("t", i, n), " ")
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            grams,
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    grams = tok.select(
        "source",
        F.explode(F.concat(tagged(1), tagged(2), tagged(3))).alias("e"),
    ).select("source", F.col("e.n").alias("n"), F.col("e.gram").alias("gram"))
    per_gram = grams.groupBy("source", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_n = per_gram.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("c").alias("n_total"),
    )
    ratio = F.col("n_distinct") / F.col("n_total")
    return per_n.groupBy("source").agg(
        F.round(F.max(F.when(F.col("n") == 1, ratio)), 6).alias("distinct_1"),
        F.round(F.max(F.when(F.col("n") == 2, ratio)), 6).alias("distinct_2"),
        F.round(F.max(F.when(F.col("n") == 3, ratio)), 6).alias("distinct_3"),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
# split documents into head / middle / tail terciles by LM score — the
# canonical CommonCrawl curation step.  The LM is the engine's own bigram
# model (bigram_logprob_docs, driver-green); scores are rounded to 6 dp
# BEFORE the ntile so the tercile ordering (score desc, doc_id) replays
# exactly in DuckDB.  Scale note: ntile's per-lang sort is one task per
# language — verifiable exact semantics; production CCNet cuts on
# thresholds from a sampled score sketch instead, which this engine
# expresses via percentile_approx + broadcast (see winsorized/mad
# queries) when languages are few and corpora huge.
# --------------------------------------------------------------------------

@query(
    "ccnet_perplexity_buckets",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, lang,
             coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                  t -> t <> ''), []) AS toks
      FROM documents
    ), bgl AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS bg
      FROM tk
    ), b AS (
      SELECT doc_id, lang, bg, split_part(bg, ' ', 1) AS w1 FROM bgl
    ), cb AS (
      SELECT bg, count(*) AS c FROM b GROUP BY bg
    ), cu AS (
      SELECT w1, count(*) AS c FROM b GROUP BY w1
    ), lp AS (
      SELECT b.doc_id, b.lang,
             round(avg(ln(CAST(cb.c AS DOUBLE) / cu.c)), 6) AS lp
      FROM b JOIN cb ON b.bg = cb.bg JOIN cu ON b.w1 = cu.w1
      GROUP BY b.doc_id, b.lang
    ), nt AS (
      SELECT lang, lp,
             ntile(3) OVER (PARTITION BY lang ORDER BY lp DESC, doc_id) AS bucket
      FROM lp
    )
    SELECT lang, bucket, count(*) AS n_docs,
           round(avg(lp), 6) AS avg_lp, min(lp) AS min_lp, max(lp) AS max_lp
    FROM nt GROUP BY lang, bucket
    """,
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """Head/middle/tail LM-score terciles per language."""
    from cryptocurrency_data_pipeline_spark.operators import text

    docs = t(spark, sf_dir, "documents").withColumn("__toks", text.tokens("text"))
    b = docs.select(
        "doc_id",
        "lang",
        F.explode(text.shingles(n=2, toks=F.col("__toks"))).alias("bg"),
    ).withColumn("w1", F.substring_index("bg", " ", 1))
    cb = b.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    cu = b.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    lp = (
        b.join(cb, "bg")
        .join(cu, "w1")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg(F.log(F.col("cb") / F.col("cu"))), 6).alias("lp"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("lp").desc(), "doc_id")
    nt = lp.withColumn("bucket", F.ntile(3).over(w))
    return nt.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("lp"), 6).alias("avg_lp"),
        F.min("lp").alias("min_lp"),
        F.max("lp").alias("max_lp"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit (Sweeney 2002): group sizes over a quasi-identifier
# tuple, flagging equivalence classes smaller than k — the release-gate
# check that complements the PII-redaction pass (text.py) on structured
# columns.  ONE partial-agged shuffle on the quasi-identifier key; the
# summary is a second tiny agg.  At 100 TB the class count is bounded by
# the QI cardinality product, not the row count.
# --------------------------------------------------------------------------

@query(
    "k_anonymity_audit",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS class_size
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT count(*) AS n_classes,
           CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
             AS BIGINT) AS n_rows_at_risk,
           min(class_size) AS min_class,
           CAST(max(class_size) AS BIGINT) AS max_class
    FROM classes
    """,
)
def k_anonymity_audit(spark, sf_dir):
    """k=5 anonymity over the (nation, market-segment) quasi-identifier."""
    classes = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    k = F.lit(5)
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("class_size") < k, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        F.sum(F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("class_size").alias("min_class"),
        F.max("class_size").alias("max_class"),
    )


# --------------------------------------------------------------------------
# Incremental SemDeDup (operators/semdedup.py): the steady-state corpus-
# growth mode — a new batch dedups against the immutable kept corpus
# (centers from the EXISTING corpus while batch <= existing, so
# assignments never churn; a batch that OUTGROWS the corpus triggers the
# retrain-when-doubled dispatch — quantizer re-seeded from the union,
# cluster count keyed to the combined population — which the oracle
# mirrors via the cnt/pool CTEs) and then within itself by the greedy
# lowest-id rule.  Both pair spaces are cluster-bounded equi-joins.
# Existing = vec_id < 400, batch = the rest; per-cluster accounting of
# the three outcomes.  At sf0.01 (500 embeddings) the batch is the
# smaller side — steady state; at sf0.1+ the batch dominates and the
# dispatch is what the parity check exercises.
# --------------------------------------------------------------------------

@query(
    "semantic_dedup_incremental",
    oracle="""
    WITH ex AS (
      -- min-per-id collapse mirrors semdedup._one_row_per_id
      SELECT vec_id, min(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END) AS v
      FROM embeddings WHERE vec_id < 400 GROUP BY vec_id
    ), nw AS (
      SELECT vec_id, min(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END) AS v
      FROM embeddings WHERE vec_id >= 400 GROUP BY vec_id
    ), cnt AS (
      -- the retrain-when-doubled dispatch mirror: complete-vector counts
      -- of both (post-collapse) sides
      SELECT (SELECT count(v) FROM ex) AS ne, (SELECT count(v) FROM nw) AS nb
    ), pool AS (
      -- quantizer training set: the existing corpus in the steady state,
      -- the min-collapsed union when the batch outgrows it (ids may
      -- overlap across sides)
      SELECT vec_id, min(v) AS v FROM (
        SELECT vec_id, v FROM ex
        UNION ALL
        SELECT vec_id, v FROM nw WHERE (SELECT nb > ne FROM cnt)
      ) GROUP BY vec_id
    ), nl AS (
      -- mirrors semdedup.auto_nlist (uncapped): keyed to the existing
      -- side in the steady state, the combined population on retrain
      SELECT greatest(8, CAST(ceil(
               (CASE WHEN nb > ne THEN ne + nb ELSE ne END) / 256.0)
             AS INT)) AS k
      FROM cnt
    ), seed AS (
      -- incomplete (NULL-v) ids cannot seed a centroid, exactly as
      -- ivf_centroids filters them before the md5 top-k
      SELECT cid, c FROM (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
               v AS c
        FROM pool WHERE v IS NOT NULL)
      WHERE cid <= (SELECT k FROM nl)
    ), exd AS (
      SELECT a.vec_id, a.v, s.cid,
             list_aggregate(list_transform(generate_series(1, len(a.v)),
               j -> (a.v[j] - s.c[j]) * (a.v[j] - s.c[j])), 'sum') AS d
      FROM ex a CROSS JOIN seed s
    ), exa AS (
      -- zero-norm guard mirrors _normalized_assignment (see
      -- semantic_dedup_keep)
      SELECT vec_id, cid,
             CASE WHEN list_dot_product(v, v) > 0
                  THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                  ELSE v END AS nv
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM exd) WHERE rn = 1
    ), nwd AS (
      SELECT a.vec_id, a.v, s.cid,
             list_aggregate(list_transform(generate_series(1, len(a.v)),
               j -> (a.v[j] - s.c[j]) * (a.v[j] - s.c[j])), 'sum') AS d
      FROM nw a CROSS JOIN seed s
    ), nwa AS (
      SELECT vec_id, cid,
             CASE WHEN list_dot_product(v, v) > 0
                  THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                  ELSE v END AS nv
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM nwd) WHERE rn = 1
    ), dup_ex AS (
      SELECT DISTINCT n.vec_id FROM nwa n JOIN exa e ON n.cid = e.cid
      WHERE list_dot_product(n.nv, e.nv) >= 0.45
    ), dup_new AS (
      SELECT DISTINCT b.vec_id
      FROM nwa a JOIN nwa b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.nv, b.nv) >= 0.45
    )
    SELECT n.cid AS cluster_id, count(*) AS n_new,
           CAST(sum(CASE WHEN de.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dup_existing,
           CAST(sum(CASE WHEN de.vec_id IS NULL AND dn.vec_id IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
           CAST(sum(CASE WHEN de.vec_id IS NULL AND dn.vec_id IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM nwa n
    LEFT JOIN dup_ex de ON n.vec_id = de.vec_id
    LEFT JOIN dup_new dn ON n.vec_id = dn.vec_id
    GROUP BY n.cid
    """,
)
def semantic_dedup_incremental(spark, sf_dir):
    """Per-cluster incremental-dedup accounting for the newest batch."""
    from cryptocurrency_data_pipeline_spark.operators.semdedup import (
        semantic_dedup_incremental as _inc,
    )

    emb = t(spark, sf_dir, "embeddings")
    flags = _inc(
        emb.filter(F.col("vec_id") < 400),
        emb.filter(F.col("vec_id") >= 400),
        tau=0.45,
    )
    one = F.lit(1)
    return flags.groupBy("cluster_id").agg(
        F.count(one).alias("n_new"),
        F.sum(F.when(F.col("dup_of_existing"), one).otherwise(0))
        .cast("long")
        .alias("n_dup_existing"),
        F.sum(F.when(F.col("dup_within_batch"), one).otherwise(0))
        .cast("long")
        .alias("n_dup_within"),
        F.sum(F.when(F.col("is_kept"), one).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


# --------------------------------------------------------------------------
# Weighted sampling (Efraimidis-Spirtes A-ES, sampling.weighted_sample):
# inclusion probability proportional to weight with NO RNG state — the
# uniform is md5-derived (retry-stable), the key is ln(u)/w, selection is
# TakeOrderedAndProject (each task forwards <= k survivors).  The
# deterministic counterpart of rand()-based weighted reservoirs, fully
# replayable in DuckDB.
# --------------------------------------------------------------------------

@query(
    "weighted_doc_sample",
    oracle="""
    SELECT doc_id, source, n_chars,
           round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 0.5) / 4294967296.0) / n_chars, 9)
             AS sample_key
    FROM documents WHERE n_chars > 0
    ORDER BY sample_key DESC, doc_id LIMIT 20
    """,
)
def weighted_doc_sample(spark, sf_dir):
    """20-doc weighted sample, weight = n_chars (longer docs likelier)."""
    from cryptocurrency_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(docs, F.col("n_chars"), k=20)


# --------------------------------------------------------------------------
# Token-distribution drift (production corpus monitoring): smoothed KL
# divergence and total-variation distance between two snapshots' hashed
# token-bucket distributions (dsir.hashed_feature_bucket, B=64).  Here the
# snapshots are the doc_id halves; in production they are consecutive
# ingest runs.  One token-explode pass, ONE (snapshot, bucket) partial-
# agged shuffle to a 2xB sketch, then a B-row map + 1-row agg — the drift
# alarm costs one scan no matter the corpus size.
# --------------------------------------------------------------------------

@query(
    "token_drift_report",
    oracle=r"""
    WITH tok AS (
      SELECT CASE WHEN doc_id < 250 THEN 'a' ELSE 'b' END AS snap,
             CAST(('0x' || substr(md5(unnest(
               list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                           t -> t <> ''))), 1, 4)) AS INT)
               % 64 AS bk
      FROM documents
    ), counts AS (
      SELECT snap, bk, count(*) AS c FROM tok GROUP BY snap, bk
    ), tot AS (
      SELECT snap, CAST(sum(c) AS DOUBLE) AS t FROM counts GROUP BY snap
    ), p AS (
      SELECT b.bk,
             (coalesce(ca.c, 0) + 1)
               / ((SELECT t FROM tot WHERE snap = 'a') + 64) AS pa,
             (coalesce(cb.c, 0) + 1)
               / ((SELECT t FROM tot WHERE snap = 'b') + 64) AS pb
      FROM (SELECT DISTINCT bk FROM counts) b
      LEFT JOIN (SELECT bk, c FROM counts WHERE snap = 'a') ca ON b.bk = ca.bk
      LEFT JOIN (SELECT bk, c FROM counts WHERE snap = 'b') cb ON b.bk = cb.bk
    )
    SELECT count(*) AS n_buckets,
           round(sum(pa * ln(pa / pb)), 6) AS kl_a_to_b,
           round(0.5 * sum(abs(pa - pb)), 6) AS total_variation
    FROM p
    """,
)
def token_drift_report(spark, sf_dir):
    """Drift between the two doc_id-half snapshots of the corpus."""
    from cryptocurrency_data_pipeline_spark.operators.dsir import (
        hashed_feature_bucket,
    )
    from cryptocurrency_data_pipeline_spark.operators.text import tokens

    counts = (
        t(spark, sf_dir, "documents")
        .select(
            F.when(F.col("doc_id") < 250, "a").otherwise("b").alias("snap"),
            F.explode(tokens("text")).alias("__tok"),
        )
        .withColumn("bk", hashed_feature_bucket("__tok", 64))
        .groupBy("snap", "bk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # pivot the 2 x B sketch to one row per bucket with both snapshot
    # counts, Laplace-smooth against each snapshot's total
    wide = (
        counts.groupBy("bk")
        .pivot("snap", ["a", "b"])
        .agg(F.first("c"))
        .select(
            "bk",
            F.coalesce("a", F.lit(0)).alias("ca"),
            F.coalesce("b", F.lit(0)).alias("cb"),
        )
    )
    tot = wide.agg(
        F.sum("ca").cast("double").alias("ta"),
        F.sum("cb").cast("double").alias("tb"),
    )
    # An ABSENT snapshot (zero tokens on one side) has no distribution:
    # drift vs it is NULL, not a number smoothed out of thin air — the
    # oracle's scalar subquery over the missing snap is NULL, and the
    # engine must agree (surfaced by the single-row scale probe).
    p = wide.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("ta") > 0, (F.col("ca") + 1) / (F.col("ta") + 64)).alias("pa"),
        F.when(F.col("tb") > 0, (F.col("cb") + 1) / (F.col("tb") + 64)).alias("pb"),
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))), 6).alias(
            "kl_a_to_b"
        ),
        F.round(0.5 * F.sum(F.abs(F.col("pa") - F.col("pb"))), 6).alias(
            "total_variation"
        ),
    )


# --------------------------------------------------------------------------
# Streaming corpus-ingestion replay (streaming/corpus.py): the EXACT
# column logic of the continuous ingestion leg — quality gate at 0.25,
# keep-one-per-raw-md5-content-fingerprint dedup, md5 split assignment,
# token accounting — run in batch mode over ``documents`` and rolled up
# per (split, source).  Same discipline as stream_ohlc_replay: the
# streaming pipeline's transformations are batch-replayed so the driver's
# DuckDB gate hashes the math the stream runs (the stream keeps the
# first-ARRIVED row per fingerprint; the batch path is the deterministic
# lowest-doc_id refinement of the same keep-one rule).  Distinct from
# corpus_prep_report: raw-md5 fingerprint (not whitespace-normalized),
# 0.25 gate, token counts (not chars), and the per-source breakdown.
# --------------------------------------------------------------------------

@query(
    "corpus_ingest_replay",
    oracle=r"""
    WITH toked AS (
      SELECT *, coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                     t -> t <> ''), []) AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, source,
        md5(text) AS content_fp,
        len(toks) AS n_toks,
        -- blank/null docs score 0.0 outright (quality_score guard)
        CASE WHEN len(toks) = 0 THEN 0.0 ELSE (
          least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
          + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 1.0))
          + (1.0 - least(abs(CAST(len(list_filter(toks, x -> x IN ('a','the','of','and'))) AS DOUBLE)
                         / len(toks) - 0.1) * 2.0, 1.0))
        ) / 3.0 END AS q
      FROM toked
    ), gated AS (
      SELECT * FROM scored WHERE q >= 0.25
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY content_fp ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           source,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM dedup GROUP BY split, source
    """,
)
def corpus_ingest_replay(spark, sf_dir):
    """Batch replay of the streaming ingestion leg (streaming/corpus.py
    ``prepare_doc_stream``) — gate, content dedup, split, tokens — per
    (split, source)."""
    from cryptocurrency_data_pipeline_spark.streaming.corpus import (
        prepare_doc_stream,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    prepared, _rejects = prepare_doc_stream(docs, min_quality=0.25)
    return prepared.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# Real COMPRESSED-format decode end-to-end (operators/multimodal.py PNG):
# deterministic pixel buffers derived from part keys are encoded into
# fully conforming PNGs (zlib-deflated IDAT, CRC'd chunks, row filters
# cycling through all five types) by an Arrow-batched producer, then
# decoded back — chunk walk + CRC verify + inflate + unfilter — by
# decode_png_stats.  The rollup hashes the UNFILTERED pixel sums, so a
# wrong Paeth predictor, a skipped CRC, or a broken inflate all flip the
# driver hash.  The oracle computes the expected pixel sums directly
# from the generating formula — it never needs a PNG codec.
# --------------------------------------------------------------------------

@query(
    "png_decode_rollup",
    oracle="""
    WITH px AS (
      SELECT p_partkey,
             CAST(1 + p_partkey % 8 AS INT) AS w,
             CAST(1 + p_partkey % 5 AS INT) AS h,
             CAST(list_sum(list_transform(
               generate_series(0, (1 + p_partkey % 8) * (1 + p_partkey % 5) - 1),
               i -> (7 * p_partkey + i) % 256)) AS BIGINT) AS psum
      FROM part
    )
    SELECT w AS width,
           count(*) AS n_images,
           CAST(sum(h) AS BIGINT) AS sum_rows,
           CAST(sum(psum) AS BIGINT) AS sum_pixels
    FROM px GROUP BY w
    """,
)
def png_decode_rollup(spark, sf_dir):
    """Real-compressed-codec pipeline: part keys → conforming PNGs
    (producer mapInPandas, stdlib zlib) → full decode (CRC + inflate +
    all five unfilters) → pixel-sum rollup by decoded width."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        (F.lit(1) + F.col("p_partkey") % 8).cast("int").alias("w"),
        (F.lit(1) + F.col("p_partkey") % 5).cast("int").alias("h"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = r.w * r.h
                pixels = bytes((7 * r.p_partkey + i) % 256 for i in range(n))
                rows.append((r.p_partkey, mm.encode_png(r.w, r.h, pixels)))
            yield pd.DataFrame(rows, columns=["p_partkey", "payload"])

    payloads = parts.mapInPandas(produce, "p_partkey long, payload binary")
    media = mm.media_table(payloads, "p_partkey", "image", "payload")
    stats = mm.decode_png_stats(media)
    return stats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("height").cast("long").alias("sum_rows"),
        F.sum("pixel_sum").cast("long").alias("sum_pixels"),
    )


# --------------------------------------------------------------------------
# Real UNCOMPRESSED-format decode end-to-end (multimodal.decode_bmp):
# the BMP complement to the PNG rollup — deterministic gray buffers
# encoded into conforming BMPs alternating 8-bit palettized / 24-bit
# truecolor and bottom-up / top-down row order by key, decoded back
# through the palette + padding + row-flip path.  A wrong stride pad,
# skipped palette, or unflipped bottom-up image flips the pixel-sum
# hash; the oracle replays the generating formula, no codec needed.
# --------------------------------------------------------------------------

@query(
    "ppm_pixel_rollup",
    # Full-raster PPM decode (vs ppm_decode_rollup's header-only path):
    # conforming P6 files with exact w*h*3 rasters; the oracle replays
    # the raster-byte sum from the generating formula.
    oracle="""
    WITH px AS (
      SELECT p_partkey,
             CAST(1 + p_partkey % 6 AS INT) AS w,
             CAST(1 + p_partkey % 3 AS INT) AS h,
             CAST(list_sum(list_transform(
               generate_series(0, (1 + p_partkey % 6) * (1 + p_partkey % 3) * 3 - 1),
               i -> (11 * p_partkey + i) % 256)) AS BIGINT) AS psum
      FROM part
    )
    SELECT w AS width,
           count(*) AS n_images,
           CAST(sum(h) AS BIGINT) AS sum_rows,
           CAST(sum(psum) AS BIGINT) AS sum_pixels
    FROM px GROUP BY w
    """,
)
def ppm_pixel_rollup(spark, sf_dir):
    """Full-raster P6 pipeline: part keys → conforming PPMs → raster
    decode (header scan + exact w*h*3 read) → RGB-byte-sum rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        (F.lit(1) + F.col("p_partkey") % 6).cast("int").alias("w"),
        (F.lit(1) + F.col("p_partkey") % 3).cast("int").alias("h"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = r.w * r.h * 3
                raster = bytes((11 * r.p_partkey + i) % 256 for i in range(n))
                header = f"P6\n{r.w} {r.h}\n255\n".encode()
                rows.append((r.p_partkey, header + raster))
            yield pd.DataFrame(rows, columns=["p_partkey", "payload"])

    payloads = parts.mapInPandas(produce, "p_partkey long, payload binary")
    media = mm.media_table(payloads, "p_partkey", "image", "payload")
    stats = mm.decode_ppm_stats(media)
    return stats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("height").cast("long").alias("sum_rows"),
        F.sum("pixel_sum").cast("long").alias("sum_pixels"),
    )


@query(
    "bmp_decode_rollup",
    oracle="""
    WITH px AS (
      SELECT p_partkey,
             CAST(1 + p_partkey % 7 AS INT) AS w,
             CAST(1 + p_partkey % 4 AS INT) AS h,
             CAST(list_sum(list_transform(
               generate_series(0, (1 + p_partkey % 7) * (1 + p_partkey % 4) - 1),
               i -> (7 * p_partkey + i) % 256)) AS BIGINT) AS psum
      FROM part
    )
    SELECT w AS width,
           count(*) AS n_images,
           CAST(sum(h) AS BIGINT) AS sum_rows,
           CAST(sum(psum) AS BIGINT) AS sum_pixels
    FROM px GROUP BY w
    """,
)
def bmp_decode_rollup(spark, sf_dir):
    """Uncompressed-codec pipeline: part keys → conforming BMPs (8/24
    bit, both row orders) → full decode (palette + padding + flip) →
    pixel-sum rollup by decoded width."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        (F.lit(1) + F.col("p_partkey") % 7).cast("int").alias("w"),
        (F.lit(1) + F.col("p_partkey") % 4).cast("int").alias("h"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = r.w * r.h
                gray = bytes((7 * r.p_partkey + i) % 256 for i in range(n))
                rows.append(
                    (
                        r.p_partkey,
                        mm.encode_bmp(
                            r.w,
                            r.h,
                            gray,
                            bits=8 if r.p_partkey % 2 else 24,
                            top_down=bool(r.p_partkey % 3 == 0),
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["p_partkey", "payload"])

    payloads = parts.mapInPandas(produce, "p_partkey long, payload binary")
    media = mm.media_table(payloads, "p_partkey", "image", "payload")
    stats = mm.decode_bmp_stats(media)
    return stats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("height").cast("long").alias("sum_rows"),
        F.sum("pixel_sum").cast("long").alias("sum_pixels"),
    )


# --------------------------------------------------------------------------
# SCD2 steady-state merge (operators/gold.py scd2_merge, existing-table
# path): an SCD2 dimension built from pre-1995 orders receives the 1995+
# batch — current rows close out, new versions open, keys first seen in
# the batch enter fresh, and the stale-update guard keeps the merge
# idempotent.  The oracle is the ONE-SHOT chain over all dates: the
# incremental result must equal the batch rebuild exactly (the defining
# correctness property of an SCD2 merge), so any drift in the close-out
# join, the guard, or the anchor ordering flips the driver hash.
# --------------------------------------------------------------------------

@query(
    "scd2_incremental_merge",
    oracle="""
    WITH u AS (
      SELECT o_custkey AS custkey, o_orderdate AS eff,
             min(o_orderpriority) AS priority
      FROM orders WHERE o_custkey >= 200 AND o_custkey < 400 GROUP BY 1, 2
    ), flagged AS (
      SELECT custkey, priority, eff,
             lag(priority) OVER (PARTITION BY custkey ORDER BY eff) AS prev
      FROM u
    ), kept AS (
      SELECT custkey, priority, eff FROM flagged
      WHERE prev IS NULL OR priority != prev
    )
    SELECT custkey, priority,
           strftime(eff, '%Y-%m-%d') AS valid_from,
           strftime(lead(eff) OVER (PARTITION BY custkey ORDER BY eff),
                    '%Y-%m-%d') AS valid_to,
           lead(eff) OVER (PARTITION BY custkey ORDER BY eff) IS NULL AS is_current
    FROM kept
    """,
)
def scd2_incremental_merge(spark, sf_dir):
    """SCD2 steady-state: first-load on pre-1995 orders, then merge the
    1995+ batch against the existing table (current-rows join + chain
    rebuild).  Result must equal the one-shot rebuild the oracle runs."""
    from cryptocurrency_data_pipeline_spark.operators.gold import scd2_merge

    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_custkey") >= 200) & (F.col("o_custkey") < 400)
    )

    def daily_priority(df):
        return df.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("eff"),
        ).agg(F.min("o_orderpriority").alias("priority"))

    cutoff = F.lit("1995-01-01").cast("date")
    existing = scd2_merge(
        None,
        daily_priority(orders.where(F.col("o_orderdate") < cutoff)),
        key="custkey",
        attrs=["priority"],
        effective_col="eff",
    )
    merged = scd2_merge(
        existing,
        daily_priority(orders.where(F.col("o_orderdate") >= cutoff)),
        key="custkey",
        attrs=["priority"],
        effective_col="eff",
    )
    return merged.select(
        "custkey",
        "priority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


# --------------------------------------------------------------------------
# LSH band tuning report: measured precision/recall of every banding of
# the 8-element OPH MinHash signature (1x8, 2x4, 4x2, 8x1) against
# verified-Jaccard (>= 0.5) ground truth — the ann_recall_at_k treatment
# applied to the BANDING choice, so the b/r tradeoff is a measured
# number, not a formula.  Truth = the most permissive banding's (8 bands
# of 1 row) candidates verified by exact Jaccard — the same
# reachable-truth convention as simhash_recall.  All four configs share
# ONE shingle pass and ONE config-tagged band self-join; the pair space
# stays bucket-bounded (8x1 is the diagnostic ceiling, not a production
# config).
# --------------------------------------------------------------------------

@query(
    "lsh_band_tuning",
    oracle=f"""
    WITH {minhash_sig_ctes()}, bands_all AS (
      SELECT DISTINCT doc_id, bands, band_key FROM (
        SELECT doc_id, 1 AS bands, unnest([
          '0' || '|' || coalesce(sg[1], '~') || '|' || coalesce(sg[2], '~')
              || '|' || coalesce(sg[3], '~') || '|' || coalesce(sg[4], '~')
              || '|' || coalesce(sg[5], '~') || '|' || coalesce(sg[6], '~')
              || '|' || coalesce(sg[7], '~') || '|' || coalesce(sg[8], '~')]) AS band_key
        FROM sig
        UNION ALL
        SELECT doc_id, 2 AS bands, unnest([
          '0' || '|' || coalesce(sg[1], '~') || '|' || coalesce(sg[2], '~')
              || '|' || coalesce(sg[3], '~') || '|' || coalesce(sg[4], '~'),
          '1' || '|' || coalesce(sg[5], '~') || '|' || coalesce(sg[6], '~')
              || '|' || coalesce(sg[7], '~') || '|' || coalesce(sg[8], '~')]) AS band_key
        FROM sig
        UNION ALL
        SELECT doc_id, 4 AS bands, unnest([
          '0' || '|' || coalesce(sg[1], '~') || '|' || coalesce(sg[2], '~'),
          '1' || '|' || coalesce(sg[3], '~') || '|' || coalesce(sg[4], '~'),
          '2' || '|' || coalesce(sg[5], '~') || '|' || coalesce(sg[6], '~'),
          '3' || '|' || coalesce(sg[7], '~') || '|' || coalesce(sg[8], '~')]) AS band_key
        FROM sig
        UNION ALL
        SELECT doc_id, 8 AS bands, unnest([
          '0' || '|' || coalesce(sg[1], '~'), '1' || '|' || coalesce(sg[2], '~'),
          '2' || '|' || coalesce(sg[3], '~'), '3' || '|' || coalesce(sg[4], '~'),
          '4' || '|' || coalesce(sg[5], '~'), '5' || '|' || coalesce(sg[6], '~'),
          '6' || '|' || coalesce(sg[7], '~'), '7' || '|' || coalesce(sg[8], '~')]) AS band_key
        FROM sig)
    ), cand AS (
      SELECT DISTINCT a.bands, a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands_all a
      JOIN bands_all b ON a.bands = b.bands AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id
    ), truth AS (
      SELECT c.a_id, c.b_id
      FROM (SELECT DISTINCT a_id, b_id FROM cand WHERE bands = 8) c
      JOIN hs x ON c.a_id = x.doc_id
      JOIN hs y ON c.b_id = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.5
    ), nt AS (SELECT count(*) AS n_truth FROM truth)
    SELECT c.bands,
           CAST(8 // c.bands AS INT) AS rows_per_band,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(any_value(nt.n_truth) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           round(CAST(sum(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS prec,
           round(CAST(sum(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / any_value(nt.n_truth), 6) AS recall
    FROM cand c
    LEFT JOIN truth t ON c.a_id = t.a_id AND c.b_id = t.b_id
    CROSS JOIN nt
    GROUP BY c.bands
    """,
)
def lsh_band_tuning(spark, sf_dir):
    """Precision/recall per MinHash banding config vs verified-Jaccard
    truth: one shingle pass, one config-tagged band join, truth from the
    most permissive banding verified exactly."""
    from cryptocurrency_data_pipeline_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    sh = caching.persist(dedup._shingle_frame(docs, "text", "doc_id", 3))
    sig = sh.select("id", dedup.minhash_signature(F.col("hashes")).alias("sig"))

    banded = None
    for b in (1, 2, 4, 8):
        kb = sig.select(
            F.lit(b).alias("bands"),
            "id",
            F.explode(dedup.band_keys(F.col("sig"), b)).alias("bk"),
        )
        banded = kb if banded is None else banded.unionByName(kb)
    a = banded.select("bands", "bk", F.col("id").alias("a_id"))
    bb = banded.select("bands", "bk", F.col("id").alias("b_id"))
    cand = (
        a.join(bb, ["bands", "bk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("bands", "a_id", "b_id")
        .distinct()
    )

    sets = sh.select("id", "sh")
    truth = (
        cand.filter(F.col("bands") == 8)
        .select("a_id", "b_id")
        .join(sets.select(F.col("id").alias("a_id"), F.col("sh").alias("__sa")), "a_id")
        .join(sets.select(F.col("id").alias("b_id"), F.col("sh").alias("__sb")), "b_id")
        .filter(dedup.jaccard(F.col("__sa"), F.col("__sb")) >= 0.5)
        .select("a_id", "b_id")
    )
    scored = cand.join(
        truth.withColumn("__t", F.lit(True)), ["a_id", "b_id"], "left"
    )
    agg = scored.groupBy("bands").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long").alias("n_hits"),
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return agg.crossJoin(F.broadcast(nt)).select(
        "bands",
        (F.lit(8) / F.col("bands")).cast("int").alias("rows_per_band"),
        "n_candidates",
        "n_truth",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_candidates"), 6).alias("prec"),
        F.round(F.col("n_hits") / F.col("n_truth"), 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# GROUPED_MAP pandas execution (operators/grouped.py): per-user EWMA of
# event values — a genuinely recursive per-key computation no window
# frame expresses, run through applyInPandas with the bounded-group
# guard.  The oracle replays the recursion with DuckDB's list_reduce
# over the identically-ordered value list (same fold order, same float64
# arithmetic), rounded to 6 dp.
# --------------------------------------------------------------------------

@query(
    "grouped_ewma_user_value",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
      FROM events
      WHERE user_id < 100 AND ts IS NOT NULL AND {finite_sql('value')}
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_rows,
           round(list_reduce(vs, (acc, x) -> 0.25 * x + 0.75 * acc), 6) AS ewma
    FROM ordered
    """,
)
def grouped_ewma_user_value(spark, sf_dir):
    """Per-user EWMA (alpha=0.25) over time-ordered event values via the
    GROUPED_MAP pandas mode; deterministic total order (ts, event_id)."""
    from cryptocurrency_data_pipeline_spark.operators.grouped import (
        ewma_last_by_key,
    )

    # The recursion is defined over OBSERVED points: a NULL/NaN/Inf
    # value would poison the fold as NaN, and a NULL ts has no position
    # in the order (the engines place NULL sort keys on opposite ends) —
    # all excluded identically on both sides.
    ev = t(spark, sf_dir, "events").where(
        (F.col("user_id") < 100) & F.col("ts").isNotNull() & finite("value")
    )
    out = ewma_last_by_key(
        ev.select("user_id", "ts", "event_id", "value"),
        key_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.25,
    )
    return out.select("user_id", "n_rows", F.round("ewma", 6).alias("ewma"))


# --------------------------------------------------------------------------
# JPEG metadata decode (operators/multimodal.py _parse_jpeg): conforming
# JPEG headers — SOI, a COM segment carrying the document text (so the
# marker walk must skip a length-delimited segment with arbitrary bytes,
# including embedded 0xFF), SOF0 with dimensions derived from doc stats,
# EOI — are byte-built JVM-side (unhex/encode/concat, no UDF in the
# producer), then decoded through the real marker-walk parser inside
# decode_image_meta.  Pixel decode (huffman+DCT) stays stubbed; header
# metadata is what the corpus-stats path needs and it is real here.
# --------------------------------------------------------------------------

@query(
    "jpeg_meta_rollup",
    # A NULL in ANY payload input (text/n_chars/doc_id) nulls the whole
    # Spark-side byte concat, so no container exists and the decode emits
    # (NULL, NULL) — the oracle must null BOTH dims together, not compute
    # height from doc_id for a document whose container was never built.
    oracle="""
    WITH ok AS (
      SELECT *, (text IS NOT NULL AND n_chars IS NOT NULL
                 AND doc_id IS NOT NULL) AS built
      FROM documents
    )
    SELECT CAST(CASE WHEN built THEN 100 + n_chars % 200 END AS INT) AS width,
           CAST(CASE WHEN built THEN 50 + doc_id % 100 END AS INT) AS height,
           count(*) AS n_media
    FROM ok GROUP BY width, height
    """,
)
def jpeg_meta_rollup(spark, sf_dir):
    """Real-JPEG-metadata pipeline: documents → JVM-built JPEG headers
    (COM segment with the doc text + SOF0 dims) → mapInPandas marker-walk
    decode → rollup by decoded dimensions."""
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents")
    # A COM segment length field is 2 bytes (includes itself), so the
    # payload caps at 65533 bytes — beyond that F.lpad(hex, 4) would
    # silently TRUNCATE the 5-hex-char length and desync the marker walk.
    # The decoded dims come from n_chars/doc_id, not the COM bytes, so the
    # cap never changes results; it only keeps the container conforming.
    com_payload = F.expr("substring(encode(text, 'UTF-8'), 1, 65533)")
    be2 = lambda c: F.unhex(F.lpad(F.hex(c), 4, "0"))  # noqa: E731
    payload = F.concat(
        F.lit(b"\xff\xd8"),                               # SOI
        F.lit(b"\xff\xfe"),                               # COM marker
        be2(F.length(com_payload) + 2),                   # segment length
        com_payload,
        F.lit(b"\xff\xc0"), F.lit(b"\x00\x0b\x08"),       # SOF0, len=11, 8-bit
        be2(F.lit(50) + F.col("doc_id") % 100),           # height
        be2(F.lit(100) + F.col("n_chars") % 200),         # width
        F.lit(b"\x01\x01\x11\x00"),                       # 1 component
        F.lit(b"\xff\xd9"),                               # EOI
    )
    media = mm.media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "image", "p"
    )
    meta = mm.decode_image_meta(media)
    return meta.groupBy("width", "height").agg(
        F.count(F.lit(1)).alias("n_media")
    )


# --------------------------------------------------------------------------
# GIF decode end-to-end (operators/multimodal.py LZW): the SECOND real
# compressed format through the decode path.  Deterministic palette +
# index buffers derived from part keys are LZW-compressed into fully
# conforming GIF89a files by an Arrow-batched producer, then decoded
# back — header/LSD/GCT parse, sub-block reassembly, variable-width LZW
# decompression — by decode_gif_stats.  The rollup hashes BOTH the
# decompressed index sum and the palette-mapped RGB sum, so a mis-synced
# code width, a broken bit unpacker, or a skipped color table all flip
# the driver hash.  The oracle computes the expected sums directly from
# the generating formulas — it never needs a GIF codec.
# --------------------------------------------------------------------------

@query(
    "gif_decode_rollup",
    oracle="""
    WITH px AS (
      SELECT p_partkey,
             CAST(1 + p_partkey % 7 AS INT) AS w,
             CAST(1 + p_partkey % 4 AS INT) AS h,
             (4 + p_partkey % 5) AS nc,
             CAST(CASE WHEN 4 + p_partkey % 5 <= 4 THEN 4 ELSE 8 END
                  AS INT) AS padded_colors,
             CAST(list_sum(list_transform(
               generate_series(0, (1 + p_partkey % 7) * (1 + p_partkey % 4) - 1),
               i -> (3 * p_partkey + i) % (4 + p_partkey % 5)))
               AS BIGINT) AS isum,
             CAST(list_sum(list_transform(
               generate_series(0, (1 + p_partkey % 7) * (1 + p_partkey % 4) - 1),
               i -> ((5 * p_partkey
                      + 7 * ((3 * p_partkey + i) % (4 + p_partkey % 5))) % 256)
                  + ((3 + 11 * ((3 * p_partkey + i) % (4 + p_partkey % 5))) % 256)
                  + ((p_partkey
                      + 13 * ((3 * p_partkey + i) % (4 + p_partkey % 5))) % 256)))
               AS BIGINT) AS rsum
      FROM part
    )
    SELECT w AS width,
           count(*) AS n_images,
           CAST(sum(h) AS BIGINT) AS sum_rows,
           CAST(sum(padded_colors) AS BIGINT) AS sum_colors,
           CAST(sum(isum) AS BIGINT) AS sum_indices,
           CAST(sum(rsum) AS BIGINT) AS sum_rgb
    FROM px GROUP BY w
    """,
)
def gif_decode_rollup(spark, sf_dir):
    """Real-LZW pipeline: part keys → conforming GIF89a files (producer
    mapInPandas, in-engine LZW compress) → full decode (header + GCT +
    sub-blocks + variable-width LZW) → index/RGB-sum rollup by width."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        (F.lit(1) + F.col("p_partkey") % 7).cast("int").alias("w"),
        (F.lit(1) + F.col("p_partkey") % 4).cast("int").alias("h"),
        (F.lit(4) + F.col("p_partkey") % 5).cast("int").alias("nc"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.p_partkey)
                palette = [
                    ((5 * k + 7 * j) % 256, (3 + 11 * j) % 256, (k + 13 * j) % 256)
                    for j in range(r.nc)
                ]
                idx = bytes((3 * k + i) % r.nc for i in range(r.w * r.h))
                rows.append((k, mm.encode_gif(r.w, r.h, idx, palette)))
            yield pd.DataFrame(rows, columns=["p_partkey", "payload"])

    payloads = parts.mapInPandas(produce, "p_partkey long, payload binary")
    media = mm.media_table(payloads, "p_partkey", "image", "payload")
    stats = mm.decode_gif_stats(media)
    return stats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("height").cast("long").alias("sum_rows"),
        F.sum("n_colors").cast("long").alias("sum_colors"),
        F.sum("index_sum").cast("long").alias("sum_indices"),
        F.sum("rgb_sum").cast("long").alias("sum_rgb"),
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixture (operators/sampling.py
# temperature_mixture): the multilingual-sampling rule p_s ∝ n_s^alpha
# with alpha=0.3, plus integer token allocations and implied epoch
# counts against a 100k-token budget — upsampling of low-resource
# sources made explicit.  One shuffle to the per-source rollup; the
# normalizer window runs on the O(#sources) aggregate.
# --------------------------------------------------------------------------

@query(
    "mixture_temperature_weights",
    oracle="""
    WITH per AS (
      SELECT source,
             -- blank-safe token count, mirrors tokens() exactly
             CAST(sum(coalesce(len(list_filter(
               string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')), 0))
               AS DOUBLE) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(pow(n_tokens, 0.3) / sum(pow(n_tokens, 0.3)) OVER ()
                      * 100000 + 1e-6) AS BIGINT) AS target_tokens,
           round(CAST(floor(pow(n_tokens, 0.3)
                            / sum(pow(n_tokens, 0.3)) OVER ()
                            * 100000 + 1e-6) AS BIGINT) / nullif(n_tokens, 0), 4)
             AS epochs,
           round(pow(n_tokens, 0.3) / sum(pow(n_tokens, 0.3)) OVER (), 6)
             AS p
    FROM per
    """,
)
def mixture_temperature_weights(spark, sf_dir):
    """Temperature-scaled (alpha=0.3) mixture over document sources with
    a 100k-token budget: sampling probability, integer allocation, and
    epochs per source."""
    from cryptocurrency_data_pipeline_spark.operators.sampling import (
        temperature_mixture,
    )
    from cryptocurrency_data_pipeline_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("n_toks")
    )
    return temperature_mixture(
        docs, "source", F.sum("n_toks"), alpha=0.3, token_budget=100_000
    ).select("source", "n_tokens", "target_tokens", "epochs", "p")


# --------------------------------------------------------------------------
# Model-based quality gate (operators/classifier.py): hashed linear
# classifier served as a broadcast weight-table join — the fastText-style
# document scorer every production corpus recipe runs.  keep is the exact
# integer sign test; only the reported sigmoid is floating (rounded).
# --------------------------------------------------------------------------

@query(
    "quality_classifier_scores",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket
      FROM documents,
           unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+'),
                              t -> t <> '')) AS u(tok)
    ), agg AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             sum((bucket * 2654435761) % 10007 - 5003) AS weight_sum
      FROM tok GROUP BY doc_id
    )
    -- "every document" is literal (score_documents explode_outer):
    -- zero-token docs come out (0, 0, 0.5, false), never a missing row.
    -- One row per DISTINCT id: the operator's groupBy(id) pools
    -- duplicated doc_id rows (their tokens merge into one evidence
    -- count), so the outer join must not re-multiply them.
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.weight_sum, 0) AS BIGINT) AS weight_sum,
           round(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.5
                 ELSE 1.0 / (1.0 + exp(-(a.weight_sum / (10007.0 * a.n_tokens))))
                 END, 6) AS score,
           coalesce(a.weight_sum, 0) > 0 AS keep
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN agg a USING (doc_id)
    """,
)
def quality_classifier_scores(spark, sf_dir):
    """Score every document with the broadcast hashed-linear model
    (64 buckets, deterministic demo weights); exact integer keep test."""
    from cryptocurrency_data_pipeline_spark.operators.classifier import (
        demo_weight_table,
        score_documents,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    weights = demo_weight_table(spark, 64)
    return score_documents(docs, weights, 64)


# --------------------------------------------------------------------------
# Cross-document boilerplate segments (operators/dedup.py
# segment_boilerplate): RefinedWeb/CCNet line-dedup generalized to
# 4-token windows — a segment hash shared by >= 2 distinct documents is
# boilerplate; rolled up per source.  In this corpus the boilerplate mass
# is exactly the spans shared by the planted near-duplicates.
# --------------------------------------------------------------------------

@query(
    "boilerplate_segment_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             string_split(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'),
                          ' ') AS tk
      FROM documents
    ), seg AS (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(tk, j * 4 + 1, j * 4 + 4), ' '))
               AS h
      FROM toks,
           unnest(generate_series(0, CAST(floor(len(tk) / 4) AS INT) - 1))
             AS t(j)
      WHERE len(tk) >= 4
    ), freq AS (
      SELECT h, count(DISTINCT doc_id) AS seg_df FROM seg GROUP BY h
    ), per_doc AS (
      -- min(source): the deterministic per-id attribute pick, mirrored
      -- by the engine's groupBy(doc_id).agg(min(source)) lookup
      SELECT s.doc_id,
             min(s.source) AS source,
             count(*) AS n_seg,
             sum(CASE WHEN f.seg_df >= 2 THEN 1 ELSE 0 END) AS n_boiler
      FROM seg s JOIN freq f USING (h) GROUP BY s.doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_seg) AS BIGINT) AS n_segments,
           CAST(sum(n_boiler) AS BIGINT) AS n_boilerplate,
           round(sum(n_boiler) * 1.0 / sum(n_seg), 6) AS boilerplate_frac
    FROM per_doc GROUP BY source
    """,
)
def boilerplate_segment_stats(spark, sf_dir):
    """Per-source boilerplate mass: 4-token segments shared by >= 2
    distinct documents, detected in one explode + two keyed shuffles."""
    from cryptocurrency_data_pipeline_spark.operators.dedup import (
        segment_boilerplate,
    )

    docs = t(spark, sf_dir, "documents")
    per_doc = segment_boilerplate(docs, seg_len=4, min_df=2)
    # Attribute lookup: one deterministic source per doc_id, so a
    # duplicated id cannot fan the per-doc rollup back out.
    attrs = docs.groupBy("doc_id").agg(F.min("source").alias("source"))
    return (
        per_doc.join(attrs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_segments").cast("long").alias("n_segments"),
            F.sum("n_boilerplate").cast("long").alias("n_boilerplate"),
            F.round(
                F.sum("n_boilerplate") / F.sum("n_segments"), 6
            ).alias("boilerplate_frac"),
        )
    )


# --------------------------------------------------------------------------
# Equi-width histogram profile (operators/quality.py
# equi_width_histogram): the Deequ Histogram analyzer for continuous
# columns — 20 buckets over events.value, per-bucket count/min/max (all
# exact under IEEE doubles, so the hash is engine-stable by
# construction).  Two jobs: 1-row bounds agg broadcast onto the scan.
# --------------------------------------------------------------------------

@query(
    "events_value_histogram",
    # Finite values only (equi_width_histogram contract): one NaN/Inf
    # would poison both bounds and collapse every bucket expression.
    oracle=f"""
    WITH ev AS (
      SELECT value FROM events WHERE {finite_sql('value')}
    ), bounds AS (
      SELECT CAST(min(value) AS DOUBLE) AS mn,
             CAST(max(value) AS DOUBLE) AS mx
      FROM ev
    )
    SELECT CAST(CASE WHEN mx = mn THEN 0
                ELSE least(19, floor((value - mn) / ((mx - mn) / 20.0)))
                END AS INT) AS bucket,
           count(*) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM ev, bounds
    GROUP BY bucket
    """,
)
def events_value_histogram(spark, sf_dir):
    """20-bucket equi-width histogram of events.value (count/min/max per
    bucket — exact floating stats only)."""
    from cryptocurrency_data_pipeline_spark.operators.quality import (
        equi_width_histogram,
    )

    return equi_width_histogram(t(spark, sf_dir, "events"), "value", k=20)


# --------------------------------------------------------------------------
# Serving-side BPE tokenization (operators/text.py bpe_apply): a learned
# merge list applied with pure JVM literal-replace passes over a
# space-doubled encoding — tokenization at corpus scale with zero
# Python and zero shuffles.  The 5-entry demo merge table is built from
# the corpus's actual most-frequent adjacent pairs (incl. one
# second-order merge consuming a merged symbol); equivalence to
# lowest-rank-first BPE is property-tested in test_textops.py.
# --------------------------------------------------------------------------

_BPE_MERGES = [
    ("table", "hash"),
    ("part", "filter"),
    ("customer", "join"),
    ("filter", "small"),
    ("tablehash", "table"),  # second-order: operand is itself a merge
]


@query(
    "bpe_apply_token_stats",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             ' ' || replace(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'),
                            ' ', '  ') || ' ' AS s,
             -- blank-safe token count, mirrors tokens() exactly
             coalesce(len(list_filter(
               string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')), 0) AS nb
      FROM documents
    ), merged AS (
      SELECT source, nb,
             CASE WHEN nb = 0 THEN 0
                  ELSE len(string_split(trim(regexp_replace(
               replace(replace(replace(replace(replace(s,
                 ' table  hash ', ' tablehash '),
                 ' part  filter ', ' partfilter '),
                 ' customer  join ', ' customerjoin '),
                 ' filter  small ', ' filtersmall '),
                 ' tablehash  table ', ' tablehashtable '),
               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) END AS na
      FROM norm
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(nb) AS BIGINT) AS tokens_before,
           CAST(sum(na) AS BIGINT) AS tokens_after,
           round(1.0 - sum(na) * 1.0 / nullif(sum(nb), 0), 6) AS compression
    FROM merged GROUP BY source
    """,
)
def bpe_apply_token_stats(spark, sf_dir):
    """Apply the 5-merge BPE table to every document (JVM-only literal
    replaces) and roll token compression up per source."""
    from cryptocurrency_data_pipeline_spark.operators.text import bpe_apply

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    applied = bpe_apply(docs, _BPE_MERGES)
    return applied.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_before").cast("long").alias("tokens_before"),
        F.sum("n_tokens_after").cast("long").alias("tokens_after"),
        # try_divide: an all-blank source group sums to 0 tokens, and
        # under ANSI mode (Spark 4 default) a bare / would kill the JOB
        # on one degenerate group — NULL compression is the answer.
        F.round(
            F.lit(1.0)
            - F.try_divide(F.sum("n_tokens_after"), F.sum("n_tokens_before")),
            6,
        ).alias("compression"),
    )


# --------------------------------------------------------------------------
# Audio FEATURE extraction (operators/multimodal.py
# decode_audio_features): signal-level features — peak, energy, zero
# crossings — over real decoded 16-bit PCM, all integer arithmetic so
# the hash is engine-exact.  Payloads are conforming WAVs built
# in-engine from part keys; the oracle computes the same features from
# the generating formula without a WAV parser.
# --------------------------------------------------------------------------

@query(
    "wav_features_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(50 + p_partkey % 97 AS INT) AS n
      FROM part
    ), feat AS (
      SELECT n,
             CAST(list_max(list_transform(generate_series(0, n - 1),
               i -> abs((7 * k + 3 * i) % 4001 - 2000))) AS BIGINT) AS peak,
             CAST(list_sum(list_transform(generate_series(0, n - 1),
               i -> ((7 * k + 3 * i) % 4001 - 2000)
                  * ((7 * k + 3 * i) % 4001 - 2000))) AS BIGINT) AS sum_sq,
             CAST(list_sum(list_transform(generate_series(1, n - 1),
               i -> CASE WHEN ((7 * k + 3 * i) % 4001 - 2000)
                           * ((7 * k + 3 * (i - 1)) % 4001 - 2000) < 0
                    THEN 1 ELSE 0 END)) AS BIGINT) AS zc
      FROM f
    )
    SELECT n AS n_samples,
           count(*) AS n_clips,
           CAST(sum(peak) AS BIGINT) AS sum_peak,
           CAST(sum(sum_sq) AS BIGINT) AS total_energy,
           CAST(sum(zc) AS BIGINT) AS total_zero_crossings
    FROM feat GROUP BY n
    """,
)
def wav_features_rollup(spark, sf_dir):
    """Real-PCM feature pipeline: part keys → conforming 16-bit mono
    WAVs (producer mapInPandas) → sample decode + integer features →
    rollup by clip length."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k"),
        (F.lit(50) + F.col("p_partkey") % 97).cast("int").alias("n"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                samples = [((7 * k + 3 * i) % 4001) - 2000 for i in range(r.n)]
                rows.append((k, mm.encode_wav(8000, samples)))
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "audio", "payload")
    feats = mm.decode_audio_features(media)
    return feats.groupBy(F.col("n_samples")).agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("peak").cast("long").alias("sum_peak"),
        F.sum("sum_sq").cast("long").alias("total_energy"),
        F.sum("zero_crossings").cast("long").alias("total_zero_crossings"),
    )


# --------------------------------------------------------------------------
# Product quantization ANN (operators/pq.py): the memory-bound scale
# path — vectors compressed 32x to M=8 one-byte codes against a
# broadcast codebook table, queries answered by asymmetric distance
# (one LUT join + a partial-agged sum).  Codes are engine-exact because
# every distance folds in element order; the companion recall query
# measures the quantization against exact L2 truth (the ann_recall_at_k
# treatment applied to PQ).
# --------------------------------------------------------------------------

def _pq_round_ctes(r: int) -> str:
    """One unrolled Lloyd round: assign under cb{r}, means rounded to
    9 dp (absorbing summation-order float noise so both engines land on
    identical centroids), empty clusters keep their previous centroid."""
    return f"""
    , d{r} AS (
      SELECT s.vec_id, s.m, c.code,
             list_sum(list_transform(generate_series(1, 8),
               d -> (s.sv[d] - c.centroid[d]) * (s.sv[d] - c.centroid[d])))
               AS dist
      FROM sub s JOIN cb{r} c USING (m)
    ), a{r} AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, code) AS rn
        FROM d{r}) WHERE rn = 1
    ), m{r} AS (
      SELECT a.m, a.code, t.i, round(avg(s.sv[t.i]), 9) AS c
      FROM a{r} a
      JOIN sub s ON a.vec_id = s.vec_id AND a.m = s.m,
           unnest(generate_series(1, 8)) t(i)
      GROUP BY a.m, a.code, t.i
    ), cb{r + 1} AS (
      SELECT c0.m, c0.code, coalesce(u.centroid, c0.centroid) AS centroid
      FROM cb{r} c0 LEFT JOIN (
        SELECT m, code, list(c ORDER BY i) AS centroid
        FROM m{r} GROUP BY m, code) u
        ON c0.m = u.m AND c0.code = u.code
    )"""


_PQ_ORACLE_PRELUDE = (
    """
    WITH corpus AS (
      SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings
    ), seedv AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS code, v
      FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), cb0 AS (
      SELECT t.m, code,
             list_transform(generate_series(1, 8), d -> v[t.m * 8 + d])
               AS centroid
      FROM seedv, unnest(generate_series(0, 7)) t(m)
    ), sub AS (
      SELECT vec_id, t.m,
             list_transform(generate_series(1, 8), d -> v[t.m * 8 + d]) AS sv
      FROM corpus, unnest(generate_series(0, 7)) t(m)
    )"""
    + _pq_round_ctes(0)
    + _pq_round_ctes(1)
    + """
    , dfin AS (
      SELECT s.vec_id, s.m, c.code,
             list_sum(list_transform(generate_series(1, 8),
               d -> (s.sv[d] - c.centroid[d]) * (s.sv[d] - c.centroid[d])))
               AS dist
      FROM sub s JOIN cb2 c USING (m)
    ), codes AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, code) AS rn
        FROM dfin) WHERE rn = 1
    ), lut AS (
      SELECT d.vec_id AS query_id, d.m, d.code, d.dist AS lut_dist
      FROM dfin d WHERE d.vec_id < 3
    )"""
)

#: Everything through trained codes + query LUTs — shared by the plain
#: ADC queries and the IVF-PQ composition below.
_PQ_CODES_CTES = _PQ_ORACLE_PRELUDE

_PQ_ORACLE_PRELUDE = _PQ_CODES_CTES + """
    , adc AS (
      SELECT l.query_id, c.vec_id,
             round(sum(l.lut_dist), 6) AS adc_dist
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
      WHERE c.vec_id != l.query_id
      GROUP BY l.query_id, c.vec_id
    ), adc_top AS (
      SELECT query_id, vec_id AS neighbor_id, adc_dist,
             CAST(rn AS INT) AS rank
      FROM (
        SELECT query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rn
        FROM adc) WHERE rn <= 10
    )
"""


@query(
    "pq_adc_topk",
    oracle=_PQ_ORACLE_PRELUDE
    + """
    SELECT query_id, neighbor_id, adc_dist, rank FROM adc_top
    """,
)
def pq_adc_topk_query(spark, sf_dir):
    """PQ search end-to-end: train per-subspace codebooks (2 Lloyd
    rounds, engine-replayable), encode the corpus to 8 one-byte codes,
    return top-10 per probe by asymmetric distance."""
    from cryptocurrency_data_pipeline_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub = caching.persist(pq._subvectors(emb, 8, 8, "vec_id", "embedding"))
    cb = pq.train_codebook(emb, sub=sub)
    codes = pq.pq_encode(emb, cb, sub=sub)
    probes = emb.filter(F.col("vec_id") < 3)
    lut = pq.adc_lut(probes, cb)
    return pq.pq_adc_topk(codes, lut, k=10)


# --------------------------------------------------------------------------
# PQ serving with a PERSISTED codebook: the training jobs (seed scan +
# 2 Lloyd rounds, ~6 driver-scheduled jobs) run once and export the
# O(m·k) codebook as a parquet artifact; the serving query is then scan
# → broadcast codebook → encode/ADC — the deployment shape (FAISS's
# train-offline / search-online split).  Training is deterministic, so
# the served result is bit-identical to pq_adc_topk's train-inline path
# and shares its oracle verbatim.
# --------------------------------------------------------------------------

@query(
    "pq_adc_topk_served",
    oracle=_PQ_ORACLE_PRELUDE
    + """
    SELECT query_id, neighbor_id, adc_dist, rank FROM adc_top
    """,
)
def pq_adc_topk_served(spark, sf_dir):
    """PQ search with the train/serve split: codebook from a persisted
    parquet artifact (trained once per sf_dir), serving is a single
    broadcast-join pipeline."""
    import os
    import tempfile

    from cryptocurrency_data_pipeline_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_pq_codebook_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    cb = pq.train_or_load_codebook(emb, path)
    codes = pq.pq_encode(emb, cb)
    probes = emb.filter(F.col("vec_id") < 3)
    return pq.pq_adc_topk(codes, pq.adc_lut(probes, cb), k=10)


@query(
    "pq_recall_at_10",
    oracle=_PQ_ORACLE_PRELUDE
    + """
    , exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                   d -> (CAST(e.embedding[d] AS DOUBLE)
                         - CAST(q.embedding[d] AS DOUBLE))
                      * (CAST(e.embedding[d] AS DOUBLE)
                         - CAST(q.embedding[d] AS DOUBLE)))), 6),
                 e.vec_id) AS rn
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 3 AND e.vec_id != q.vec_id
        GROUP BY q.vec_id, e.vec_id, e.embedding, q.embedding
      ) WHERE rn <= 10
    )
    SELECT a.query_id,
           count(*) AS hits,
           round(count(*) / 10.0, 2) AS recall_at_10
    FROM adc_top a JOIN exact_top e
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY a.query_id
    """,
)
def pq_recall_at_10(spark, sf_dir):
    """Measured PQ quality: overlap of the ADC top-10 with the exact
    squared-L2 top-10 per probe query."""
    from cryptocurrency_data_pipeline_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub = caching.persist(pq._subvectors(emb, 8, 8, "vec_id", "embedding"))
    cb = pq.train_codebook(emb, sub=sub)
    codes = pq.pq_encode(emb, cb, sub=sub)
    probes = emb.filter(F.col("vec_id") < 3)
    approx = pq.pq_adc_topk(codes, pq.adc_lut(probes, cb), k=10)
    exact = pq.exact_l2_topk(emb, probes, k=10)
    return (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.round(F.count(F.lit(1)) / 10.0, 2).alias("recall_at_10"),
        )
    )


# --------------------------------------------------------------------------
# IVF-PQ (the FAISS IVFPQ architecture): coarse quantizer prunes the
# CANDIDATES (only vectors in the query's nprobe nearest inverted lists
# are touched), PQ prunes the MEMORY (candidates score by ADC code
# lookups, never raw floats) — together the canonical shape for ANN
# over a 100 TB embedding corpus.  Composition of two independently
# verified parts: similarity.ivf_centroids' md5-seeded coarse lists and
# operators/pq.py's trained codebooks; the oracle replays both chains.
# --------------------------------------------------------------------------

_IVF_COS = (
    "round(list_dot_product(c.v, s.cv)"
    " / (sqrt(list_dot_product(c.v, c.v))"
    "    * sqrt(list_dot_product(s.cv, s.cv))), 9)"
)


@query(
    "ivfpq_topk",
    oracle=_PQ_CODES_CTES
    + f"""
    , cents AS (
      SELECT v AS cv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) AS centroid_id
      FROM corpus QUALIFY centroid_id <= 8
    ), cassign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, s.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_IVF_COS} DESC,
                                           s.centroid_id) AS rn
        FROM corpus c CROSS JOIN cents s) WHERE rn = 1
    ), plists AS (
      SELECT query_id, centroid_id FROM (
        SELECT c.vec_id AS query_id, s.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_IVF_COS} DESC,
                                           s.centroid_id) AS rn
        FROM corpus c CROSS JOIN cents s WHERE c.vec_id < 3)
      WHERE rn <= 3
    ), cand AS (
      SELECT p.query_id, a.vec_id
      FROM cassign a JOIN plists p USING (centroid_id)
    ), sc AS (
      SELECT cd.query_id, cd.vec_id, round(sum(l.lut_dist), 6) AS adc_dist
      FROM cand cd
      JOIN codes c ON cd.vec_id = c.vec_id
      JOIN lut l ON l.query_id = cd.query_id AND l.m = c.m
                AND l.code = c.code
      WHERE cd.vec_id != cd.query_id
      GROUP BY cd.query_id, cd.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist,
           CAST(rn AS INT) AS rank
    FROM (
      SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rn
      FROM sc) WHERE rn <= 10
    """,
)
def ivfpq_topk(spark, sf_dir):
    """IVF-PQ search: nprobe=3 of 8 coarse lists bound the candidates,
    trained PQ codes + ADC lookups score them, top-10 per probe."""
    from cryptocurrency_data_pipeline_spark.operators import pq, similarity
    from cryptocurrency_data_pipeline_spark.operators.similarity import (
        as_double,
        cosine,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub = caching.persist(pq._subvectors(emb, 8, 8, "vec_id", "embedding"))
    cb = pq.train_codebook(emb, sub=sub)
    codes = pq.pq_encode(emb, cb, sub=sub)
    probes = emb.filter(F.col("vec_id") < 3)
    lut = pq.adc_lut(probes, cb)

    cents = similarity.ivf_centroids(emb, nlist=8)
    # Project as_double to a column BEFORE the per-centroid cosine: the
    # unrolled dot references its operands 2·dim times, and as_double
    # carries a forall() (interpreted HOF) that must evaluate once per
    # ROW, not once per (row, element) copy.
    emb_d = emb.select("vec_id", as_double(F.col("embedding")).alias("__vd"))
    simr = F.round(cosine(F.col("__vd"), F.col("centroid")), 9)
    corpus_assign = (
        emb_d.crossJoin(F.broadcast(cents))
        .select("vec_id", "centroid_id", simr.alias("simr"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("simr"), -F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )
    w3 = Window.partitionBy("query_id").orderBy(
        F.col("simr").desc(), "centroid_id"
    )
    probe_lists = (
        emb_d.filter(F.col("vec_id") < 3).crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("query_id"), "centroid_id", simr.alias("simr")
        )
        .withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") <= 3)
        .select("query_id", "centroid_id")
    )
    cand = corpus_assign.join(probe_lists, "centroid_id").select(
        "query_id", "vec_id"
    )
    scored = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("lut_dist"), 6).alias("adc_dist"))
    )
    wk = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 10)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            F.col("rn").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# IVFPQ with a PERSISTED index (the FAISS build-offline / search-online
# split, completing the pq_adc_topk_served story): codebook, coarse
# centroids, corpus PQ codes, and coarse assignments all live as parquet
# artifacts (pq.build_ivfpq_index); serving touches raw float vectors
# ONLY for the 3 probes — candidates come from the persisted assignment
# equi-join, scores from the persisted codes via broadcast ADC lookups.
# Deterministic build => shares ivfpq_topk's oracle verbatim.
# --------------------------------------------------------------------------

@query(
    "ivfpq_topk_served",
    oracle=_PQ_CODES_CTES
    + f"""
    , cents AS (
      SELECT v AS cv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) AS centroid_id
      FROM corpus QUALIFY centroid_id <= 8
    ), cassign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, s.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_IVF_COS} DESC,
                                           s.centroid_id) AS rn
        FROM corpus c CROSS JOIN cents s) WHERE rn = 1
    ), plists AS (
      SELECT query_id, centroid_id FROM (
        SELECT c.vec_id AS query_id, s.centroid_id,
               row_number() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_IVF_COS} DESC,
                                           s.centroid_id) AS rn
        FROM corpus c CROSS JOIN cents s WHERE c.vec_id < 3)
      WHERE rn <= 3
    ), cand AS (
      SELECT p.query_id, a.vec_id
      FROM cassign a JOIN plists p USING (centroid_id)
    ), sc AS (
      SELECT cd.query_id, cd.vec_id, round(sum(l.lut_dist), 6) AS adc_dist
      FROM cand cd
      JOIN codes c ON cd.vec_id = c.vec_id
      JOIN lut l ON l.query_id = cd.query_id AND l.m = c.m
                AND l.code = c.code
      WHERE cd.vec_id != cd.query_id
      GROUP BY cd.query_id, cd.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist,
           CAST(rn AS INT) AS rank
    FROM (
      SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rn
      FROM sc) WHERE rn <= 10
    """,
)
def ivfpq_topk_served(spark, sf_dir):
    """IVFPQ search from a persisted index: build once per sf_dir, then
    serve from the parquet artifacts."""
    import os
    import tempfile

    from cryptocurrency_data_pipeline_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if emb.isEmpty():
        # No corpus -> no index to build or serve; the result is the
        # typed empty top-k (build_ivfpq_index refuses empty input).
        return emb.limit(0).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).alias("rank"),
        )
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivfpq_index_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    try:
        index = pq.load_ivfpq_index(spark, path)
    except Exception as e:
        if not pq.is_missing_artifact(e):  # corrupt/perm errors must surface
            raise
        pq.build_ivfpq_index(emb, path)
        index = pq.load_ivfpq_index(spark, path)
    probes = emb.filter(F.col("vec_id") < 3)
    return pq.ivfpq_search(index, probes, k=10, nprobe=3)


# --------------------------------------------------------------------------
# Tokenizer-vocabulary coverage: the pre-tokenization health check every
# corpus ships with — build the top-k vocabulary (deterministic
# count-then-token tie-break), then measure each source's out-of-
# vocabulary token mass against it.  One explode feeds BOTH the vocab
# build and the coverage pass (cached token frame, released after the
# action); vocab attaches as a broadcast left join.
# --------------------------------------------------------------------------

@query(
    "vocab_oov_coverage",
    oracle="""
    WITH tok AS (
      SELECT source, tok
      FROM documents,
           unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+'),
                              t -> t <> '')) AS u(tok)
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM tok GROUP BY tok
        ORDER BY c DESC, tok LIMIT 20)
    )
    SELECT t.source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY t.source
    """,
)
def vocab_oov_coverage(spark, sf_dir):
    """Per-source OOV rate against the corpus's own top-20 vocabulary."""
    from cryptocurrency_data_pipeline_spark.operators.text import tokens

    toks = caching.persist(
        t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(20)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("in_vocab").isNull().cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


