"""Text/LM/corpus-stats families (epoch 2): bigram LM scoring, HLL and
sketch rollups, contamination checks, packing, quantized ANN, BM25,
z-order layout oracle, rolling windows, SCD2 history, media decode
rollups (PPM/Y4M and friends).

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
from cryptocurrency_data_pipeline_spark.operators.quantize import cents, finite  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._fragments import (  # noqa: F401
    cents_sql,
    finite_sql,
    minhash_bands_cte,
    minhash_cand_cte,
    minhash_sig_ctes,
)
from cryptocurrency_data_pipeline_spark.queries._registry import query, t  # noqa: F401
from cryptocurrency_data_pipeline_spark.sources.tables import load_table  # noqa: F401

# --------------------------------------------------------------------------
# Bigram language-model doc scoring: corpus-MLE conditional log-prob
# avg(ln C(w1,w2)/C(w1)) per document — the statistical "does this doc
# read like the corpus" quality signal (low score = unusual text; the
# n-gram analog of perplexity filtering in training-data pipelines).
# Counts and scoring stay in one lineage: explode bigrams once, derive
# BOTH count tables from the exploded frame, join them back, one final
# doc_id agg. Every shuffle is partial-agged; nothing touches the driver.
# --------------------------------------------------------------------------

@query(
    "bigram_logprob_docs",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id,
             coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                  t -> t <> ''), []) AS toks
      FROM documents
    ), bgl AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS bg
      FROM tk
    ), b AS (
      SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bgl
    ), cb AS (
      SELECT bg, count(*) AS c FROM b GROUP BY bg
    ), cu AS (
      SELECT w1, count(*) AS c FROM b GROUP BY w1
    )
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(avg(ln(CAST(cb.c AS DOUBLE) / cu.c)), 6) AS avg_logprob
    FROM b JOIN cb ON b.bg = cb.bg JOIN cu ON b.w1 = cu.w1
    GROUP BY b.doc_id
    """,
)
def bigram_logprob_docs(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text

    # Measured NOT to want spread_small_scan (r15 interleaved hermetic
    # A/B: 1.40 s unspread vs 1.58 spread).
    docs = t(spark, sf_dir, "documents").withColumn(
        "__toks", text.tokens("text")
    )
    # Persisted: the bigram frame feeds BOTH count sides and the scoring
    # join — uncached, the tokenize+shingle explode ran three times per
    # action.
    b = caching.persist(
        docs.select(
            "doc_id",
            F.explode(text.shingles(n=2, toks=F.col("__toks"))).alias("bg"),
        )
        .withColumn("w1", F.substring_index("bg", " ", 1))
    )
    cb = b.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    cu = b.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    return (
        b.join(cb, "bg")
        .join(cu, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("cb") / F.col("cu"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


# --------------------------------------------------------------------------
# HLL sketch re-aggregation (Datasketches, Spark 3.5+): daily user
# sketches merged into weekly estimates WITHOUT touching raw events
# twice. This is the 100 TB pattern for distinct-count dashboards: store
# tiny mergeable sketches per partition/day, answer any coarser window by
# unioning sketches. Estimates are sketch-impl-specific → rows-only check
# (the pytest suite bounds the error vs exact counts instead).
# --------------------------------------------------------------------------

@query(
    "hll_weekly_users",
    # Sketch estimates are engine-specific → the hashed columns are the
    # exact weekly distincts plus a per-week boolean that the merged-sketch
    # estimate sits within 5% of exact (Datasketches HLL at default lgK is
    # well inside that). The oracle computes exact + literal TRUE.
    oracle="""
    SELECT weekofyear(CAST(ts AS DATE)) AS week,
           count(*) AS n_events,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events WHERE ts IS NOT NULL GROUP BY week ORDER BY week
    """,
)
def hll_weekly_users(spark, sf_dir):
    # NULL event times have no week; without the filter the NULL week
    # group would silently vanish in the inner join (NULL != NULL).
    ev = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    weekly_sketch = daily.groupBy(F.weekofyear("day").alias("week")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__approx_users"),
        F.sum("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_days"),
    )
    weekly_exact = ev.groupBy(F.weekofyear(F.to_date("ts")).alias("week")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        weekly_sketch.join(weekly_exact, "week")
        .select(
            "week",
            "n_events",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("__approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# Statistical aggregates (A7-A9 family completion): Pearson correlation,
# sample covariance, and both stddev flavors per group — one hash-agg
# pass (each is a single-pass moment computation in Spark AND DuckDB).
# --------------------------------------------------------------------------

@query(
    "lineitem_price_qty_stats",
    # Moments over FINITE values only — pairwise for corr/covar (a row
    # enters only when BOTH measures are finite, the same null-pair rule
    # both engines already apply); n stays count(*).
    oracle=f"""
    SELECT l_returnflag,
           round(corr(CASE WHEN {finite_sql('l_quantity')} AND {finite_sql('l_extendedprice')} THEN l_quantity END,
                      CASE WHEN {finite_sql('l_quantity')} AND {finite_sql('l_extendedprice')} THEN l_extendedprice END), 6) AS qty_price_corr,
           round(covar_samp(CASE WHEN {finite_sql('l_quantity')} AND {finite_sql('l_extendedprice')} THEN l_quantity END,
                            CASE WHEN {finite_sql('l_quantity')} AND {finite_sql('l_extendedprice')} THEN l_extendedprice END), 4) AS qty_price_cov,
           round(stddev_samp(CASE WHEN {finite_sql('l_discount')} THEN l_discount END), 6) AS discount_sd,
           round(stddev_pop(CASE WHEN {finite_sql('l_discount')} THEN l_discount END), 6) AS discount_sd_pop,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_price_qty_stats(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pair_ok = finite("l_quantity") & finite("l_extendedprice")
    q_fin = F.when(pair_ok, F.col("l_quantity"))
    p_fin = F.when(pair_ok, F.col("l_extendedprice"))
    d_fin = F.when(finite("l_discount"), F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q_fin, p_fin), 6).alias("qty_price_corr"),
        F.round(F.covar_samp(q_fin, p_fin), 4).alias("qty_price_cov"),
        F.round(F.stddev_samp(d_fin), 6).alias("discount_sd"),
        F.round(F.stddev_pop(d_fin), 6).alias("discount_sd_pop"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Month-over-month revenue growth: monthly pre-agg (tiny) then lag over
# the 1-row-per-month frame — the window runs on post-agg data, so the
# sort is O(months), never O(orders).
# --------------------------------------------------------------------------

@query(
    "monthly_revenue_growth",
    oracle="""
    WITH m AS (
      -- a NULL order date has no month: it must not take part in the
      -- month-over-month chain (the engines would also order the NULL
      -- month on opposite ends of the lag window)
      SELECT date_trunc('month', o_orderdate) AS month,
             sum(o_totalprice) AS rev
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY month
    )
    SELECT strftime(month, '%Y-%m') AS month,
           round(rev, 2) AS revenue,
           round(rev - lag(rev) OVER (ORDER BY month), 2) AS mom_delta,
           round((rev - lag(rev) OVER (ORDER BY month))
                 / lag(rev) OVER (ORDER BY month), 6) AS mom_growth
    FROM m
    """,
)
def monthly_revenue_growth(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    m = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return m.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") - prev, 2).alias("mom_delta"),
        F.round((F.col("rev") - prev) / prev, 6).alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# Grouped DISTINCT aggregation: distinct users per (day, event_type) plus
# a same-pass plain count — Catalyst plans the mixed distinct/non-distinct
# agg with an Expand, still one logical pass over events.
# --------------------------------------------------------------------------

@query(
    "daily_event_type_users",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY day, event_type
    """,
)
def daily_event_type_users(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# Forward as-of join: each view matched to the user's NEXT purchase at or
# after it — same union-sort-ffill single-shuffle plan as the backward
# as-of, traversed descending (operators/joins.py). DuckDB oracle: ASOF
# with the inequality flipped.
# --------------------------------------------------------------------------

@query(
    "asof_next_purchase",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1
    )
    SELECT v.event_id, v.user_id, v.value AS view_value,
           p.value AS next_purchase_value
    FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
    """,
)
def asof_next_purchase(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import joins

    ev = t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = silver.dedup_latest(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value", "event_id"
        ),
        ["user_id", "ts"],
        "event_id",
    ).drop("event_id")
    out = joins.asof_join(
        views,
        purchases,
        "user_id",
        "ts",
        "ts",
        ["value"],
        prefix="next_purchase_",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", F.col("value").alias("view_value"),
        "next_purchase_value",
    )


# --------------------------------------------------------------------------
# Repetition-ratio quality signal (Gopher/MassiveText-style rule): the
# share of a document's adjacent-token bigrams taken by its single most
# frequent bigram — high ratio flags boilerplate/spam for training-data
# filtering. Bigrams built JVM-side (zip_with over slices, no UDF); the
# per-doc argmax is a doc-partitioned window, so the pass is
# one (doc,bigram) partial-agged shuffle + one doc-keyed window at any
# scale. Training-data extension; no reference counterpart.
# --------------------------------------------------------------------------

@query(
    "doc_repetition_stats",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                  t -> t <> ''), []) AS t
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM tok
    ), cnts AS (
      SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram
    ), rk AS (
      SELECT *,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, bigram DESC) AS rn,
             CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams
      FROM cnts
    )
    SELECT doc_id, n_bigrams, bigram AS top_bigram, cnt AS top_count,
           round(cnt * 1.0 / n_bigrams, 6) AS repetition_ratio
    FROM rk WHERE rn = 1
    """,
)
def doc_repetition_stats(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", text.tokens("text").alias("t"))
    cnts = (
        toks.select("doc_id", F.explode(text.bigrams(F.col("t"))).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("bigram").desc())
    wt = Window.partitionBy("doc_id")
    return (
        cnts.withColumn("rn", F.row_number().over(w))
        .withColumn("n_bigrams", F.sum("cnt").over(wt))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_bigrams",
            F.col("bigram").alias("top_bigram"),
            F.col("cnt").alias("top_count"),
            F.round(F.col("cnt") / F.col("n_bigrams"), 6).alias("repetition_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split (operators/sampling.py): hex-bucketed
# md5 assignment — retry-stable where rand()/randomSplit is not (a re-run
# task re-rolls its RNG and can leak a row into two splits). Pure
# projection, no shuffle beyond the verifying rollup. Training-data
# extension; no reference counterpart.
# --------------------------------------------------------------------------

@query(
    "train_val_test_split",
    oracle="""
    SELECT lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents GROUP BY lang, split
    """,
)
def train_val_test_split(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import sampling

    docs = sampling.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# Dense consecutive document ids (operators/ids.py): the distributed
# zipWithIndex — range-repartition + per-partition rank + broadcast prefix
# offsets. The naive row_number() over an unpartitioned window funnels the
# whole table through one task; this plan's only unpartitioned window runs
# over O(#partitions) count rows. Training-data extension (stable dense
# ids before sharding); no reference counterpart.
# --------------------------------------------------------------------------

@query(
    "docs_consecutive_ids",
    # NULLS FIRST mirrors Spark's ASC sort default: a NULL lang row
    # would otherwise shift every rid by one (DuckDB default is LAST).
    oracle="""
    SELECT doc_id, lang,
           row_number() OVER (ORDER BY lang NULLS FIRST, doc_id) AS rid
    FROM documents
    """,
)
def docs_consecutive_ids(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import ids

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return ids.with_consecutive_ids(docs, ["lang", "doc_id"], id_name="rid")


# --------------------------------------------------------------------------
# Sequence packing for fixed context windows (operators/packing.py):
# md5-bucketed greedy bin assignment by exclusive running token count —
# the shuffle-time "which documents share a training window" step. One
# bucket-partitioned window, no global sort. Training-data extension; no
# reference counterpart.
# --------------------------------------------------------------------------

@query(
    "pack_docs_for_training",
    oracle=r"""
    WITH sized AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) AS pack_bucket,
             coalesce(len(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                      t -> t <> '')), 0) AS n_tokens
      FROM documents
    ), binned AS (
      SELECT *,
             CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY pack_bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 512.0) AS BIGINT) AS bin_id
      FROM sized
    )
    SELECT pack_bucket, bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc
    FROM binned GROUP BY pack_bucket, bin_id
    """,
)
def pack_docs_for_training(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import packing, text

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 3).alias("pack_bucket"),
        text.token_count("text").alias("n_tokens"),
    )
    binned = packing.greedy_pack(
        docs, "n_tokens", "pack_bucket", ["doc_id"], capacity=512
    )
    return binned.groupBy("pack_bucket", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# --------------------------------------------------------------------------
# Benchmark-contamination scan (training-data hygiene): which train-split
# documents share word 3-grams with the held-out split.  The canonical
# pre-training leakage check (n-gram overlap against eval benchmarks).
# Scale shape: explode per-doc DISTINCT shingles, ONE hash join on the
# gram key (both sides shuffle-partitioned by gram — no broadcast
# assumption, benchmark sets are large too), then a doc-keyed re-agg.
# Splits are the md5 hex buckets from operators/sampling.py, so the whole
# pipeline is deterministic and replays in DuckDB. Training-data
# extension; no reference counterpart.
# --------------------------------------------------------------------------

@query(
    "benchmark_contamination",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN '0' AND 'b' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('c', 'd') THEN 'val'
                  ELSE 'test' END AS split,
             string_split_regex(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(t[i:i+2], ' ')))) AS gram
      FROM tok
    ), bench AS (
      SELECT DISTINCT gram FROM sh WHERE split = 'test'
    ), agg AS (
      SELECT s.doc_id, count(*) AS n_grams, count(b.gram) AS n_shared
      FROM sh s LEFT JOIN bench b USING (gram)
      WHERE s.split = 'train'
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_grams, n_shared,
           round(n_shared * 1.0 / n_grams, 6) AS contamination_ratio
    FROM agg WHERE n_shared > 0
    """,
)
def benchmark_contamination(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import sampling, text

    docs = sampling.assign_split(t(spark, sf_dir, "documents"), "doc_id")
    grams = (
        docs.withColumn("t", text.tokens("text"))
        .select(
            "doc_id",
            "split",
            F.explode(F.array_distinct(text.shingles(toks=F.col("t"), n=3))).alias(
                "gram"
            ),
        )
    )
    bench = grams.filter(F.col("split") == "test").select("gram").distinct()
    train = grams.filter(F.col("split") == "train")
    return (
        train.join(bench.withColumn("__hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias(
                "contamination_ratio"
            ),
        )
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters (operators/sketch.py): estimate the
# top-20 term frequencies from a fixed depth×width cell table instead of
# an exact vocabulary-sized shuffle.  Map-side combine bounds the sketch
# shuffle to O(depth × width × partitions) rows at ANY corpus size; the
# md5-derived cells replay bit-for-bit in DuckDB, and the final column
# asserts the CMS guarantee (estimate ≥ exact, always).  Training-data
# extension; no reference counterpart (exact Deequ counts at 100-row
# scale, glue/data_quality_pydeequ.py:74).
# --------------------------------------------------------------------------

@query(
    "cms_heavy_hitters",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+')) AS term
      FROM documents
    ), cells AS (
      SELECT d, substr(md5(CAST(d AS VARCHAR) || '_' || term), 1, 3) AS cell,
             count(*) AS cnt
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d)
      GROUP BY d, cell
    ), exact AS (
      SELECT term, count(*) AS exact_cnt FROM tok GROUP BY term
      ORDER BY exact_cnt DESC, term LIMIT 20
    )
    SELECT e.term, e.exact_cnt, min(c.cnt) AS cms_est,
           min(c.cnt) >= e.exact_cnt AS never_underestimates
    FROM exact e JOIN cells c
      ON c.cell = substr(md5(CAST(c.d AS VARCHAR) || '_' || e.term), 1, 3)
    GROUP BY e.term, e.exact_cnt
    """,
)
def cms_heavy_hitters(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import sketch, text

    terms = (
        t(spark, sf_dir, "documents")
        .select(F.explode(text.tokens("text")).alias("term"))
    )
    cms = sketch.cms_build(terms, "term", depth=4, hex_chars=3)
    exact = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("term").asc())
        .limit(20)
    )
    est = sketch.cms_estimate(cms, exact, "term", depth=4, hex_chars=3)
    return est.select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_underestimates"),
    )


# --------------------------------------------------------------------------
# int8-quantized cosine top-k (operators/similarity.py): symmetric scalar
# quantization (scales cancel in cosine), then exact INTEGER dot products
# over the 4×-smaller code vectors — the embedding-bandwidth lever for
# 100 TB similarity scans, with no float summation-order sensitivity.
# floor(x+0.5) quantization replays bit-for-bit in DuckDB.  Training-data
# extension; no reference counterpart.
# --------------------------------------------------------------------------

@query(
    "quantized_cosine_topk",
    oracle="""
    WITH c AS (
      -- corrupt-vector guard (operator contract, similarity.vec_finite
      -- over the element-completeness as_double): a NULL vector, NULL
      -- component, or NaN/Inf component poisons the scale and every
      -- int8 code, so quantized search excludes the vector on both
      -- engines
      SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding,
                            x -> x IS NULL OR NOT isfinite(x))) = 0
    ), s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM c
    ), qz AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127, least(127,
               CASE WHEN scale > 0
                    THEN CAST(floor(x / scale + 0.5) AS BIGINT)
                    ELSE 0 END))) AS codes
      FROM s
    ), scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_dot_product(q.codes, n.codes)
             / (sqrt(list_dot_product(q.codes, q.codes))
                * sqrt(list_dot_product(n.codes, n.codes))) AS sim
      FROM qz q JOIN qz n ON n.vec_id != q.vec_id
      WHERE q.vec_id < 5
    ), r AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS q_cosine_sim
    FROM r WHERE rn <= 10
    """,
)
def quantized_cosine_topk(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    return similarity.quantized_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    )


# --------------------------------------------------------------------------
# Training-shard layout (sources/shards.py): the accounting pass of the
# shard sink — deterministic md5 shard id per document, one row per
# (split, shard) with row/token counts and id range, exactly what the
# sink's ``_manifest.json`` records.  The md5-hex bucket arithmetic
# replays bit-for-bit in DuckDB ('0x'||hex cast = Spark conv(hex,16,10)).
# The write path itself (repartition on the partition columns → one file
# per shard) is exercised by tests/test_shards.py.  Training-data
# extension; reference writes one coalesced JSON object per run
# (glue/data_ingestion_s3.py:33).
# --------------------------------------------------------------------------

@query(
    "training_shard_layout",
    oracle="""
    WITH a AS (
      SELECT doc_id, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN '0' AND 'b' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('c', 'd') THEN 'val'
                  ELSE 'test' END AS split,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 AS shard
      FROM documents
    )
    SELECT split, shard, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS n_tokens,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM a GROUP BY split, shard
    """,
)
def training_shard_layout(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators.sampling import assign_split
    from cryptocurrency_data_pipeline_spark.sources.shards import shard_assignment

    docs = assign_split(
        t(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id"
    )
    return (
        docs.withColumn("shard", shard_assignment("doc_id", 8))
        .groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("n_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-pruned semi-join (operators/bloom.py): membership prune as a
# 16 KB broadcast bitset tested inside the probe scan, then the exact
# semi-join over the surviving candidates — value-identical to a plain
# semi-join (no false negatives), so the whole pipeline oracles as
# WHERE ... IN (...).  The scale story: when the build side is too big
# to broadcast as rows, the bitset still fits, and non-matching fact
# rows die before the semi-join shuffle instead of after it.
# tests/test_bloom.py pins the FP bound and the shuffle-free probe plan.
# --------------------------------------------------------------------------

@query(
    "bloom_pruned_building_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
)
def bloom_pruned_building_orders(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators.bloom import bloom_semi_join

    orders = t(spark, sf_dir, "orders")
    building = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return (
        bloom_semi_join(orders, building, "o_custkey", "c_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Mergeable quantile sketch (A4-A10 family, approximate tier): Spark's
# percentile_approx is a GK summary — single-pass, map-side combinable,
# O(accuracy) state per group — vs the exact percentile's full value
# collection.  At 100 TB the exact path shuffles every value; the sketch
# ships fixed-size summaries.  Like the HLL queries, the sketch value is
# merge-order-dependent, so the hashed columns are the EXACT quantiles
# plus per-quantile booleans asserting the sketch's RANK guarantee: the
# returned value's rank interval [#lt+1, #le] must intersect
# ceil(p*n) ± (1 + ceil(n/accuracy)) — the published GK bound, which is
# SF-invariant (exact at n <= accuracy, rank-proportional above), unlike
# a fixed 1%-of-value tolerance whose validity depended on group sizes.
# Verified by a second conditional-count pass over the broadcast-joined
# sketch values (5 groups -> broadcast; both passes map-side combine).
# --------------------------------------------------------------------------

@query(
    "approx_price_quantile_sketch",
    # Finite prices only (NULL/NaN/Inf carry no rank): n counts the
    # usable measures, mirrored on both sides.
    oracle=f"""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.90), 4) AS p90_exact,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99_exact,
           count(*) AS n,
           TRUE AS p50_rank_ok,
           TRUE AS p90_rank_ok,
           TRUE AS p99_rank_ok
    FROM orders WHERE {finite_sql('o_totalprice')} GROUP BY o_orderpriority
    """,
)
def approx_price_quantile_sketch(spark, sf_dir):
    accuracy = 10_000
    ps = [0.50, 0.90, 0.99]
    fracs = F.array(*[F.lit(p) for p in ps])
    orders = (
        t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .filter(finite("o_totalprice"))
    )
    sketch = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", fracs, F.lit(accuracy)).alias(
            "__approx"
        )
    )
    counts = [
        c
        for i in range(len(ps))
        for c in (
            F.sum(
                F.when(F.col("o_totalprice") < F.get("__approx", i), 1).otherwise(0)
            ).alias(f"__lt{i}"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.get("__approx", i), 1).otherwise(0)
            ).alias(f"__le{i}"),
        )
    ]
    # eqNullSafe: a NULL group key must survive the sketch join (a plain
    # inner join on the column silently drops the whole NULL group).
    sk = sketch.withColumnRenamed("o_orderpriority", "__p")
    agg = (
        orders.join(
            F.broadcast(sk),
            orders["o_orderpriority"].eqNullSafe(sk["__p"]),
        )
        .drop("__p")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", fracs).alias("__exact"),
            F.count(F.lit(1)).alias("n"),
            *counts,
        )
    )
    slack = F.lit(1) + F.ceil(F.col("n") / F.lit(accuracy))

    def rank_ok(i: int, p: float):
        target = F.ceil(F.col("n") * F.lit(p))
        return (F.col(f"__lt{i}") + 1 <= target + slack) & (
            F.col(f"__le{i}") >= target - slack
        )

    return agg.select(
        "o_orderpriority",
        F.round(F.get("__exact", 0), 4).alias("p50_exact"),
        F.round(F.get("__exact", 1), 4).alias("p90_exact"),
        F.round(F.get("__exact", 2), 4).alias("p99_exact"),
        "n",
        rank_ok(0, 0.50).alias("p50_rank_ok"),
        rank_ok(1, 0.90).alias("p90_rank_ok"),
        rank_ok(2, 0.99).alias("p99_rank_ok"),
    )


# --------------------------------------------------------------------------
# End-to-end corpus preparation (the flagship training-data composite):
# quality gate → exact near-identity dedup (keep lowest doc_id per
# normalized md5 fingerprint) → deterministic split assignment → per-split
# accounting.  One fingerprint shuffle (the dedup window) and one final
# rollup; the quality filter and split assignment are pure projections
# that run inside the scan stage.  Every stage is the already-oracled
# building block (text.quality_score / text.fingerprint /
# sampling.assign_split), so the whole pipeline replays in DuckDB CTEs —
# the "a reference user runs their entire prep here" query.
# --------------------------------------------------------------------------

@query(
    "corpus_prep_report",
    oracle=r"""
    WITH toked AS (
      SELECT *, coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                     t -> t <> ''), []) AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, n_chars,
        md5(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fp,
        -- blank/null docs score 0.0 outright (quality_score guard)
        CASE WHEN len(toks) = 0 THEN 0.0 ELSE (
          least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
          + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 1.0))
          + (1.0 - least(abs(CAST(len(list_filter(toks, x -> x IN ('a','the','of','and'))) AS DOUBLE)
                         / len(toks) - 0.1) * 2.0, 1.0))
        ) / 3.0 END AS q
      FROM toked
    ), quality AS (
      SELECT * FROM scored WHERE q >= 0.5
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_tokens,
           round(avg(q), 6) AS avg_quality
    FROM dedup GROUP BY split
    """,
)
def corpus_prep_report(spark, sf_dir):
    from pyspark.sql import Window

    from cryptocurrency_data_pipeline_spark.operators import text as textops
    from cryptocurrency_data_pipeline_spark.operators.sampling import assign_split

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        textops.quality_score("text").alias("q"),
        textops.fingerprint("text").alias("fp"),
    )
    quality = docs.filter(F.col("q") >= 0.5)
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        assign_split(deduped, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_tokens"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
    )


# --------------------------------------------------------------------------
# PII redaction (text.redact_pii): regex scrub of emails/SSNs/phones/IPs —
# chained JVM regexp_replace in the scan stage, no UDF, no shuffle until
# the per-language rollup.  The synthetic corpus contains no PII, so the
# query plants deterministic PII derived from doc_id (same construction
# in the oracle) — the counts and the redacted-length delta then verify
# the actual regex behavior rather than vacuous zeros.  Patterns are
# lookaround-free so Java regex and RE2 agree match-for-match; the email
# pattern's consuming boundary group is mirrored verbatim on both sides
# (see text.PII_PATTERNS — it is what keeps Java linear on letter runs,
# and a capture group is the only boundary RE2 can express).
# --------------------------------------------------------------------------

@query(
    "pii_redaction_stats",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id, lang, text
        || CASE WHEN doc_id % 2 = 0 THEN ' contact user'
                     || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN ' call +1 555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789 from 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.7'
                ELSE '' END AS t
      FROM documents
    ), red AS (
      SELECT lang, t,
        len(regexp_extract_all(t, '(^|[^A-Za-z0-9._%+-])[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c_email,
        len(regexp_extract_all(t, '\d{3}-\d{2}-\d{4}')) AS c_ssn,
        len(regexp_extract_all(t, '\+\d{1,2}[- ]\d{3}-\d{4}')) AS c_phone,
        len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS c_ipv4,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
          '(^|[^A-Za-z0-9._%+-])[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '\1[EMAIL]', 'g'),
          '\d{3}-\d{2}-\d{4}', '[SSN]', 'g'),
          '\+\d{1,2}[- ]\d{3}-\d{4}', '[PHONE]', 'g'),
          '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '[IP]', 'g') AS clean
      FROM aug
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(c_email) AS BIGINT) AS n_email,
           CAST(sum(c_ssn) AS BIGINT) AS n_ssn,
           CAST(sum(c_phone) AS BIGINT) AS n_phone,
           CAST(sum(c_ipv4) AS BIGINT) AS n_ipv4,
           CAST(sum(length(t) - length(clean)) AS BIGINT) AS chars_removed
    FROM red GROUP BY lang
    """,
)
def pii_redaction_stats(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" call +1 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" ssn 123-45-6789 from 10.0."),
                (did % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
    )
    staged = t(spark, sf_dir, "documents").select("lang", aug.alias("t"))
    counted = staged.select(
        "lang",
        "t",
        textops.redact_pii("t").alias("clean"),
        *[c.alias(f"c_{name}") for name, c in textops.pii_counts("t")],
    )
    return counted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c_email").alias("n_email"),
        F.sum("c_ssn").alias("n_ssn"),
        F.sum("c_phone").alias("n_phone"),
        F.sum("c_ipv4").alias("n_ipv4"),
        F.sum(F.length("t") - F.length("clean")).alias("chars_removed"),
    )


# --------------------------------------------------------------------------
# Fixed-window chunking (text.chunk_docs): overlapping 100-char spans
# every 80 chars — the context-window preprocessing step.  One sequence()
# build + one explode; the substring and md5 run post-explode as plain
# row expressions (no HOF-lambda re-evaluation).  Output is one row per
# chunk with its md5, so the oracle pins exact span content, not just
# counts.
# --------------------------------------------------------------------------

@query(
    "doc_chunk_inventory",
    oracle="""
    WITH s AS (
      -- null text chunks as empty (chunk_docs' no-silent-row-loss rule:
      -- the doc still emits its single (pos=1, chunk='') row)
      SELECT doc_id, coalesce(text, '') AS text,
             generate_series(1, greatest(length(coalesce(text, '')) - 20, 1), 80) AS starts
      FROM documents
    ), e AS (
      SELECT doc_id, text, unnest(starts) AS pos FROM s
    )
    SELECT doc_id, pos, md5(substr(text, pos, 100)) AS chunk_md5,
           length(substr(text, pos, 100)) AS chunk_len
    FROM e
    """,
)
def doc_chunk_inventory(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    chunks = textops.chunk_docs(
        t(spark, sf_dir, "documents"), size=100, stride=80
    )
    return chunks.select(
        "doc_id",
        "pos",
        F.md5("chunk").alias("chunk_md5"),
        F.length("chunk").alias("chunk_len"),
    )


# --------------------------------------------------------------------------
# Corpus mixture sampling (sampling.mixture_keep): per-source downsampling
# to a mixture weight via an integer threshold on a 16-bit md5 bucket of
# (source, id) — retry-stable where rand() is not, scan-stage projection,
# no float boundary (weights quantize to 1/65536).  Weights here derive
# from the source number so the oracle needs no side table.
# --------------------------------------------------------------------------

@query(
    "source_mixture_sample",
    oracle=r"""
    WITH r AS (
      -- framed per-field hashing mirrors sampling.mixture_bucket
      SELECT source,
             (1 + CAST(regexp_extract(source, '\d+') AS INT) % 4) / 4.0 AS mix_rate,
             CAST(('0x' || substr(md5('1' || md5(source) || '1'
                                      || md5(CAST(doc_id AS VARCHAR))), 1, 4))
                  AS BIGINT) AS bucket
      FROM documents
    )
    SELECT source, mix_rate, count(*) AS n_total,
           count(*) FILTER (bucket < CAST(floor(mix_rate * 65536) AS BIGINT)) AS n_kept
    FROM r GROUP BY source, mix_rate
    """,
)
def source_mixture_sample(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import sampling

    rate = (
        1
        + F.pmod(F.regexp_extract(F.col("source"), r"\d+", 0).cast("int"), F.lit(4))
    ) / F.lit(4.0)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        rate.alias("mix_rate"),
        sampling.mixture_keep("doc_id", "source", rate).alias("keep"),
    )
    return docs.groupBy("source", "mix_rate").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
    )


# --------------------------------------------------------------------------
# k-means over the embedding corpus (operators/clustering.py): two Lloyd
# rounds from the md5-deterministic IVF seed sample.  Assignment is a
# map-side argmin against driver-held literal centers (k x dim doubles —
# sketch-sized, like the bloom bitset); each update is ONE
# dimension-parallel shuffle carrying k x dim partial means.  Fixed
# iterations + deterministic seeds mean the whole fit unrolls into
# DuckDB CTEs: seed -> assign -> mean -> assign -> mean -> assign.
# --------------------------------------------------------------------------

@query(
    "kmeans_embedding_clusters",
    oracle="""
    -- MULTISET semantics throughout (mirrors the engine's map-only
    -- per-row assignment and per-row means): the argmin is computed
    -- once per DISTINCT (vec_id, v) and rejoined to the row multiset
    -- on BOTH columns, so duplicated rows keep their multiplicity in
    -- counts AND in the Lloyd mean updates.
    WITH corpus AS (
      SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings
    ), e AS (
      SELECT DISTINCT vec_id, v FROM corpus
    ), seed AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
             v AS c
      FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ), d0 AS (
      SELECT a.vec_id, a.v, s.cid,
             list_aggregate(list_transform(generate_series(1, len(a.v)),
               j -> (a.v[j] - s.c[j]) * (a.v[j] - s.c[j])), 'sum') AS d
      FROM e a CROSS JOIN seed s
    ), a0e AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, v ORDER BY d, cid) AS rn
        FROM d0) WHERE rn = 1
    ), a0 AS (
      SELECT c.vec_id, c.v, a.cid
      FROM corpus c JOIN a0e a ON c.vec_id = a.vec_id AND c.v = a.v
    ), c1 AS (
      SELECT s.cid, coalesce(m.center, s.c) AS c
      FROM seed s LEFT JOIN (
        SELECT cid, list(m ORDER BY i) AS center FROM (
          SELECT cid, i, avg(x) AS m FROM (
            SELECT cid, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS i FROM a0
          ) GROUP BY cid, i
        ) GROUP BY cid
      ) m ON s.cid = m.cid
    ), d1 AS (
      SELECT a.vec_id, a.v, s.cid,
             list_aggregate(list_transform(generate_series(1, len(a.v)),
               j -> (a.v[j] - s.c[j]) * (a.v[j] - s.c[j])), 'sum') AS d
      FROM e a CROSS JOIN c1 s
    ), a1e AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, v ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1
    ), a1 AS (
      SELECT c.vec_id, c.v, a.cid
      FROM corpus c JOIN a1e a ON c.vec_id = a.vec_id AND c.v = a.v
    ), c2 AS (
      SELECT s.cid, coalesce(m.center, s.c) AS c
      FROM c1 s LEFT JOIN (
        SELECT cid, list(m ORDER BY i) AS center FROM (
          SELECT cid, i, avg(x) AS m FROM (
            SELECT cid, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS i FROM a1
          ) GROUP BY cid, i
        ) GROUP BY cid
      ) m ON s.cid = m.cid
    ), d2 AS (
      SELECT a.vec_id, a.v, s.cid,
             list_aggregate(list_transform(generate_series(1, len(a.v)),
               j -> (a.v[j] - s.c[j]) * (a.v[j] - s.c[j])), 'sum') AS d
      FROM e a CROSS JOIN c2 s
    ), a2e AS (
      SELECT vec_id, v, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, v ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1
    ), a2 AS (
      SELECT c.vec_id, a.cid, a.d
      FROM corpus c JOIN a2e a ON c.vec_id = a.vec_id AND c.v = a.v
    )
    SELECT cid AS cluster_id, count(*) AS n_points,
           round(avg(d), 6) AS avg_sq_dist
    FROM a2 GROUP BY cid
    """,
)
def kmeans_embedding_clusters(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators.clustering import kmeans_fit

    _, assigned = kmeans_fit(
        t(spark, sf_dir, "embeddings"), k=8, iters=2
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg("sq_dist"), 6).alias("avg_sq_dist"),
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval (text.bm25_rank): the pivot-as-conditional-agg
# trick applied to search scoring.  ONE doc-keyed shuffle — per-doc tf for
# the fixed term list and the doc length come out of a single groupBy —
# and corpus stats (N, avgdl, per-term df) stay in-plan as a 1-row
# broadcast.  No token-keyed shuffle, no df-table join (contrast TF-IDF,
# where the vocabulary is unbounded).  Lucene-variant IDF.
# --------------------------------------------------------------------------

@query(
    "bm25_top_docs",
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
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id ASC LIMIT 25
    """,
)
def bm25_top_docs(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text

    ranked = text.bm25_rank(
        t(spark, sf_dir, "documents"), ["dup", "spark", "key"]
    )
    return (
        ranked.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(25)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@10 of both approximate indexes (SRP-LSH
# and IVF-flat) against the exact brute-force cosine ground truth, per
# query point.  This is the eval harness a real embedding pipeline ships
# with — the approximate path is only trustworthy because this number is
# computed on every index build.  All three pipelines are themselves
# hash-green against DuckDB, so the composition replays exactly: recall
# is a count of set-intersection hits over k, no floating-point at all
# above the (already-verified) top-k sets.
# --------------------------------------------------------------------------

@query(
    "ann_recall_at_k",
    oracle="""
    WITH c AS (SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings),
    ex_s AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_dot_product(q.v, n.v)
             / (sqrt(list_dot_product(q.v, q.v))
                * sqrt(list_dot_product(n.v, n.v))) AS sim
      FROM c q JOIN c n ON n.vec_id != q.vec_id
      WHERE q.vec_id < 5
    ),
    -- recall is over DISTINCT pair sets on every side: a duplicated
    -- corpus crowds each top-k list with copies, and both the ground
    -- truth and the approximate lists collapse to their pair sets
    -- before intersecting (the engine's left_semi join does the same)
    ex AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM ex_s) WHERE rn <= 10
    ),
    dims AS (SELECT unnest(generate_series(0, 63)) AS i),
    bits AS (SELECT unnest(generate_series(0, 3)) AS b),
    signs AS (
      SELECT b, i,
             CASE WHEN strpos('01234567',
                    substr(md5(CAST(b AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) > 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM bits CROSS JOIN dims
    ),
    proj AS (
      SELECT c.vec_id, signs.b, sum(c.v[signs.i + 1] * signs.s) AS p
      FROM c CROSS JOIN signs GROUP BY c.vec_id, signs.b
    ),
    bkt AS (
      SELECT vec_id,
             string_agg(CASE WHEN round(p, 9) >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY b) AS bucket
      FROM proj GROUP BY vec_id
    ),
    srp_cand AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_dot_product(qq.v, nn.v)
             / (sqrt(list_dot_product(qq.v, qq.v))
                * sqrt(list_dot_product(nn.v, nn.v))) AS sim
      FROM bkt q JOIN bkt n ON q.bucket = n.bucket AND q.vec_id != n.vec_id
      JOIN c qq ON qq.vec_id = q.vec_id
      JOIN c nn ON nn.vec_id = n.vec_id
      WHERE q.vec_id < 5
    ),
    srp AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM srp_cand) WHERE rn <= 10
    ),
    seeds AS (
      SELECT v AS cv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS centroid_id
      FROM c QUALIFY centroid_id <= 16
    ),
    -- same DISTINCT-(vec_id, v) assignment + both-column rejoin as the
    -- standalone ivf_ann_topk oracle: per-id ranking over the raw
    -- multiset would interleave duplicate copies into the probe list
    assign AS (
      SELECT e.vec_id, e.v, s.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id, e.v
               ORDER BY round(list_dot_product(e.v, s.cv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(s.cv, s.cv))), 9) DESC,
                        s.centroid_id
             ) AS rn
      FROM (SELECT DISTINCT vec_id, v FROM c) e CROSS JOIN seeds s
    ),
    ivf_scored AS (
      SELECT p.query_id, a.neighbor_id,
             list_dot_product(p.qv, a.cv2)
             / (sqrt(list_dot_product(p.qv, p.qv))
                * sqrt(list_dot_product(a.cv2, a.cv2))) AS sim
      FROM (SELECT cq.vec_id AS query_id, cq.v AS qv, aa.centroid_id
            FROM c cq JOIN assign aa
              ON cq.vec_id = aa.vec_id AND cq.v = aa.v AND aa.rn <= 4
            WHERE cq.vec_id < 5) p
      JOIN (SELECT cn.vec_id AS neighbor_id, cn.v AS cv2, aa.centroid_id
            FROM c cn JOIN assign aa
              ON cn.vec_id = aa.vec_id AND cn.v = aa.v AND aa.rn = 1) a
        USING (centroid_id)
      WHERE a.neighbor_id != p.query_id
    ),
    ivf AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn2
        FROM ivf_scored) WHERE rn2 <= 10
    ),
    srp_hits AS (
      SELECT e.query_id, count(*) AS h
      FROM ex e JOIN srp USING (query_id, neighbor_id) GROUP BY e.query_id
    ),
    ivf_hits AS (
      SELECT e.query_id, count(*) AS h
      FROM ex e JOIN ivf USING (query_id, neighbor_id) GROUP BY e.query_id
    )
    SELECT q.query_id,
           round(coalesce(sh.h, 0) / 10.0, 2) AS srp_recall,
           round(coalesce(ih.h, 0) / 10.0, 2) AS ivf_recall
    FROM (SELECT DISTINCT query_id FROM ex) q
    LEFT JOIN srp_hits sh USING (query_id)
    LEFT JOIN ivf_hits ih USING (query_id)
    """,
)
def ann_recall_at_k(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    k = 10
    # Recall compares DISTINCT pair sets: a duplicated corpus crowds
    # each top-k list with copies of the same (query, neighbor) pair,
    # and the metric is over the sets, not the crowded lists.
    exact = similarity.cosine_topk(emb, queries_df, k=k).select(
        "query_id", "neighbor_id"
    ).distinct()
    srp = similarity.ann_topk(emb, queries_df, k=k, n_bits=4).select(
        "query_id", "neighbor_id"
    ).distinct()
    ivf = similarity.ivf_topk(
        emb, queries_df, k=k, nlist=16, nprobe=4
    ).select("query_id", "neighbor_id").distinct()

    def hits(approx):
        return (
            exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("h"))
        )

    base = exact.select("query_id").distinct()
    return (
        base.join(hits(srp).withColumnRenamed("h", "__sh"), "query_id", "left")
        .join(hits(ivf).withColumnRenamed("h", "__ih"), "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("__sh"), F.lit(0)) / 10.0, 2).alias(
                "srp_recall"
            ),
            F.round(F.coalesce(F.col("__ih"), F.lit(0)) / 10.0, 2).alias(
                "ivf_recall"
            ),
        )
    )


# --------------------------------------------------------------------------
# SimHash near-dup recall: the eval harness for the SimHash path, scoring
# Hamming-banded candidates against verified-Jaccard ground truth (the
# minhash LSH + exact-Jaccard pipeline, itself hash-green).  Candidate
# generation is COMPLETE for Hamming ≤ 3: the 64-bit signature splits into
# 4 × 16-bit bands, and 3 bit flips cannot touch all 4 bands (pigeonhole),
# so every qualifying pair shares at least one exact band — candidates come
# from a band-key self-join only, never an all-pairs scan.  At 100 TB the
# shuffle is on (band_idx, 16-bit value) keys; collisions per band are
# birthday-bounded, no quadratic blowup.
# --------------------------------------------------------------------------

@query(
    "simhash_recall",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                t -> t <> '')) AS tk
      FROM documents
    ),
    th AS (SELECT doc_id, md5(tk) AS h FROM tok),
    bits AS (SELECT unnest(generate_series(0, 63)) AS b),
    contrib AS (
      SELECT th.doc_id, bits.b,
             sum(CASE WHEN ((strpos('0123456789abcdef',
                                    substr(th.h, 16 - (bits.b // 4), 1)) - 1)
                            >> (bits.b % 4)) & 1 = 1
                      THEN 1 ELSE -1 END) AS acc
      FROM th CROSS JOIN bits GROUP BY th.doc_id, bits.b
    ),
    sig0 AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN acc > 0 THEN
                        CASE WHEN b = 63 THEN -9223372036854775808
                             ELSE (CAST(1 AS BIGINT) << b) END
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    ),
    sig AS (
      SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash
      FROM documents d LEFT JOIN sig0 s USING (doc_id)
    ),
    banded AS (
      SELECT doc_id, simhash, bi,
             (simhash >> (bi * 16)) & 65535 AS bv
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS bi)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.simhash, b.simhash)) AS ham
      FROM banded a JOIN banded b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    {minhash_sig_ctes(tk="tk2", sig="msig")},
    {minhash_bands_cte(bands="mbands", sig="msig")},
    {minhash_cand_cte(cand="mcand", bands="mbands")},
    truth AS (
      SELECT a_id, b_id
      FROM mcand JOIN hs x ON mcand.a_id = x.doc_id JOIN hs y ON mcand.b_id = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.5
    ),
    joined AS (
      SELECT t.a_id, t.b_id, c.ham
      FROM truth t LEFT JOIN cand c USING (a_id, b_id)
    ),
    aggd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(sum(CASE WHEN ham <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
             CAST(sum(CASE WHEN ham <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
             CAST(sum(CASE WHEN ham <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
             CAST(sum(CASE WHEN ham <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3
      FROM joined
    )
    SELECT hamming_max, n_truth, n_hits,
           round(CASE WHEN n_truth = 0 THEN 0.0
                      ELSE CAST(n_hits AS DOUBLE) / n_truth END, 4) AS recall
    FROM (
      SELECT 0 AS hamming_max, n_truth, coalesce(h0, 0) AS n_hits FROM aggd
      UNION ALL SELECT 1, n_truth, coalesce(h1, 0) FROM aggd
      UNION ALL SELECT 2, n_truth, coalesce(h2, 0) FROM aggd
      UNION ALL SELECT 3, n_truth, coalesce(h3, 0) FROM aggd
    )
    """,
)
def simhash_recall(spark, sf_dir):
    """Recall curve of SimHash Hamming-≤h candidates (h = 0..3) against
    the verified-Jaccard (≥ 0.5) near-dup ground truth."""
    from cryptocurrency_data_pipeline_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    # Persist: the Arrow-batched UDF runs once, both self-join sides and
    # the truth join read the materialized signatures.
    sigs = caching.persist(
        docs.select(
            "doc_id",
            F.coalesce(dedup.simhash64(F.col("text")), F.lit(0)).alias("simhash"),
        )
    )
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.shiftright("simhash", 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .cast("string"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("ham"),
        )
        .distinct()
    )
    truth = dedup.minhash_near_dups(docs, threshold=0.5, bands=4, n=3).select(
        "a_id", "b_id"
    )
    joined = truth.join(cand, ["a_id", "b_id"], "left")
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_truth"),
        *[
            F.sum(F.when(F.col("ham") <= h, 1).otherwise(0)).alias(f"h{h}")
            for h in range(4)
        ],
    )
    return agg.select(
        F.expr(
            "stack(4, 0, h0, 1, h1, 2, h2, 3, h3) AS (hamming_max, n_hits)"
        ),
        "n_truth",
    ).select(
        "hamming_max",
        "n_truth",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        F.round(
            F.when(F.col("n_truth") == 0, F.lit(0.0)).otherwise(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_truth")
            ),
            4,
        ).alias("recall"),
    )


@query(
    "exact_substring_spans",
    # Lee et al. exact-substring dedup replay: duplicated 50-grams by md5,
    # then gaps-and-islands span merge — same construction both engines.
    oracle="""
    WITH pos AS (
      SELECT doc_id, unnest(generate_series(1, length(text) - 49)) AS p, text
      FROM documents WHERE length(text) >= 50
    ), grams AS (
      SELECT doc_id, p, md5(substring(text, p, 50)) AS g FROM pos
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) > 1
    ), hits AS (
      SELECT doc_id, p FROM grams JOIN dup USING (g)
    ), flagged AS (
      SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 50
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ), islands AS (
      SELECT doc_id, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
      FROM flagged
    )
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + 49 AS BIGINT) AS span_end
    FROM islands GROUP BY doc_id, isl
    """,
)
def exact_substring_spans(spark, sf_dir):
    """Exact-substring dedup (Lee et al. ACL'22, suffix-array-free): maximal
    per-doc spans covered by 50-char grams that recur verbatim anywhere in
    the corpus. Two shuffles: gram-hash exchange + one doc-keyed window."""
    from cryptocurrency_data_pipeline_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(docs, k=50)


@query(
    "exact_substring_doc_stats",
    # Per-doc duplication accounting over the merged spans — the "how much
    # of this doc is copied text" signal a cut-at-threshold filter uses.
    oracle="""
    WITH pos AS (
      SELECT doc_id, unnest(generate_series(1, length(text) - 49)) AS p, text
      FROM documents WHERE length(text) >= 50
    ), grams AS (
      SELECT doc_id, p, md5(substring(text, p, 50)) AS g FROM pos
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) > 1
    ), hits AS (
      SELECT doc_id, p FROM grams JOIN dup USING (g)
    ), flagged AS (
      SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 50
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ), islands AS (
      SELECT doc_id, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
      FROM flagged
    ), spans AS (
      SELECT doc_id, min(p) AS s, max(p) + 49 AS e
      FROM islands GROUP BY doc_id, isl
    )
    -- doc_id -> n_chars is an ATTRIBUTE lookup: collapse the documents
    -- side to one deterministic row per id (min) before joining, so a
    -- duplicated doc_id neither fans the rollup out nor picks an
    -- arbitrary copy
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(s.e - s.s + 1) AS BIGINT) AS dup_chars,
           round(sum(s.e - s.s + 1) / any_value(d.n_chars), 4) AS dup_ratio
    FROM spans s JOIN (
      SELECT doc_id, min(n_chars) AS n_chars FROM documents GROUP BY doc_id
    ) d ON s.doc_id = d.doc_id
    GROUP BY s.doc_id
    """,
)
def exact_substring_doc_stats(spark, sf_dir):
    """Span inventory rolled up per doc: span count, duplicated chars, and
    duplicated fraction of the doc — the filter signal Lee et al. cut on.
    The doc join is a broadcast of the (small) span rollup against the
    documents scan keyed on doc_id."""
    from cryptocurrency_data_pipeline_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    spans = dedup.exact_substring_spans(docs, k=50)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_chars"),
    )
    # Attribute lookup, not a fan-out: one deterministic n_chars row per
    # doc_id even when the documents table carries duplicated ids.
    attrs = docs.groupBy("doc_id").agg(F.min("n_chars").alias("n_chars"))
    return (
        per_doc.join(attrs, "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "dup_chars",
            F.round(F.col("dup_chars") / F.col("n_chars"), 4).alias("dup_ratio"),
        )
    )


def _zorder_sql_terms(cols: list[str], bits: int = 16) -> str:
    """The exact bit-interleave sum ``maintenance.zorder_key`` builds, as
    ANSI SQL — generated from the same loop so the two can't drift."""
    ndim = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * ndim + d})"
        for i in range(bits)
        for d, c in enumerate(cols)
    ]
    return " + ".join(terms)


@query(
    "zorder_events_locality",
    # Scale each dimension to 16-bit ints off the global min/max (1-row
    # agg), interleave to a Morton key, and report the per-bucket min/max
    # envelope a parquet footer would carry — the data-skipping evidence.
    oracle=f"""
    WITH ev AS (
      -- finite values only: min/max scaling is undefined off a NaN/Inf
      -- envelope (and would NaN every scaled coordinate)
      SELECT user_id, value FROM events WHERE {finite_sql('value')}
    ), stats AS (
      SELECT min(user_id) AS umin, max(user_id) AS umax,
             min(value) AS vmin, max(value) AS vmax
      FROM ev
    ), scaled AS (
      -- a CONSTANT dimension (single tenant / first run) collapses to
      -- coordinate 0 instead of dividing by a zero range
      SELECT user_id, value,
             -- id range in DOUBLE: snowflake-scale ids put umax - umin
             -- past int64 (I64_MAX - I64_MIN overflows BIGINT on both
             -- engines); both sides subtract as doubles, identical IEEE
             CASE WHEN umax = umin THEN 0
                  ELSE least(65535, CAST(floor(((CAST(user_id AS DOUBLE) - umin) / (CAST(umax AS DOUBLE) - CAST(umin AS DOUBLE))) * 65536.0) AS BIGINT)) END AS su,
             CASE WHEN vmax = vmin THEN 0
                  ELSE least(65535, CAST(floor(((value - vmin) / (vmax - vmin)) * 65536.0) AS BIGINT)) END AS sv
      FROM ev, stats
    ), keyed AS (
      SELECT user_id, value, ({_zorder_sql_terms(['su', 'sv'])}) AS z
      FROM scaled
    )
    SELECT CAST(z >> 24 AS BIGINT) AS z_bucket,
           count(*) AS n_rows,
           CAST(min(user_id) AS BIGINT) AS min_user, CAST(max(user_id) AS BIGINT) AS max_user,
           round(min(value), 6) AS min_value, round(max(value), 6) AS max_value
    FROM keyed GROUP BY z_bucket
    """,
)
def zorder_events_locality(spark, sf_dir):
    """Z-order data-skipping layout over events on (user_id, value): the
    per-z-bucket min/max envelope is what parquet footers expose to scan
    pruning — narrow in BOTH dimensions at once, which no single-column
    sort achieves. One 1-row stats agg (broadcast into the plan), map-side
    bit math, one bucket rollup."""
    from cryptocurrency_data_pipeline_spark.operators.maintenance import zorder_key

    ev = (
        t(spark, sf_dir, "events")
        .select("user_id", "value")
        .filter(finite("value"))  # NaN/Inf break min/max scaling
    )
    stats = ev.agg(
        F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
        F.min("value").alias("vmin"), F.max("value").alias("vmax"),
    )
    # A CONSTANT dimension (single tenant / first run) collapses to
    # coordinate 0 instead of ANSI-dividing by a zero range.
    scaled = ev.crossJoin(F.broadcast(stats)).select(
        "user_id",
        "value",
        F.when(F.col("umax") == F.col("umin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(65535),
                # range subtraction in DOUBLE: long umax - umin overflows
                # (ANSI aborts, and I64_MAX - I64_MIN is real at
                # snowflake-id scale); the double form is the identical
                # IEEE op the oracle runs
                F.floor(
                    (
                        (F.col("user_id").cast("double") - F.col("umin"))
                        / (F.col("umax").cast("double") - F.col("umin").cast("double"))
                    )
                    * 65536.0
                ),
            )
        )
        .alias("su"),
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(65535),
                F.floor(((F.col("value") - F.col("vmin")) / (F.col("vmax") - F.col("vmin"))) * 65536.0),
            )
        )
        .alias("sv"),
    )
    keyed = scaled.select(
        "user_id", "value", zorder_key(["su", "sv"]).alias("z")
    )
    return (
        keyed.groupBy(F.shiftright("z", 24).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


@query(
    "hard_negative_mining",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS qv
               FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, label AS n_label,
                      CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS cv
               FROM embeddings),
         s AS (SELECT query_id, neighbor_id, n_label AS neg_label,
                      list_dot_product(qv, cv)
                      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
               FROM q, c WHERE n_label != q_label),
         r AS (SELECT query_id, neighbor_id, neg_label, sim,
                      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
               FROM s)
    SELECT query_id, neighbor_id, neg_label, round(sim, 6) AS cosine_sim
    FROM r WHERE rn <= 5
    """,
)
def hard_negative_mining(spark, sf_dir):
    """Contrastive-training hard negatives: per query vector, the 5 most
    cosine-similar corpus vectors with a different label. Broadcast query
    side, JVM similarity fold, WindowGroupLimit top-k."""
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, emb.filter(F.col("vec_id") < 8), k=5)


@query(
    "doc_char_entropy",
    # H = log2(n) - sum(c*log2(c))/n — the algebraic form needs n only
    # once, so the per-char terms combine map-side without carrying n.
    oracle="""
    WITH pos AS (
      SELECT doc_id, unnest(generate_series(1, length(text))) AS p, text
      FROM documents WHERE length(text) >= 1
    ), chars AS (
      SELECT doc_id, substring(text, p, 1) AS ch FROM pos
    ), counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 6) AS char_entropy
    FROM counts GROUP BY doc_id
    """,
)
def doc_char_entropy(spark, sf_dir):
    """Character-entropy quality signal (low entropy = repetitive/boiler-
    plate, flagged by Gopher-style filters). Char explode → (doc, ch)
    partial-agged counts → per-doc entropy via the single-pass algebraic
    identity. Two shuffles, both with map-side combine on short keys."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    # char_array builds the codepoint array ONCE per row and the explode
    # carries single chars — the position-explode form copied the full
    # parent text onto every exploded row, O(n²) bytes on large docs
    # (~190 s at sfbig vs seconds here).  The length guard matches the
    # oracle's WHERE (both sides skip zero-length text identically).
    counts = (
        docs.where(F.length("text") >= 1)
        .select("doc_id", F.explode(textops.char_array("text")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.round(
            F.log2(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log2(F.col("c").cast("double"))) / F.sum("c"),
            6,
        ).alias("char_entropy"),
    )


@query(
    "rolling_7d_user_value",
    oracle=f"""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           CAST(sum({cents_sql('value', 10000)}) OVER w AS BIGINT)
             AS sum_7d_scaled
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7d_user_value(spark, sf_dir):
    """Rolling 7-day per-user feature (range frame over event time): the
    classic trailing-window feature-engineering shape. One user-keyed
    shuffle; the range frame is evaluated in a single sorted pass per
    partition key."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    # MICROSECOND-exact frame: ordering by epoch SECONDS truncates the
    # sub-second part, so an event 7 days minus a fraction of a second
    # away could fall on the wrong side of the frame boundary vs the
    # oracle's full-precision INTERVAL arithmetic (surfaced at sf0.1).
    # The session is pinned UTC so the timestamp hop is value-preserving.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    # Quantize BEFORE the window sum: a rolling float sum's accumulation
    # order differs between engines, and round(..., 4) straddles a
    # boundary once per-user windows grow (surfaced at sf0.1).  Integer
    # sums are exact and order-independent.
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum(cents("value", 10000))
        .over(w)
        .cast("long")
        .alias("sum_7d_scaled"),
    )


@query(
    "token_budget_curriculum",
    # Quality-ordered corpus assembly under a token budget: quantize the
    # quality score to 100 buckets, cumulative tokens over buckets from
    # best down, keep while under half the corpus tokens. The only
    # ordered structure is the ~100-row bucket rollup.
    oracle=rf"""
    WITH toked AS (
      SELECT *, coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                     t -> t <> ''), []) AS toks
      FROM documents
    ), tk AS (
      SELECT doc_id,
             len(toks) AS n_toks,
             -- blank/null docs score 0.0 outright (quality_score guard)
             round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE (
               least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 1.0))
               + (1.0 - least(abs(CAST(len(list_filter(toks, x -> x IN ('a','the','of','and'))) AS DOUBLE)
                              / len(toks) - 0.1) * 2.0, 1.0))
             ) / 3.0 END, 6) AS q
      FROM toked
    ), buckets AS (
      SELECT {cents_sql('q')} AS qbucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM tk GROUP BY qbucket
    ), cum AS (
      SELECT qbucket, n_docs, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY qbucket DESC) AS BIGINT) AS cum_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens
      FROM buckets
    )
    SELECT qbucket, n_docs, n_tokens, cum_tokens,
           cum_tokens <= CAST(floor(total_tokens * 0.5) AS BIGINT) AS kept
    FROM cum
    """,
)
def token_budget_curriculum(spark, sf_dir):
    """Corpus assembly under a token budget: docs ranked by quality score,
    admitted best-first until half the corpus tokens are spent. Per-doc
    scoring is map-only JVM expressions; the cumulative scan runs over the
    ~100-row quality-bucket rollup, never over docs — so the single-
    partition window is bounded by quantization resolution, not data."""
    from pyspark.sql import Window

    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    per_doc = docs.select(
        cents(F.round(textops.quality_score("text"), 6)).alias("qbucket"),
        textops.token_count("text").alias("n_toks"),
    )
    buckets = per_doc.groupBy("qbucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    w_cum = Window.orderBy(F.col("qbucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return buckets.select(
        "qbucket",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w_cum).cast("long").alias("cum_tokens"),
        (
            F.sum("n_tokens").over(w_cum).cast("long")
            <= F.floor(F.sum("n_tokens").over(w_all) * 0.5).cast("long")
        ).alias("kept"),
    )


@query(
    "bpe_pair_merge_candidates",
    # First round of BPE vocabulary induction: global counts of adjacent
    # char pairs inside whitespace tokens, top-20 merge candidates.
    oracle=r"""
    WITH words AS (
      SELECT unnest(string_split_regex(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+')) AS w
      FROM documents
    ), pos AS (
      SELECT w, unnest(generate_series(1, length(w) - 1)) AS p
      FROM words WHERE length(w) >= 2
    ), pairs AS (
      SELECT substring(w, p, 2) AS pair FROM pos
    ), counts AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n FROM counts ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_pair_merge_candidates(spark, sf_dir):
    """Distributed BPE round: count adjacent symbol pairs within words,
    surface the top-20 merge candidates. Map-side partial agg on 2-char
    keys, one shuffle, TakeOrderedAndProject top-k (no global sort)."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    # Pairs come from a once-split codepoint array per word (explode of
    # small 2-char strings) — the position-explode form copies the whole
    # word onto every exploded row, quadratic on degenerate giant tokens
    # (sfbig carries a single 60,000-char token).
    pairs = (
        docs.select(F.explode(textops.tokens("text")).alias("w"))
        .where(F.length("w") >= 2)
        .select(textops.char_array("w").alias("_c"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_c") - 1),
                    lambda p: F.array_join(F.slice("_c", p, 2), ""),
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@query(
    "incremental_dedup_new_batch",
    # Incremental ingest: sources src0-src4 arrive as the new batch; keep
    # only fingerprints unseen in the standing corpus AND first-in-batch.
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS f
      FROM documents
    ), batch AS (
      SELECT * FROM fp WHERE source IN ('src0','src1','src2','src3','src4')
    ), seen AS (
      SELECT DISTINCT f FROM fp
      WHERE source NOT IN ('src0','src1','src2','src3','src4')
    )
    SELECT min(b.doc_id) AS doc_id, b.f AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_in_batch
    FROM batch b ANTI JOIN seen s ON b.f = s.f
    GROUP BY b.f
    """,
)
def incremental_dedup_new_batch(spark, sf_dir):
    """Incremental exact dedup: a new batch (sources src0-src4) is deduped
    against the standing corpus by normalized fingerprint with a left-anti
    join, then within-batch by keep-lowest-id. At 100 TB the standing side
    is a bucketed fingerprint index; here both sides shuffle on the 32-char
    hash once."""
    from cryptocurrency_data_pipeline_spark.operators.text import fingerprint

    new_sources = ["src0", "src1", "src2", "src3", "src4"]
    docs = t(spark, sf_dir, "documents").withColumn("f", fingerprint("text"))
    batch = docs.where(F.col("source").isin(new_sources))
    seen = docs.where(~F.col("source").isin(new_sources)).select("f").distinct()
    return (
        batch.join(seen, "f", "left_anti")
        .groupBy(F.col("f").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_in_batch"),
        )
        .select("doc_id", "fingerprint", "n_in_batch")
    )


@query(
    "dataset_version_diff",
    # Two synthetic snapshots carved deterministically from documents:
    # v1 drops doc_id%10==0 and carries a stale fingerprint for
    # doc_id%7==0; v2 is the table as-is. The diff classifies every key.
    oracle=r"""
    WITH v2 AS (
      SELECT doc_id,
             md5(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS f
      FROM documents
    ), v1 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN md5(text || '_stale')
                  ELSE md5(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g'))
             END AS f
      FROM documents WHERE doc_id % 10 != 0
    )
    SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           -- presence by KEY, not fingerprint nullness, and a null-safe
           -- compare — mirrors snapshot_diff's presence markers (a null
           -- CONTENT fingerprint must not read as a missing row)
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.f IS DISTINCT FROM v2.f THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           v1.f AS old_fingerprint, v2.f AS new_fingerprint
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def dataset_version_diff(spark, sf_dir):
    """Delta-style snapshot diff (operators/diff.py): one key-partitioned
    full-outer join + fingerprint compare classifying every doc as added/
    removed/changed/unchanged — the gate for incremental re-embedding and
    re-sharding downstream."""
    from cryptocurrency_data_pipeline_spark.operators.diff import snapshot_diff
    from cryptocurrency_data_pipeline_spark.operators.text import fingerprint

    v2 = t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("f")
    )
    v1 = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.md5(F.concat(F.col("text"), F.lit("_stale"))),
            )
            .otherwise(fingerprint("text"))
            .alias("f"),
        )
    )
    return snapshot_diff(v1, v2, key="doc_id", fingerprint="f")


@query(
    "scd2_customer_priority_history",
    # SCD2 first-load chain over per-(customer, day) order priority: keep
    # only rows where the attribute changed vs the previous kept version,
    # then validity-range with lead(); exactly one current row per key.
    oracle="""
    WITH u AS (
      SELECT o_custkey AS custkey, o_orderdate AS eff,
             min(o_orderpriority) AS priority
      FROM orders WHERE o_custkey < 200 AND o_orderdate IS NOT NULL
      GROUP BY 1, 2
    ), flagged AS (
      -- rn (not prev IS NULL) detects the first version, and IS DISTINCT
      -- FROM is the null-safe change test — a NULL attr value must
      -- neither read as "first row" nor collapse as a false no-op
      SELECT custkey, priority, eff,
             lag(priority) OVER (PARTITION BY custkey ORDER BY eff) AS prev,
             row_number() OVER (PARTITION BY custkey ORDER BY eff) AS rn
      FROM u
    ), kept AS (
      SELECT custkey, priority, eff FROM flagged
      WHERE rn = 1 OR priority IS DISTINCT FROM prev
    )
    SELECT custkey, priority,
           strftime(eff, '%Y-%m-%d') AS valid_from,
           strftime(lead(eff) OVER (PARTITION BY custkey ORDER BY eff),
                    '%Y-%m-%d') AS valid_to,
           lead(eff) OVER (PARTITION BY custkey ORDER BY eff) IS NULL AS is_current
    FROM kept
    """,
)
def scd2_customer_priority_history(spark, sf_dir):
    """Type-2 slowly-changing dimension (operators/gold.py:scd2_merge)
    driven through its first-load path: per-(customer, day) order priority
    becomes a validity-ranged history with no-op dates collapsed and one
    is_current row per key — ONE key shuffle for the whole chain rebuild.
    Updates are pre-aggregated to one deterministic row per (key, date)."""
    from cryptocurrency_data_pipeline_spark.operators.gold import scd2_merge

    # An update with no effective date has no place on the validity
    # timeline (and the engines order NULL keys oppositely) — excluded
    # identically on both sides.
    upd = (
        t(spark, sf_dir, "orders")
        .where((F.col("o_custkey") < 200) & F.col("o_orderdate").isNotNull())
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("eff"),
        )
        .agg(F.min("o_orderpriority").alias("priority"))
    )
    hist = scd2_merge(
        None, upd, key="custkey", attrs=["priority"], effective_col="eff"
    )
    return hist.select(
        "custkey",
        "priority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


@query(
    "gopher_quality_flags",
    # Gopher/MassiveText rule battery (Rae et al. 2021, Appendix A1.1),
    # thresholds as published, every rule a JVM/ANSI expression.
    oracle=r"""
    WITH tk AS (
      SELECT doc_id,
             string_split_regex(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+') AS toks,
             string_split(text, chr(10)) AS lines,
             text
      FROM documents
    ), m AS (
      SELECT doc_id,
        len(toks) AS n_words,
        CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
          / len(toks) AS mean_word_len,
        CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) / len(toks)
          AS hash_per_word,
        CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%')) AS DOUBLE)
          / len(lines) AS bullet_frac,
        CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
          / len(lines) AS ellipsis_frac,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(toks) AS alpha_word_frac,
        len(list_distinct(list_filter(toks,
          x -> x IN ('the','be','to','of','and','that','have','with')))) AS n_stopwords
      FROM tk
    )
    SELECT doc_id,
           n_words >= 50 AND n_words <= 100000 AS ok_word_count,
           mean_word_len >= 3 AND mean_word_len <= 10 AS ok_mean_word_len,
           hash_per_word <= 0.1 AS ok_symbol_ratio,
           bullet_frac <= 0.9 AS ok_bullets,
           ellipsis_frac <= 0.3 AS ok_ellipses,
           alpha_word_frac >= 0.8 AS ok_alpha_words,
           n_stopwords >= 2 AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND hash_per_word <= 0.1 AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
            AND n_stopwords >= 2) AS keep
    FROM m
    """,
)
def gopher_quality_flags(spark, sf_dir):
    """The full Gopher rule battery as one map-only pass: word-count
    bounds, mean word length, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, distinct-stopword floor, and the
    conjunctive keep decision. Zero shuffles, zero UDFs — every rule is a
    built-in array/string expression inside whole-stage codegen."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    toks = F.split(textops.fold_lower(F.trim(F.col("text"))), r"\s+")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(toks)
    mean_word_len = (
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_words
    )
    hash_per_word = (
        (F.length("text") - F.length(F.regexp_replace("text", "#", ""))).cast("double")
        / n_words
    )
    bullet_frac = (
        F.size(
            F.filter(
                lines, lambda l: l.startswith("-") | l.startswith("*")
            )
        ).cast("double")
        / F.size(lines)
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double")
        / F.size(lines)
    )
    alpha_word_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.array_distinct(
            F.filter(
                toks,
                lambda x: x.isin(
                    "the", "be", "to", "of", "and", "that", "have", "with"
                ),
            )
        )
    )
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mwl"),
        hash_per_word.alias("hpw"),
        bullet_frac.alias("bf"),
        ellipsis_frac.alias("ef"),
        alpha_word_frac.alias("awf"),
        n_stop.alias("ns"),
    )
    ok = {
        "ok_word_count": (F.col("n_words") >= 50) & (F.col("n_words") <= 100000),
        "ok_mean_word_len": (F.col("mwl") >= 3) & (F.col("mwl") <= 10),
        "ok_symbol_ratio": F.col("hpw") <= 0.1,
        "ok_bullets": F.col("bf") <= 0.9,
        "ok_ellipses": F.col("ef") <= 0.3,
        "ok_alpha_words": F.col("awf") >= 0.8,
        "ok_stopwords": F.col("ns") >= 2,
    }
    keep = F.lit(True)
    for c in ok.values():
        keep = keep & c
    return m.select(
        "doc_id",
        *[c.alias(n) for n, c in ok.items()],
        keep.alias("keep"),
    )


@query(
    "cross_source_dup_audit",
    # Corpus governance: which source pairs copy from each other. The
    # near-dup pair list is the verified-Jaccard MinHash+LSH output
    # (same construction as minhash_near_dups), rolled up per unordered
    # source pair.
    oracle=f"""
    WITH {minhash_sig_ctes()}, {minhash_bands_cte()}, {minhash_cand_cte()}, pairs AS (
      SELECT a_id, b_id,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(list_concat(x.s, y.s))) AS j
      FROM cand JOIN hs x ON cand.a_id = x.doc_id JOIN hs y ON cand.b_id = y.doc_id
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(round(p.j, 6)), 6) AS mean_jaccard
    FROM pairs p
    JOIN documents da ON p.a_id = da.doc_id
    JOIN documents db ON p.b_id = db.doc_id
    WHERE p.j >= 0.1
    GROUP BY source_a, source_b
    """,
)
def cross_source_dup_audit(spark, sf_dir):
    """Cross-source duplication audit: verified MinHash+LSH near-dup pairs
    (operators/dedup.py) joined back to each side's source and rolled up
    per unordered source pair — the governance signal for which feeds copy
    from each other. The source joins broadcast the tiny pair list against
    the docs scan."""
    from cryptocurrency_data_pipeline_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs, threshold=0.1, bands=4, n=3)
    src = docs.select("doc_id", "source")
    enriched = (
        pairs.join(src.withColumnsRenamed({"doc_id": "a_id", "source": "sa"}), "a_id")
        .join(src.withColumnsRenamed({"doc_id": "b_id", "source": "sb"}), "b_id")
    )
    return (
        enriched.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard_sim"), 6).alias("mean_jaccard"),
        )
    )


@query(
    "winsorized_event_stats",
    # Outlier-robust feature stats: clamp to per-group exact [p01, p99]
    # (linear-interpolated percentiles), then aggregate.  The bounds are
    # computed from ORDER STATISTICS with one explicit interpolation
    # expression mirrored verbatim on both engines — NOT via the builtin
    # percentile/quantile_cont pair, whose internal arithmetic differs
    # in the last ulp; with heavy value TIES at the boundary (the sfbig
    # hot-key fixture: thousands of draws from a cents grid) a 1-ulp p99
    # difference flips the strict clamp comparisons for every row tied
    # at the boundary value (n_clamped drifted by 3 there).  IEEE ops
    # are deterministic, so the identical expression tree is
    # bit-identical cross-engine.  rank h = (n-1)*p decomposed in exact
    # integer arithmetic: lo = (n-1)*k div 100, w = ((n-1)*k mod 100)/100
    # for k percent, bound = vlo + w*(vhi - vlo).
    oracle=f"""
    WITH ev AS (
      -- finite values only: a NaN/Inf is unclampable (no magnitude) and
      -- would poison the percentile bounds — it is DLQ material, not a
      -- winsorization input
      SELECT event_type, value FROM events WHERE {finite_sql('value')}
    ), ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ), os AS (
      SELECT event_type, max(n) AS n,
             max(CASE WHEN rn - 1 = ((n-1)*1 - ((n-1)*1) % 100) / 100
                      THEN value END) AS vlo01,
             max(CASE WHEN rn - 1 = least(((n-1)*1 - ((n-1)*1) % 100) / 100 + 1, n - 1)
                      THEN value END) AS vhi01,
             max(CASE WHEN rn - 1 = ((n-1)*99 - ((n-1)*99) % 100) / 100
                      THEN value END) AS vlo99,
             max(CASE WHEN rn - 1 = least(((n-1)*99 - ((n-1)*99) % 100) / 100 + 1, n - 1)
                      THEN value END) AS vhi99
      FROM ranked GROUP BY event_type
    ), b AS (
      SELECT event_type,
             vlo01 + (((n-1)*1) % 100) / 100.0 * (vhi01 - vlo01) AS p01,
             vlo99 + (((n-1)*99) % 100) / 100.0 * (vhi99 - vlo99) AS p99
      FROM os
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(least(greatest(e.value, b.p01), b.p99)), 6) AS wins_mean,
           round(min(least(greatest(e.value, b.p01), b.p99)), 6) AS wins_min,
           round(max(least(greatest(e.value, b.p01), b.p99)), 6) AS wins_max,
           CAST(sum(CASE WHEN e.value < b.p01 OR e.value > b.p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM ev e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorized_event_stats(spark, sf_dir):
    """Winsorization (p01/p99 clamp) per event type: exact interpolated
    percentiles from order statistics in one grouped pass (the
    interpolation expression is mirrored verbatim in the oracle — see
    the oracle comment on why builtin percentile pairs drift an ulp),
    broadcast back onto the scan, clamp and re-aggregate — raw values
    never leave their partition unclamped."""
    ev = t(spark, sf_dir, "events").filter(finite("value"))
    wrank = Window.partitionBy("event_type").orderBy("value")
    wall = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )

    def _lo(k: int):
        idx = (F.col("n") - 1) * k
        return (idx - idx % 100) / 100

    def _stat(cond):
        return F.max(F.when(cond, F.col("value")))

    rn0 = F.col("rn") - 1
    os_ = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        _stat(rn0 == _lo(1)).alias("vlo01"),
        _stat(rn0 == F.least(_lo(1) + 1, F.col("n") - 1)).alias("vhi01"),
        _stat(rn0 == _lo(99)).alias("vlo99"),
        _stat(rn0 == F.least(_lo(99) + 1, F.col("n") - 1)).alias("vhi99"),
    )

    def _interp(vlo, vhi, k: int):
        w = ((F.col("n") - 1) * k % 100) / 100.0
        return F.col(vlo) + w * (F.col(vhi) - F.col(vlo))

    bounds = os_.select(
        "event_type",
        _interp("vlo01", "vhi01", 1).alias("p01"),
        _interp("vlo99", "vhi99", 99).alias("p99"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias("w"),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99"))).alias("clipped"),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("w"), 6).alias("wins_mean"),
        F.round(F.min("w"), 6).alias("wins_min"),
        F.round(F.max("w"), 6).alias("wins_max"),
        F.sum(F.when(F.col("clipped"), 1).otherwise(0)).cast("long").alias("n_clamped"),
    )


@query(
    "pagerank_doc_graph",
    # Deterministic doc graph (per-source id chains + per-language hubs),
    # 3 unrolled PageRank iterations, d = 0.85 — the oracle replays the
    # exact fixed-iteration recurrence.
    oracle="""
    WITH chain AS (
      SELECT doc_id AS s,
             lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS t
      FROM documents
    ), hubs AS (
      SELECT lang, min(doc_id) AS m FROM documents GROUP BY lang
    ), hub AS (
      SELECT d.doc_id AS s, h.m AS t
      FROM documents d JOIN hubs h USING (lang) WHERE d.doc_id != h.m
    ), raw AS (
      SELECT s, t FROM chain WHERE t IS NOT NULL
      UNION ALL SELECT s, t FROM hub
    ), sym AS (
      SELECT DISTINCT a, b FROM (
        SELECT s AS a, t AS b FROM raw UNION ALL SELECT t AS a, s AS b FROM raw
      )
    ), nodes AS (
      SELECT DISTINCT a AS node FROM sym
    ), nc AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), deg AS (
      SELECT a AS node, CAST(count(*) AS DOUBLE) AS deg FROM sym GROUP BY a
    ), r0 AS (
      SELECT node, 1.0 / nc.n AS rank FROM nodes, nc
    ), r1 AS (
      SELECT nd.node, 0.15 / nc.n + 0.85 * coalesce(s.x, 0) AS rank
      FROM nodes nd
      LEFT JOIN (SELECT e.b AS node, sum(r.rank / d.deg) AS x
                 FROM sym e JOIN r0 r ON e.a = r.node JOIN deg d ON e.a = d.node
                 GROUP BY e.b) s ON nd.node = s.node, nc
    ), r2 AS (
      SELECT nd.node, 0.15 / nc.n + 0.85 * coalesce(s.x, 0) AS rank
      FROM nodes nd
      LEFT JOIN (SELECT e.b AS node, sum(r.rank / d.deg) AS x
                 FROM sym e JOIN r1 r ON e.a = r.node JOIN deg d ON e.a = d.node
                 GROUP BY e.b) s ON nd.node = s.node, nc
    ), r3 AS (
      SELECT nd.node, 0.15 / nc.n + 0.85 * coalesce(s.x, 0) AS rank
      FROM nodes nd
      LEFT JOIN (SELECT e.b AS node, sum(r.rank / d.deg) AS x
                 FROM sym e JOIN r2 r ON e.a = r.node JOIN deg d ON e.a = d.node
                 GROUP BY e.b) s ON nd.node = s.node, nc
    )
    SELECT node AS doc_id, round(rank, 6) AS pagerank FROM r3
    """,
)
def pagerank_doc_graph(spark, sf_dir):
    """PageRank (operators/graph.py:pagerank) over a deterministic doc
    graph: per-source consecutive-id chains plus per-language hub edges —
    hubs accumulate authority, chain interiors stay near the base rate.
    Fixed 3 iterations, one shuffle join + one combinable sum per round."""
    from pyspark.sql import Window

    from cryptocurrency_data_pipeline_spark.operators.graph import pagerank

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    chain = (
        docs.select("doc_id", F.lead("doc_id").over(w).alias("t"))
        .where(F.col("t").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("t").alias("dst"))
    )
    hubs = docs.groupBy("lang").agg(F.min("doc_id").alias("m"))
    hub = (
        docs.join(F.broadcast(hubs), "lang")
        .where(F.col("doc_id") != F.col("m"))
        .select(F.col("doc_id").alias("src"), F.col("m").alias("dst"))
    )
    ranks = pagerank(chain.unionByName(hub), damping=0.85, iters=3)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("pagerank")
    )


@query(
    "wav_decode_rollup",
    # Real audio format end-to-end: RIFF/WAVE payloads are byte-assembled
    # JVM-side (little-endian fields via hex-pair reversal + unhex),
    # decoded through the pure-python chunk walker inside mapInPandas,
    # and rolled up; the oracle replays the expected fields directly.
    # NULL payload inputs -> no container -> the doc lands in the
    # (NULL, NULL) decode group, not a real (rate, channels) bucket.
    oracle="""
    WITH ok AS (
      SELECT *, (n_chars IS NOT NULL AND doc_id IS NOT NULL) AS built
      FROM documents
    )
    SELECT CAST(CASE WHEN built THEN 8000 * (1 + doc_id % 3) END AS INT)
             AS sample_rate,
           CAST(CASE WHEN built THEN 1 + doc_id % 2 END AS INT) AS channels,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(CASE WHEN built THEN 100 + n_chars % 400 END) AS BIGINT)
             AS total_samples,
           round(CAST(sum(CASE WHEN built THEN 100 + n_chars % 400 END)
                      AS DOUBLE) / sample_rate, 6) AS total_seconds
    FROM ok GROUP BY sample_rate, channels
    """,
)
def wav_decode_rollup(spark, sf_dir):
    """Audio pipeline on a REAL format: documents → RIFF/WAVE (PCM fmt +
    data chunks, LE fields built with multimodal.le_hex) → mapInPandas
    chunk-walk decode (multimodal._parse_wav) → per-(rate, channels)
    duration rollup."""
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8000) * (F.lit(1) + F.col("doc_id") % 3)).cast("long").alias("rate"),
        (F.lit(1) + F.col("doc_id") % 2).cast("long").alias("channels"),
        (F.lit(100) + F.col("n_chars") % 400).cast("long").alias("n_samples"),
    ).withColumn("block", F.col("channels") * 2).withColumn(  # 16-bit PCM
        "data_size", F.col("n_samples") * F.col("block")
    )
    payload = F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"),
        F.unhex(mm.le_hex(F.lit(36) + F.col("data_size"), 4)),
        F.encode(F.lit("WAVEfmt "), "UTF-8"),
        F.unhex(mm.le_hex(F.lit(16), 4)),     # fmt chunk size
        F.unhex(mm.le_hex(F.lit(1), 2)),      # PCM
        F.unhex(mm.le_hex(F.col("channels"), 2)),
        F.unhex(mm.le_hex(F.col("rate"), 4)),
        F.unhex(mm.le_hex(F.col("rate") * F.col("block"), 4)),  # byte rate
        F.unhex(mm.le_hex(F.col("block"), 2)),
        F.unhex(mm.le_hex(F.lit(16), 2)),     # bits per sample
        F.encode(F.lit("data"), "UTF-8"),
        F.unhex(mm.le_hex(F.col("data_size"), 4)),
        F.encode(F.expr("repeat(' ', data_size)"), "UTF-8"),
    )
    media = mm.media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "audio", "p"
    )
    meta = mm.decode_audio_meta(media)
    return (
        meta.groupBy("sample_rate", "channels")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_samples").cast("long").alias("total_samples"),
        )
        .select(
            "sample_rate",
            "channels",
            "n_media",
            "total_samples",
            # Integer-sum first, ONE division after: rate is constant per
            # group, so both engines divide identical exact integers (a
            # per-row double sum rounds differently across engines).
            F.round(
                F.col("total_samples").cast("double") / F.col("sample_rate"), 6
            ).alias("total_seconds"),
        )
    )


@query(
    "lang_id_confusion",
    # Measured lang-id quality: confusion matrix of the n-gram heuristic
    # against the dataset's ground-truth lang column, with per-cell
    # recall within the true language.
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, lang,
             string_split_regex(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
        len(list_filter(toks, x -> x IN ('the','and','of'))) AS s_en,
        len(list_filter(toks, x -> x IN ('le','la','et'))) AS s_fr,
        len(list_filter(toks, x -> x IN ('der','und','das'))) AS s_de,
        len(list_filter(toks, x -> x IN ('el','los','y'))) AS s_es,
        len(list_filter(toks, x -> x IN ('的','是','了'))) AS s_zh
      FROM tk
    ), pred AS (
      SELECT doc_id, lang,
        CASE
          WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh AND s_en > 0 THEN 'en'
          WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
          WHEN s_de >= s_es AND s_de >= s_zh AND s_de > 0 THEN 'de'
          WHEN s_es >= s_zh AND s_es > 0 THEN 'es'
          WHEN s_zh > 0 THEN 'zh'
          ELSE 'und' END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY lang), 6) AS frac_of_true
    FROM pred GROUP BY lang, lang_pred
    """,
)
def lang_id_confusion(spark, sf_dir):
    """Language-ID evaluated, not asserted: confusion matrix of
    text.lang_id against the corpus ground truth, one grouped pass plus a
    tiny per-language window for row-normalized recall."""
    from pyspark.sql import Window

    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    pred = docs.select("lang", textops.lang_id("text").alias("lang_pred"))
    cell = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "frac_of_true"
        ),
    )


@query(
    "mad_outlier_events",
    # Robust outliers: |value - median| > 5 * MAD per event type, both
    # statistics exact interpolated percentiles.
    oracle=f"""
    WITH ev AS (
      -- finite values only: NaN/Inf would shift the exact medians and
      -- flag themselves with a meaningless score — DLQ material
      SELECT event_id, event_type, value FROM events WHERE {finite_sql('value')}
    ), med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM ev GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
      FROM ev e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 6) AS value,
           round(abs(e.value - med.m) / mad.d, 6) AS mad_score
    FROM ev e
    JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(e.value - med.m) > 5 * mad.d
    """,
)
def mad_outlier_events(spark, sf_dir):
    """Median-absolute-deviation outliers per event type — the robust
    alternative to z-scores (median/MAD are unmoved by the outliers they
    hunt). Two grouped exact-percentile passes over the same key, both
    results broadcast back onto the scan; no full-data window."""
    ev = t(spark, sf_dir, "events").filter(finite("value"))
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("d")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("value") - F.col("m")) > 5 * F.col("d"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(F.abs(F.col("value") - F.col("m")) / F.col("d"), 6).alias(
                "mad_score"
            ),
        )
    )


@query(
    "chunk_retrieval_topk",
    # RAG prep composite: chunk the corpus, score chunks against probe
    # strings by token-set Jaccard, return top-3 per probe. Probes are
    # spans lifted from docs 0-2, so self-retrieval is the sanity floor.
    oracle=r"""
    WITH s AS (
      SELECT doc_id, text,
             generate_series(1, greatest(length(text) - 20, 1), 80) AS starts
      FROM documents
    ), chunks AS (
      SELECT doc_id, unnest(starts) AS pos,
             substr(text, unnest(starts), 100) AS chunk
      FROM s
    ), probes AS (
      SELECT doc_id AS query_id,
             list_distinct(string_split_regex(replace(lower(replace(trim(substr(text, 41, 120)), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+')) AS q
      FROM documents WHERE doc_id < 3
    ), ct AS (
      SELECT doc_id, pos,
             list_distinct(string_split_regex(replace(lower(replace(trim(chunk), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+')) AS c
      FROM chunks
    ), scored AS (
      SELECT p.query_id, ct.doc_id, ct.pos,
             round(CAST(len(list_intersect(p.q, ct.c)) AS DOUBLE)
                   / len(list_distinct(list_concat(p.q, ct.c))), 6) AS jac
      FROM probes p, ct
    ), ranked AS (
      SELECT query_id, doc_id, pos, jac,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY jac DESC, doc_id, pos) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, pos, jac FROM ranked WHERE rn <= 3
    """,
)
def chunk_retrieval_topk(spark, sf_dir):
    """Chunk-level retrieval (the RAG ingestion path end-to-end):
    text.chunk_docs windows → token-set Jaccard against a broadcast probe
    set → per-probe top-3 as a WindowGroupLimit. Probes are spans of docs
    0-2, so each probe's own chunk must surface."""
    from pyspark.sql import Window

    from cryptocurrency_data_pipeline_spark.operators import dedup
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    chunks = textops.chunk_docs(docs, size=100, stride=80).select(
        "doc_id", "pos", F.array_distinct(textops.tokens("chunk")).alias("c")
    )
    probes = (
        docs.where(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_distinct(
                textops.tokens(F.col("text").substr(F.lit(41), F.lit(120)))
            ).alias("q"),
        )
    )
    scored = chunks.crossJoin(F.broadcast(probes)).select(
        "query_id",
        "doc_id",
        "pos",
        F.round(dedup.jaccard(F.col("q"), F.col("c")), 6).alias("jac"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jac").desc(), "doc_id", "pos"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
        .select("query_id", "doc_id", "pos", "jac")
    )


@query(
    "y4m_decode_rollup",
    # Real video container end-to-end: 4x4 Y4M streams (ASCII header +
    # FRAME sections, 24 bytes of 4:2:0 planes each) assembled in-engine,
    # frame-walked in mapInPandas, rolled up by framerate.
    oracle="""
    SELECT CAST(CASE WHEN doc_id % 2 = 0 THEN 25 ELSE 30 END AS INT) AS fps_num,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(1 + doc_id % 5) AS BIGINT) AS total_frames,
           round(CAST(sum(1 + doc_id % 5) AS DOUBLE) / fps_num, 6)
             AS total_seconds
    FROM documents GROUP BY fps_num
    """,
)
def y4m_decode_rollup(spark, sf_dir):
    """Video pipeline on a REAL container (YUV4MPEG2): per-doc streams are
    byte-assembled JVM-side (ASCII header, repeated FRAME sections sized
    by the 4:2:0 plane math), frame-counted by the pure-python walker in
    mapInPandas, and rolled up into per-framerate duration accounting."""
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, 25).otherwise(30).alias("fps"),
        (F.lit(1) + F.col("doc_id") % 5).cast("int").alias("nf"),
    )
    frame = F.concat(F.lit("FRAME\n"), F.repeat(F.lit("x"), 4 * 4 * 3 // 2))
    payload = F.encode(
        F.concat(
            F.lit("YUV4MPEG2 W4 H4 F"),
            F.col("fps").cast("string"),
            F.lit(":1 Ip A1:1\n"),
            F.repeat(frame, F.col("nf")),
        ),
        "UTF-8",
    )
    media = mm.media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "video", "p"
    )
    meta = mm.decode_video_meta(media)
    return (
        meta.groupBy("fps_num")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_frames").cast("long").alias("total_frames"),
        )
        .select(
            "fps_num",
            "n_media",
            "total_frames",
            F.round(
                F.col("total_frames").cast("double") / F.col("fps_num"), 6
            ).alias("total_seconds"),
        )
    )


@query(
    "stratified_exact_k_sample",
    # Exactly k docs per source, rank by md5 (deterministic, engine- and
    # retry-stable) — complements the threshold-based stratified sampler,
    # which holds the RATE but not the count.
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 3
    """,
)
def stratified_exact_k_sample(spark, sf_dir):
    """Exact-k-per-stratum sample: md5-ranked row_number per source, k=3.
    Compiles to a partial WindowGroupLimit — map tasks forward at most k
    rows per stratum before the shuffle, so the sample cost is O(k) per
    partition per key, not a full sort."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where("rn <= 3")
        .select("doc_id", "source")
    )


@query(
    "join_key_skew_report",
    # Pre-join diagnostics: the top-20 hottest customer keys in orders and
    # each key's share of all rows — what decides salting/AQE-skew config
    # before a fact-fact join.
    oracle="""
    WITH c AS (
      SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM c)
    SELECT key, n, round(n / tot.t, 6) AS share
    FROM c, tot ORDER BY n DESC, key LIMIT 20
    """,
)
def join_key_skew_report(spark, sf_dir):
    """Join-key skew diagnostics: per-key frequencies (map-side combined),
    total as a 1-row broadcast, top-20 via TakeOrderedAndProject — the
    report that sizes salting factors before a 100 TB fact-fact join."""
    orders = t(spark, sf_dir, "orders")
    counts = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("double").alias("t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select("key", "n", F.round(F.col("n") / F.col("t"), 6).alias("share"))
        .orderBy(F.col("n").desc(), "key")
        .limit(20)
    )


