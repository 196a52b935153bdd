"""Web/archive ingestion, media walkers, stats families (epoch 4): WARC/
ZIP/tar ingest reports, MP3/MP4/TIFF/OGG/AVI/ICO rollups, Benford and
distribution audits, fuzzy joins, sampling and shard layouts.

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
from cryptocurrency_data_pipeline_spark.operators.quantize import cents, epoch_sec, finite  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._fragments import cents_sql, epoch_sec_sql  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._registry import query, t  # noqa: F401
from cryptocurrency_data_pipeline_spark.sources.tables import load_table  # noqa: F401

# --------------------------------------------------------------------------
# Media-directory ingestion END-TO-END (operators/multimodal.py
# media_dir_table): the binaryFile source earns a driver row.  The query
# first materializes a deterministic mixed-media directory — conforming
# PNG/GIF/WAV files built from part keys, written from EXECUTORS via
# foreachPartition (no driver I/O) — then ingests it back through the
# parallel-listing binaryFile source and dispatches each file to its
# real decoder by extension.  Per-kind checksums are the decoders' exact
# integer stats, so listing, payload transport, dispatch, and all three
# codecs sit on the driver-hash path.  The oracle computes every
# checksum from the generating formulas alone.
# --------------------------------------------------------------------------

@query(
    "media_ingest_report",
    oracle="""
    WITH keys AS (
      -- DISTINCT: the engine writes one FILE per key (same key -> same
      -- name -> idempotent overwrite), so a duplicated part table still
      -- lands one media file per distinct key
      SELECT DISTINCT p_partkey AS k FROM part WHERE p_partkey < 120
    ), png AS (
      SELECT 'png' AS kind, count(*) AS n_media,
             CAST(sum(list_sum(list_transform(
               generate_series(0, (1 + k % 8) * (1 + k % 5) - 1),
               i -> (7 * k + i) % 256))) AS BIGINT) AS checksum
      FROM keys WHERE k % 3 = 0
    ), gif AS (
      SELECT 'gif' AS kind, count(*) AS n_media,
             CAST(sum(list_sum(list_transform(
               generate_series(0, (1 + k % 7) * (1 + k % 4) - 1),
               i -> ((5 * k + 7 * ((3 * k + i) % (4 + k % 5))) % 256)
                  + ((3 + 11 * ((3 * k + i) % (4 + k % 5))) % 256)
                  + ((k + 13 * ((3 * k + i) % (4 + k % 5))) % 256))))
               AS BIGINT) AS checksum
      FROM keys WHERE k % 3 = 1
    ), wav AS (
      SELECT 'wav' AS kind, count(*) AS n_media,
             CAST(sum(list_sum(list_transform(
               generate_series(0, 50 + k % 97 - 1),
               i -> ((7 * k + 3 * i) % 4001 - 2000)
                  * ((7 * k + 3 * i) % 4001 - 2000)))) AS BIGINT)
               AS checksum
      FROM keys WHERE k % 3 = 2
    )
    SELECT * FROM png UNION ALL SELECT * FROM gif UNION ALL
    SELECT * FROM wav
    """,
)
def media_ingest_report(spark, sf_dir):
    """binaryFile-source round trip: executor-written mixed media dir →
    parallel-listing ingest → per-extension decoder dispatch → exact
    integer checksums per kind."""
    import os

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    out_dir = os.path.join(
        "/tmp",
        f"spark_graft_media_{os.path.basename(str(sf_dir).rstrip('/'))}_{os.getpid()}",
    )
    os.makedirs(out_dir, exist_ok=True)

    keys = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k")
    ).where(F.col("k") < 120)

    def write_partition(rows):
        # Executor-side writes (local[N] shares the FS; a cluster points
        # this at shared storage).  Same key -> same bytes, so re-runs
        # are idempotent overwrites.
        for r in rows:
            k = int(r.k)
            if k % 3 == 0:
                w, h = 1 + k % 8, 1 + k % 5
                payload = mm.encode_png(
                    w, h, bytes((7 * k + i) % 256 for i in range(w * h))
                )
                name = f"media_{k}.png"
            elif k % 3 == 1:
                w, h, nc = 1 + k % 7, 1 + k % 4, 4 + k % 5
                palette = [
                    ((5 * k + 7 * j) % 256, (3 + 11 * j) % 256, (k + 13 * j) % 256)
                    for j in range(nc)
                ]
                idx = bytes((3 * k + i) % nc for i in range(w * h))
                payload = mm.encode_gif(w, h, idx, palette)
                name = f"media_{k}.gif"
            else:
                n = 50 + k % 97
                samples = [((7 * k + 3 * i) % 4001) - 2000 for i in range(n)]
                payload = mm.encode_wav(8000, samples)
                name = f"media_{k}.wav"
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(payload)

    keys.foreachPartition(write_partition)

    media = mm.media_dir_table(spark, out_dir, "mixed", glob="media_*")
    ext = F.element_at(F.split(F.col("src_path"), r"\."), -1)
    tagged = media.withColumn("ext", ext)
    png = mm.decode_png_stats(tagged.where(F.col("ext") == "png"))
    gif = mm.decode_gif_stats(tagged.where(F.col("ext") == "gif"))
    wav = mm.decode_audio_features(tagged.where(F.col("ext") == "wav"))

    def rollup(df, kind, col):
        return df.agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum(col).cast("long").alias("checksum"),
        ).select(F.lit(kind).alias("kind"), "n_media", "checksum")

    return (
        rollup(png, "png", "pixel_sum")
        .unionByName(rollup(gif, "gif", "rgb_sum"))
        .unionByName(rollup(wav, "wav", "sum_sq"))
    )


# --------------------------------------------------------------------------
# ANIMATED GIF decode (operators/multimodal.py decode_gif_frames): the
# compressed MULTI-FRAME path — every frame is an independent LZW
# stream walked in sequence (intra-only video shape), with extension
# blocks (GCE, NETSCAPE loop) skipped and per-frame color tables
# honored.  The rollup folds exact index/RGB sums across ALL frames, so
# the frame walk itself is on the driver-hash path; the oracle is the
# nested generating-formula sum, no codec needed.
# --------------------------------------------------------------------------

@query(
    "gif_anim_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(1 + p_partkey % 5 AS INT) AS w,
             CAST(1 + p_partkey % 3 AS INT) AS h,
             CAST(1 + p_partkey % 4 AS INT) AS nf
      FROM part
    ), stats AS (
      SELECT k, w, h, nf,
             CAST(list_sum(list_transform(generate_series(0, nf - 1),
               fr -> list_sum(list_transform(generate_series(0, w * h - 1),
                 i -> (3 * k + 5 * fr + i) % 4)))) AS BIGINT) AS isum,
             CAST(list_sum(list_transform(generate_series(0, nf - 1),
               fr -> list_sum(list_transform(generate_series(0, w * h - 1),
                 i -> ((2 * k + 9 * ((3 * k + 5 * fr + i) % 4)) % 256)
                    + ((7 + 5 * ((3 * k + 5 * fr + i) % 4)) % 256)
                    + ((k + 3 * ((3 * k + 5 * fr + i) % 4)) % 256)))))
               AS BIGINT) AS rsum
      FROM f
    )
    SELECT nf AS n_frames,
           count(*) AS n_media,
           CAST(sum(w * h) AS BIGINT) AS sum_pixels_per_frame,
           CAST(sum(isum) AS BIGINT) AS sum_indices,
           CAST(sum(rsum) AS BIGINT) AS sum_rgb
    FROM stats GROUP BY nf
    """,
)
def gif_anim_rollup(spark, sf_dir):
    """Animated-GIF pipeline: part keys → multi-frame GIF89a files
    (per-frame LZW streams, GCE + loop extension) → full frame-walk
    decode → exact all-frames index/RGB rollup by frame count."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k"),
        (F.lit(1) + F.col("p_partkey") % 5).cast("int").alias("w"),
        (F.lit(1) + F.col("p_partkey") % 3).cast("int").alias("h"),
        (F.lit(1) + F.col("p_partkey") % 4).cast("int").alias("nf"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                palette = [
                    ((2 * k + 9 * j) % 256, (7 + 5 * j) % 256, (k + 3 * j) % 256)
                    for j in range(4)
                ]
                frames = [
                    bytes((3 * k + 5 * fr + i) % 4 for i in range(r.w * r.h))
                    for fr in range(r.nf)
                ]
                rows.append((k, mm.encode_gif_anim(r.w, r.h, frames, palette)))
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "video", "payload")
    stats = mm.decode_gif_anim_stats(media)
    return stats.groupBy(F.col("n_frames")).agg(
        F.count(F.lit(1)).alias("n_media"),
        (F.sum(F.col("width") * F.col("height")))
        .cast("long")
        .alias("sum_pixels_per_frame"),
        F.sum("index_sum").cast("long").alias("sum_indices"),
        F.sum("rgb_sum").cast("long").alias("sum_rgb"),
    )


# --------------------------------------------------------------------------
# REAL baseline JPEG decode (operators/jpeg.py): the last image format
# out from behind the stub — full entropy decode (canonical Huffman
# tables built from the file's own DHT, 0xFF00 unstuffing, DC
# prediction, AC RLE/EOB/ZRL, dezigzag, dequant, IDCT).  The producer
# emits BLOCK-CONSTANT images, which round-trip bit-exactly (DC-only
# blocks with quant step 8 — see the module's exactness contract), so
# the decoded pixel sums are formula-computable and the whole entropy
# pipeline sits on the driver hash.  The lossy AC path is covered by
# unit tests.
# --------------------------------------------------------------------------

@query(
    "jpeg_decode_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             (1 + p_partkey % 3) AS wb,
             (1 + p_partkey % 2) AS hb
      FROM part
    ), s AS (
      SELECT k, CAST(wb * 8 AS INT) AS width, CAST(hb * 8 AS INT) AS height,
             CAST(64 * list_sum(list_transform(
               generate_series(0, wb * hb - 1),
               b -> (17 * k + 31 * b) % 256)) AS BIGINT) AS psum
      FROM f
    )
    SELECT width, height,
           count(*) AS n_images,
           CAST(sum(psum) AS BIGINT) AS sum_pixels
    FROM s GROUP BY width, height
    """,
)
def jpeg_decode_rollup(spark, sf_dir):
    """Real-JPEG pipeline: part keys → block-constant grayscale JPEGs
    (FDCT + quantize + Huffman, producer mapInPandas) → full entropy
    decode → exact pixel-sum rollup by decoded dimensions."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import jpeg as J
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    # The key rows are a few bytes but the per-row encode+decode work is
    # heavy python: spread the SMALL side across the cluster BEFORE the
    # pandas stages, or the decode parallelism collapses to the parquet
    # split count (1-2 partitions at this table size).
    parts = (
        t(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").cast("long").alias("k"),
            (F.lit(1) + F.col("p_partkey") % 3).cast("int").alias("wb"),
            (F.lit(1) + F.col("p_partkey") % 2).cast("int").alias("hb"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k, wb, hb = int(r.k), int(r.wb), int(r.hb)
                w, h = wb * 8, hb * 8
                px = bytearray(w * h)
                for by in range(hb):
                    for bx in range(wb):
                        c = (17 * k + 31 * (by * wb + bx)) % 256
                        for y in range(8):
                            row = (by * 8 + y) * w + bx * 8
                            px[row : row + 8] = bytes([c]) * 8
                rows.append((k, J.encode_jpeg_gray(w, h, bytes(px))))
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "image", "payload")
    stats = J.decode_jpeg_stats(media)
    return stats.groupBy("width", "height").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("pixel_sum").cast("long").alias("sum_pixels"),
    )


# --------------------------------------------------------------------------
# Text → vector bridge (text.hashed_doc_vectors): the feature-hashing
# vectorizer (sklearn HashingVectorizer semantics, md5 buckets) turns
# raw documents into dense L2-normalized embeddings with ONE
# (doc, bucket) shuffle and zero Python — then the whole ANN stack
# (cosine / SRP / IVF / PQ) applies to corpora that ship no model
# embeddings.  This query drives the output straight into the exact
# cosine top-k searcher over 3 document probes.
# --------------------------------------------------------------------------

@query(
    "hashed_vector_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket
      FROM documents,
           unnest(string_split(
             regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '))
             AS u(tok)
    ), cnt AS (
      SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS c
      FROM tok GROUP BY doc_id, bucket
    ), grid AS (
      SELECT d.doc_id, g.i, coalesce(c.c, 0.0) AS x
      FROM (SELECT DISTINCT doc_id FROM cnt) d
      CROSS JOIN unnest(generate_series(0, 63)) g(i)
      LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bucket = g.i
    ), vec AS (
      SELECT doc_id, list(x ORDER BY i) AS v FROM grid GROUP BY doc_id
    ), nv AS (
      SELECT doc_id,
             list_transform(v,
               x -> round(x / sqrt(list_dot_product(v, v)), 9)) AS v
      FROM vec
    ), scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             list_dot_product(q.v, c.v)
             / (sqrt(list_dot_product(q.v, q.v))
                * sqrt(list_dot_product(c.v, c.v))) AS sim
      FROM nv q, nv c WHERE q.doc_id < 3 AND c.doc_id != q.doc_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM scored) WHERE rn <= 10
    """,
)
def hashed_vector_topk(spark, sf_dir):
    """Vectorize documents with the hashing trick (64-dim, JVM-only),
    then exact cosine top-10 for 3 document probes — similarity search
    with no model embeddings anywhere."""
    from cryptocurrency_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )
    from cryptocurrency_data_pipeline_spark.operators.text import (
        hashed_doc_vectors,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = caching.persist(hashed_doc_vectors(docs, dim=64))
    probes = vecs.filter(F.col("doc_id") < 3)
    return cosine_topk(vecs, probes, k=10, id_col="doc_id")


# --------------------------------------------------------------------------
# Time-series similarity search (operators/timeseries.py): per-user
# event-value series → z-norm → PAA sketches → top-k nearest series per
# probe — the EDBT'19/REPOSE capability family on DataFrames.  Every
# float step is an element-order fold over a totally-ordered array, so
# the whole chain is bit-identical across engines with no intermediate
# rounding.
# --------------------------------------------------------------------------

@query(
    "ts_paa_similarity_topk",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS series
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ), sized AS (
      SELECT user_id, series, len(series) AS n
      FROM pts WHERE len(series) >= 16
    ), m1 AS (
      SELECT user_id, n, series, list_sum(series) / n AS mu FROM sized
    ), m2 AS (
      SELECT user_id, n, series, mu,
             sqrt(list_sum(list_transform(series,
               x -> (x - mu) * (x - mu))) / n) AS sd
      FROM m1
    ), zn AS (
      SELECT user_id, n,
             CASE WHEN sd > 0
                  THEN list_transform(series, x -> (x - mu) / sd)
                  ELSE list_transform(series, x -> 0.0 * x) END AS z
      FROM m2
    ), sk AS (
      SELECT user_id,
             list_transform(generate_series(0, 7), j ->
               list_sum(list_slice(z,
                 CAST(floor(j * n / 8) AS INT) + 1,
                 CAST(floor((j + 1) * n / 8) AS INT)))
               / (CAST(floor((j + 1) * n / 8) AS INT)
                  - CAST(floor(j * n / 8) AS INT))) AS sketch
      FROM zn
    ), probes AS (
      SELECT user_id AS probe_id, sketch AS qs
      FROM sk ORDER BY probe_id LIMIT 3
    ), sc AS (
      SELECT p.probe_id, s.user_id,
             round(list_sum(list_transform(generate_series(1, 8),
               d -> (s.sketch[d] - p.qs[d]) * (s.sketch[d] - p.qs[d]))), 6)
               AS paa_dist
      FROM sk s, probes p WHERE s.user_id != p.probe_id
    )
    SELECT probe_id, user_id AS neighbor_id, paa_dist,
           CAST(rn AS INT) AS rank
    FROM (
      SELECT probe_id, user_id, paa_dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY paa_dist, user_id) AS rn
      FROM sc) WHERE rn <= 5
    """,
)
def ts_paa_similarity_topk(spark, sf_dir):
    """Top-5 most-similar user value series per probe (3 lowest
    qualifying user ids) by squared-L2 over 8-segment PAA sketches of
    the z-normalized series."""
    from cryptocurrency_data_pipeline_spark.operators import timeseries as T

    # A NULL-ts point has no position in the series (and the engines
    # place NULL sort keys on opposite ends) — excluded on both sides.
    events = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    series = T.value_series(events, min_len=16)
    sk = T.znorm_frame(series).select(
        "user_id",
        T.paa(F.col("z"), F.col("n"), 8).alias("sketch"),
    )
    sk = caching.persist(sk)
    probes = sk.orderBy("user_id").limit(3)
    return T.paa_topk(sk, probes, k=5)


# --------------------------------------------------------------------------
# SAX motif grouping (timeseries.sax_word): PAA sketches symbolized
# into SAX words over the N(0,1) quartile alphabet — the time-series
# analogue of an LSH bucket.  Series sharing a word are candidate
# motifs, found with a plain groupBy (no pairwise scan anywhere) —
# the indexing complement to ts_paa_similarity_topk's search.
# --------------------------------------------------------------------------

@query(
    "sax_motif_groups",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS series
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ), sized AS (
      SELECT user_id, series, len(series) AS n
      FROM pts WHERE len(series) >= 16
    ), m1 AS (
      SELECT user_id, n, series, list_sum(series) / n AS mu FROM sized
    ), m2 AS (
      SELECT user_id, n, series, mu,
             sqrt(list_sum(list_transform(series,
               x -> (x - mu) * (x - mu))) / n) AS sd
      FROM m1
    ), zn AS (
      SELECT user_id, n,
             CASE WHEN sd > 0
                  THEN list_transform(series, x -> (x - mu) / sd)
                  ELSE list_transform(series, x -> 0.0 * x) END AS z
      FROM m2
    ), sk AS (
      SELECT user_id,
             list_transform(generate_series(0, 7), j ->
               list_sum(list_slice(z,
                 CAST(floor(j * n / 8) AS INT) + 1,
                 CAST(floor((j + 1) * n / 8) AS INT)))
               / (CAST(floor((j + 1) * n / 8) AS INT)
                  - CAST(floor(j * n / 8) AS INT))) AS sketch
      FROM zn
    ), words AS (
      SELECT user_id,
             array_to_string(list_transform(sketch,
               x -> CASE WHEN x < -0.6745 THEN 'a'
                         WHEN x < 0.0 THEN 'b'
                         WHEN x < 0.6745 THEN 'c'
                         ELSE 'd' END), '') AS sax
      FROM sk
    )
    SELECT sax, count(*) AS n_series,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM words GROUP BY sax
    """,
)
def sax_motif_groups(spark, sf_dir):
    """Group user value series by their 8-symbol SAX word (alphabet 4):
    shared words are motif candidates, discovered with one groupBy."""
    from cryptocurrency_data_pipeline_spark.operators import timeseries as T

    # A NULL-ts point has no position in the series (and the engines
    # place NULL sort keys on opposite ends) — excluded on both sides.
    events = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    series = T.value_series(events, min_len=16)
    sk = T.znorm_frame(series).select(
        "user_id", T.paa(F.col("z"), F.col("n"), 8).alias("sketch")
    )
    return (
        sk.select("user_id", T.sax_word(F.col("sketch")).alias("sax"))
        .groupBy("sax")
        .agg(
            F.count(F.lit(1)).alias("n_series"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
        )
    )


# --------------------------------------------------------------------------
# UniMax budget allocation (sampling.unimax_allocation): water-filling a
# token budget across languages with an epoch cap (Chung et al.,
# ICLR'23) — the fairness-first alternative to temperature sampling
# (mixture_temperature_weights).  Closed form over a sorted O(#langs)
# rollup; all-integer arithmetic so the oracle replays exactly.  The
# budget is derived in-plan (half the total capped supply), so both the
# capped and the water-filled branches are active at any SF.
# --------------------------------------------------------------------------

@query(
    "unimax_language_budgets",
    oracle="""
    WITH per AS (
      SELECT lang,
             -- blank-safe token count, mirrors tokens() exactly
             CAST(sum(coalesce(len(list_filter(
               string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')), 0))
               AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), s AS (
      SELECT lang, n_tokens, 3 * n_tokens AS supply FROM per
    ), w AS (
      SELECT lang, n_tokens, supply,
             count(*) OVER () AS n,
             row_number() OVER (ORDER BY supply, lang) AS idx,
             COALESCE(sum(supply) OVER (
               ORDER BY supply, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev,
             CAST(floor(sum(supply) OVER () / 2.0) AS BIGINT) AS budget
      FROM s
    ), c AS (
      SELECT *, supply * (n - idx + 1) + cum_prev <= budget AS capped
      FROM w
    ), g AS (
      SELECT *,
             COALESCE(sum(CASE WHEN capped THEN supply END) OVER (), 0)
               AS capped_sum,
             sum(CASE WHEN capped THEN 0 ELSE 1 END) OVER () AS n_uncapped
      FROM c
    )
    SELECT lang, n_tokens, CAST(supply AS BIGINT) AS supply, capped,
           CAST(CASE WHEN capped THEN supply
                ELSE floor((budget - capped_sum) / n_uncapped)
                END AS BIGINT) AS alloc_tokens,
           round(CAST(CASE WHEN capped THEN supply
                      ELSE floor((budget - capped_sum) / n_uncapped)
                      END AS BIGINT) * 1.0 / nullif(n_tokens, 0), 4) AS epochs
    FROM g
    """,
)
def unimax_language_budgets(spark, sf_dir):
    """Allocate half the corpus's capped token supply across languages
    UniMax-style: every language gets an equal share of the budget,
    capped at 3 epochs of its available tokens; the cap's leftover is
    re-spread over the uncapped (large) languages."""
    from cryptocurrency_data_pipeline_spark.operators.sampling import (
        unimax_allocation,
    )
    from cryptocurrency_data_pipeline_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents").select(
        "lang", F.size(tokens("text")).alias("n_toks")
    )
    budget = F.floor(
        F.sum("supply").over(Window.partitionBy()) / F.lit(2.0)
    ).cast("long")
    return unimax_allocation(
        docs, "lang", F.sum("n_toks"), budget, epoch_cap=3
    )


# --------------------------------------------------------------------------
# Audio band analysis (multimodal.decode_audio_bands): Walsh–Rademacher
# square-wave correlations at periods 2/4/8/16 — integer-exact
# frequency-band energy over the real WAV decode path (the spectral
# complement to wav_features_rollup's time-domain features).  Clips are
# byte-built in-engine from part keys; the oracle computes the same
# correlations from the generating formula without a WAV parser.
# --------------------------------------------------------------------------

@query(
    "audio_band_energy_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(50 + p_partkey % 97 AS INT) AS n
      FROM part
    ), corr AS (
      SELECT n,
             list_sum(list_transform(generate_series(0, n - 1),
               i -> (CASE WHEN i % 2 < 1 THEN 1 ELSE -1 END)
                  * ((7 * k + 3 * i) % 4001 - 2000))) AS c2,
             list_sum(list_transform(generate_series(0, n - 1),
               i -> (CASE WHEN i % 4 < 2 THEN 1 ELSE -1 END)
                  * ((7 * k + 3 * i) % 4001 - 2000))) AS c4,
             list_sum(list_transform(generate_series(0, n - 1),
               i -> (CASE WHEN i % 8 < 4 THEN 1 ELSE -1 END)
                  * ((7 * k + 3 * i) % 4001 - 2000))) AS c8,
             list_sum(list_transform(generate_series(0, n - 1),
               i -> (CASE WHEN i % 16 < 8 THEN 1 ELSE -1 END)
                  * ((7 * k + 3 * i) % 4001 - 2000))) AS c16
      FROM f
    )
    SELECT n AS n_samples,
           count(*) AS n_clips,
           CAST(sum(c2 * c2) AS BIGINT) AS energy_p2,
           CAST(sum(c4 * c4) AS BIGINT) AS energy_p4,
           CAST(sum(c8 * c8) AS BIGINT) AS energy_p8,
           CAST(sum(c16 * c16) AS BIGINT) AS energy_p16
    FROM corr GROUP BY n
    """,
)
def audio_band_energy_rollup(spark, sf_dir):
    """Square-wave band energies over real decoded PCM: part keys →
    conforming WAVs → Walsh–Rademacher correlations at periods
    2/4/8/16 → per-length energy rollup.  Integer arithmetic
    throughout."""
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
    bands = mm.decode_audio_bands(media)
    return bands.groupBy(F.col("n_samples")).agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("band_p2") * F.col("band_p2")).cast("long").alias("energy_p2"),
        F.sum(F.col("band_p4") * F.col("band_p4")).cast("long").alias("energy_p4"),
        F.sum(F.col("band_p8") * F.col("band_p8")).cast("long").alias("energy_p8"),
        F.sum(F.col("band_p16") * F.col("band_p16")).cast("long").alias("energy_p16"),
    )


# --------------------------------------------------------------------------
# AVI container decode (multimodal._parse_avi): the SECOND video format
# through the real decode path — RIFF chunk walk (avih header + movi
# frame-chunk count), with a declared-vs-walked frame audit: every 11th
# writer lies about dwTotalFrames and the walk catches it.  Containers
# are byte-built in-engine from part keys; the oracle computes the same
# rollup from the generating formula without a RIFF parser.
# --------------------------------------------------------------------------

@query(
    "avi_decode_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(16 + (p_partkey % 5) * 8 AS INT) AS w,
             CAST(8 + (p_partkey % 3) * 8 AS INT) AS h,
             CAST(p_partkey % 7 + 1 AS INT) AS frames,
             (p_partkey % 11 = 0) AS tampered
      FROM part
    )
    SELECT w AS width, h AS height,
           count(*) AS n_videos,
           CAST(sum(frames) AS BIGINT) AS total_frames,
           CAST(sum(CASE WHEN tampered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatched
    FROM f GROUP BY w, h
    """,
)
def avi_decode_rollup(spark, sf_dir):
    """Real AVI container pipeline: part keys → conforming RIFF/AVI
    payloads (every 11th with a tampered dwTotalFrames) → chunk-walk
    decode → per-dimension rollup with the declared≠walked audit."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                w, h = 16 + (k % 5) * 8, 8 + (k % 3) * 8
                n = k % 7 + 1
                frames = [
                    bytes(((k + f * 31 + i) % 251) for i in range(w * h))
                    for f in range(n)
                ]
                payload = mm.encode_avi(w, h, 40000, frames)
                if k % 11 == 0:
                    # Tamper dwTotalFrames (avih body offset 16; body
                    # starts at 32): declare one frame too many.
                    payload = (
                        payload[:48]
                        + (n + 1).to_bytes(4, "little")
                        + payload[52:]
                    )
                rows.append((k, payload))
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "video", "payload")
    meta = mm.decode_avi_meta(media)
    return meta.groupBy("width", "height").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("walked_frames").cast("long").alias("total_frames"),
        F.sum(
            (F.col("declared_frames") != F.col("walked_frames")).cast("int")
        ).cast("long").alias("n_mismatched"),
    )


# --------------------------------------------------------------------------
# l-diversity audit: the k-anonymity companion (Machanavajjhala et al.,
# "l-Diversity: Privacy Beyond k-Anonymity") — a class can be large
# (k-anonymous) yet leak everything if all its members share one
# sensitive value.  Distinct-l over the same (nation, segment)
# quasi-identifier with the balance band as the sensitive attribute.
# Two-level aggregation instead of count_distinct: the (QI, sensitive)
# pre-rollup is map-side combinable, so the heavy first exchange
# carries one row per (class, value) — the 100 TB-safe distinct shape.
# --------------------------------------------------------------------------

@query(
    "l_diversity_audit",
    oracle="""
    WITH vals AS (
      SELECT c_nationkey, c_mktsegment,
             -- non-finite balances land in the NULL band alongside
             -- genuine NULLs (DuckDB refuses CAST(inf AS BIGINT) where
             -- Spark's floor saturates silently -- the NULL band is the
             -- one semantics both engines express; sfnum class)
             CASE WHEN isfinite(c_acctbal)
                  THEN CAST(floor(c_acctbal / 1000.0) AS BIGINT) END AS band,
             count(*) AS n_rows
      FROM customer GROUP BY c_nationkey, c_mktsegment, band
    ), classes AS (
      SELECT c_nationkey, c_mktsegment,
             count(*) AS n_distinct_sensitive,
             CAST(sum(n_rows) AS BIGINT) AS class_size
      FROM vals GROUP BY c_nationkey, c_mktsegment
    )
    SELECT count(*) AS n_classes,
           CAST(sum(CASE WHEN n_distinct_sensitive < 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_violating,
           CAST(sum(CASE WHEN n_distinct_sensitive < 3 THEN class_size
                    ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           min(n_distinct_sensitive) AS min_diversity,
           CAST(max(n_distinct_sensitive) AS BIGINT) AS max_diversity
    FROM classes
    """,
)
def l_diversity_audit(spark, sf_dir):
    """Distinct l-diversity (l=3) over the (nation, market-segment)
    quasi-identifier; sensitive attribute = account-balance band."""
    # Non-finite balances -> NULL band (mirrors the oracle's isfinite
    # CASE): DuckDB refuses CAST(inf AS BIGINT) while Spark's floor
    # saturates to Long.MAX silently -- NULL is the shared semantics.
    band = F.when(
        finite("c_acctbal"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long"),
    )
    vals = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment", band.alias("band"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    classes = vals.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_distinct_sensitive"),
        F.sum("n_rows").cast("long").alias("class_size"),
    )
    l = F.lit(3)
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("n_distinct_sensitive") < l, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        F.sum(
            F.when(F.col("n_distinct_sensitive") < l, F.col("class_size"))
            .otherwise(0)
        )
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("n_distinct_sensitive").alias("min_diversity"),
        F.max("n_distinct_sensitive").cast("long").alias("max_diversity"),
    )


# --------------------------------------------------------------------------
# Exact set-similarity join (operators/setjoin.py): AllPairs/PPJoin
# prefix filtering over 3-word shingle sets — every pair with Jaccard
# >= 1/2, no all-pairs anywhere.  The oracle is deliberately the
# BRUTE-FORCE pair scan (feasible at oracle SF), so a green row proves
# the prefix filter's no-miss guarantee, not just self-consistency.
# --------------------------------------------------------------------------

@query(
    "jaccard_shingle_pairs",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'),
               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, g
      FROM base, unnest(list_transform(generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS u(g)
    ), sets AS (
      SELECT doc_id, list(g) AS s, count(*) AS sz FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS inter,
             a.sz + b.sz - len(list_intersect(a.s, b.s)) AS union_sz
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(union_sz AS BIGINT) AS union_sz,
           round(inter * 1.0 / union_sz, 6) AS jaccard
    FROM pairs WHERE 2 * inter >= union_sz
    """,
)
def jaccard_shingle_pairs(spark, sf_dir):
    """Exact Jaccard >= 0.5 document pairs over 3-word shingle sets via
    prefix-filtered self-join (rarest-shingle-first global order)."""
    from cryptocurrency_data_pipeline_spark.operators.setjoin import (
        jaccard_self_join,
    )
    from cryptocurrency_data_pipeline_spark.operators.text import (
        shingles,
        tokens,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("__toks", tokens("text"))
    )
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(shingles(toks=F.col("__toks")))
        ).alias("elem"),
    )
    pairs = jaccard_self_join(tok, num=1, den=2)
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "inter",
        "union_sz",
        "jaccard",
    )


# --------------------------------------------------------------------------
# Triangle counting (graph.triangle_stats): degree-oriented wedge join
# over the same deterministic doc graph as pagerank_doc_graph —
# completes the graph-analytics family (components → rank → triangles /
# clustering coefficient).  The oracle counts triangles by the id-
# ordered triple join (brute, fine at oracle SF), so a green row proves
# the degree-oriented enumeration misses nothing and double-counts
# nothing.
# --------------------------------------------------------------------------

@query(
    "doc_graph_triangles",
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
    ), e AS (
      SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
      FROM raw WHERE s != t
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg)
             AS n_wedges,
           n_triangles,
           round(3.0 * n_triangles /
                 greatest((SELECT sum(d * (d - 1) / 2) FROM deg), 1), 6)
             AS global_clustering_coeff
    FROM tri
    """,
)
def doc_graph_triangles(spark, sf_dir):
    """Triangle census of the chain+hub doc graph: degree-oriented
    wedge enumeration, one row out (nodes/edges/wedges/triangles/
    clustering coefficient)."""
    from pyspark.sql import Window as W

    from cryptocurrency_data_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
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
    return triangle_stats(chain.unionByName(hub))


# --------------------------------------------------------------------------
# t-closeness audit: the third privacy gate (Li et al., ICDE'07) —
# a class is unsafe if its sensitive-value DISTRIBUTION strays from the
# global one, even when it is diverse.  Total-variation distance with
# ALL-INTEGER cross-multiplication: TV_c = D_c / (2 * n_c * N) where
# D_c = Σ_v |n_cv·N − N_v·n_c|, and values ABSENT from the class
# contribute n_c·(N − Σ_present N_v) — computed algebraically from
# present rows only, so the plan never materializes the (class × value)
# cross product.  The t-test itself is integer (D_c·den vs 2·n_c·N·num);
# only the reported ratio rounds.  (At exabyte row counts the n_cv·N
# products would need decimal(38); long is exact to 9.2e18.)
# --------------------------------------------------------------------------

@query(
    "t_closeness_audit",
    oracle="""
    WITH vals AS (
      SELECT c_nationkey, c_mktsegment,
             -- non-finite balances land in the NULL band alongside
             -- genuine NULLs (DuckDB refuses CAST(inf AS BIGINT) where
             -- Spark's floor saturates silently -- the NULL band is the
             -- one semantics both engines express; sfnum class)
             CASE WHEN isfinite(c_acctbal)
                  THEN CAST(floor(c_acctbal / 1000.0) AS BIGINT) END AS band,
             count(*) AS n_cv
      FROM customer GROUP BY c_nationkey, c_mktsegment, band
    ), valtot AS (
      SELECT band, CAST(sum(n_cv) AS BIGINT) AS n_v FROM vals GROUP BY band
    ), cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(sum(n_cv) AS BIGINT) AS n_c
      FROM vals GROUP BY c_nationkey, c_mktsegment
    ), tot AS (
      SELECT CAST(sum(n_v) AS BIGINT) AS n FROM valtot
    ), per AS (
      SELECT v.c_nationkey, v.c_mktsegment, c.n_c,
             CAST(sum(abs(v.n_cv * t.n - vt.n_v * c.n_c)) AS BIGINT)
               AS present_term,
             CAST(sum(vt.n_v) AS BIGINT) AS present_nv
      FROM vals v
      JOIN valtot vt USING (band)
      JOIN cls c USING (c_nationkey, c_mktsegment)
      CROSS JOIN tot t
      GROUP BY v.c_nationkey, v.c_mktsegment, c.n_c
    ), d AS (
      SELECT n_c,
             present_term + n_c * ((SELECT n FROM tot) - present_nv) AS dist
      FROM per
    )
    SELECT count(*) AS n_classes,
           CAST(sum(CASE WHEN dist * 5 > 2 * n_c * (SELECT n FROM tot)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           round(max(dist * 1.0 / (2 * n_c * (SELECT n FROM tot))), 6)
             AS max_tv
    FROM d
    """,
)
def t_closeness_audit(spark, sf_dir):
    """t-closeness (t = 1/5) over the (nation, segment) quasi-identifier
    with balance-band sensitive values; exact integer TV comparison."""
    qi = ["c_nationkey", "c_mktsegment"]
    # Non-finite balances -> NULL band (mirrors the oracle's isfinite
    # CASE): DuckDB refuses CAST(inf AS BIGINT) while Spark's floor
    # saturates to Long.MAX silently -- NULL is the shared semantics.
    band = F.when(
        finite("c_acctbal"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long"),
    )
    vals = (
        t(spark, sf_dir, "customer")
        .groupBy(*qi, band.alias("band"))
        .agg(F.count(F.lit(1)).alias("n_cv"))
    )
    valtot = vals.groupBy("band").agg(
        F.sum("n_cv").cast("long").alias("n_v")
    )
    cls = vals.groupBy(*qi).agg(F.sum("n_cv").cast("long").alias("n_c"))
    tot = valtot.agg(F.sum("n_v").cast("long").alias("n"))
    per = (
        vals.join(F.broadcast(valtot), "band")
        .join(cls, qi)
        .crossJoin(F.broadcast(tot))
        .groupBy(*qi, "n_c", "n")
        .agg(
            F.sum(F.abs(F.col("n_cv") * F.col("n") - F.col("n_v") * F.col("n_c")))
            .cast("long")
            .alias("present_term"),
            F.sum("n_v").cast("long").alias("present_nv"),
        )
    )
    d = per.select(
        "n_c",
        "n",
        (
            F.col("present_term")
            + F.col("n_c") * (F.col("n") - F.col("present_nv"))
        ).alias("dist"),
    )
    num, den = 1, 5  # t = 0.2
    return d.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(
            F.when(
                F.col("dist") * den > 2 * F.col("n_c") * F.col("n") * num, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_violating"),
        F.round(
            F.max(F.col("dist") / (F.lit(2) * F.col("n_c") * F.col("n"))), 6
        ).alias("max_tv"),
    )


# --------------------------------------------------------------------------
# Per-key OLS trend detection: the time-series family's regression
# member — slope of value over event order per user, in EXACT integer
# arithmetic (values quantized to cents with floor, x is the 0-based
# rank, so Σx/Σx²/Σxy/Σy are all integers and the normal-equation
# numerator/denominator are integer cross-products; only the reported
# slope ratio rounds).  One window pass + one rollup shuffle.
# --------------------------------------------------------------------------

@query(
    "user_value_trend",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             {cents_sql('value')} AS y,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS x
      FROM events WHERE value IS NOT NULL
    ), s AS (
      SELECT user_id,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM seq GROUP BY user_id HAVING count(*) >= 3
    ), fit AS (
      SELECT user_id, n,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den
      FROM s
    )
    SELECT CASE WHEN num * 20 > den THEN 'rising'
                WHEN num * 20 < -den THEN 'falling'
                ELSE 'flat' END AS trend,
           count(*) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(max(num * 1.0 / den), 6) AS max_slope_cents,
           round(min(num * 1.0 / den), 6) AS min_slope_cents
    FROM fit GROUP BY trend
    """,
)
def user_value_trend(spark, sf_dir):
    """Classify each user's value trajectory by exact OLS slope
    (cents/event): rising / falling / flat at ±0.05 cents per event
    (the integer test ``num*20 vs ±den``)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            cents("value").alias("y"),
            (F.row_number().over(w) - 1).cast("long").alias("x"),
        )
    )
    s = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
        .where(F.col("n") >= 3)
    )
    fit = s.select(
        "user_id",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    trend = (
        F.when(F.col("num") * 20 > F.col("den"), "rising")
        .when(F.col("num") * 20 < -F.col("den"), "falling")
        .otherwise("flat")
    )
    return fit.groupBy(trend.alias("trend")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.round(F.max(F.col("num") / F.col("den")), 6).alias(
            "max_slope_cents"
        ),
        F.round(F.min(F.col("num") / F.col("den")), 6).alias(
            "min_slope_cents"
        ),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit: the classic fraud/synthetic-data signal —
# leading-digit distribution of a value column against Benford's
# log10(1+1/d) expectation.  The digit comes from the CENTS-QUANTIZED
# INTEGER's string (integer rendering is engine-identical; a double's
# string or a log10 at power-of-ten boundaries is not).  Expected
# proportions are shared 6-dp literals; observed proportions are exact
# integer ratios.  One map-side-combined shuffle on 9 digit keys.
# --------------------------------------------------------------------------

#: log10(1 + 1/d) rounded to 6 dp, d = 1..9 — literals shared by query
#: and oracle so both engines subtract the identical constant.
_BENFORD_P = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


@query(
    "benford_value_audit",
    oracle=f"""
    WITH cents AS (
      SELECT {cents_sql('abs(value)')} AS y
      FROM events WHERE value IS NOT NULL
        AND {cents_sql('abs(value)')} > 0
    ), digits AS (
      SELECT CAST(substr(CAST(y AS VARCHAR), 1, 1) AS INT) AS digit,
             count(*) AS n
      FROM cents GROUP BY digit
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total FROM digits
    ), expected(digit, p_expected) AS (
      VALUES {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_P.items()))}
    )
    SELECT d.digit, CAST(d.n AS BIGINT) AS n,
           round(d.n * 1.0 / t.total, 6) AS p_observed,
           CAST(e.p_expected AS DOUBLE) AS p_expected,
           round(abs(d.n * 1.0 / t.total - CAST(e.p_expected AS DOUBLE)), 6)
             AS abs_deviation
    FROM digits d CROSS JOIN tot t JOIN expected e USING (digit)
    """,
)
def benford_value_audit(spark, sf_dir):
    """First-digit (Benford) audit of event values quantized to cents:
    per-digit observed vs expected proportion and absolute deviation."""
    y = cents(F.abs(F.col("value")))
    cents_df = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(y.alias("y"))
        .where(F.col("y") > 0)
    )
    digits = (
        cents_df.select(
            F.substring(F.col("y").cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = F.create_map(
        *[F.lit(x) for d, p in sorted(_BENFORD_P.items()) for x in (d, p)]
    )
    w_all = Window.partitionBy()
    return (
        digits.withColumn("total", F.sum("n").over(w_all))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("p_observed"),
            expected[F.col("digit")].alias("p_expected"),
            F.round(
                F.abs(F.col("n") / F.col("total") - expected[F.col("digit")]), 6
            ).alias("abs_deviation"),
        )
    )


# --------------------------------------------------------------------------
# MP4 / ISO-BMFF decode (multimodal._parse_mp4): the THIRD video
# container through the real decode path — big-endian box walk (ftyp
# gate, moov/trak recursion, mvhd timescale+duration, tkhd 16.16
# dimensions, mdat byte count), honoring size-0 'to end' boxes and
# rejecting short/64-bit ones to the DLQ.  Payloads byte-built
# in-engine; oracle replays the generating formula.
# --------------------------------------------------------------------------

@query(
    "mp4_decode_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(1000 * (1 + p_partkey % 3) AS INT) AS ts,
             CAST((p_partkey % 50 + 1) * 500 AS INT) AS dur,
             CAST(16 * (1 + p_partkey % 4) AS INT) AS w,
             CAST(p_partkey % 97 + 1 AS BIGINT) AS mb
      FROM part
    )
    SELECT ts AS timescale,
           count(*) AS n_videos,
           CAST(sum(dur) AS BIGINT) AS total_duration,
           round(sum(dur) * 1.0 / ts, 6) AS total_seconds,
           CAST(sum(mb) AS BIGINT) AS total_mdat_bytes,
           CAST(max(w) AS INT) AS max_width
    FROM f GROUP BY ts
    """,
)
def mp4_decode_rollup(spark, sf_dir):
    """Real ISO-BMFF pipeline: part keys → conforming MP4 skeletons →
    box-walk decode → per-timescale duration/size rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                payload = mm.encode_mp4(
                    1000 * (1 + k % 3),
                    (k % 50 + 1) * 500,
                    16 * (1 + k % 4),
                    16,
                    bytes((k + i) % 251 for i in range(k % 97 + 1)),
                )
                rows.append((k, payload))
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "video", "payload")
    meta = mm.decode_mp4_meta(media)
    return meta.groupBy("timescale").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("duration").cast("long").alias("total_duration"),
        F.round(F.sum("duration") / F.col("timescale"), 6).alias(
            "total_seconds"
        ),
        F.sum("mdat_bytes").cast("long").alias("total_mdat_bytes"),
        F.max("width").alias("max_width"),
    )


# --------------------------------------------------------------------------
# TIFF decode (multimodal._parse_tiff): fourth image container, and the
# first decoder that must honor BOTH byte orders — half the payloads
# are written 'II' (little) and half 'MM' (big), same logical content,
# so an endianness bug flips exactly half the rollup.  IFD entry walk
# with SHORT/LONG value decoding and offset bounds checks.
# --------------------------------------------------------------------------

@query(
    "tiff_decode_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(32 * (1 + p_partkey % 6) AS INT) AS w,
             CAST(32 * (1 + p_partkey % 4) AS INT) AS h,
             CASE WHEN p_partkey % 2 = 0 THEN 'II' ELSE 'MM' END AS bo
      FROM part
    )
    SELECT bo AS byte_order,
           count(*) AS n_images,
           CAST(sum(w * h) AS BIGINT) AS total_pixels,
           CAST(max(w) AS INT) AS max_width,
           CAST(min(h) AS INT) AS min_height
    FROM f GROUP BY bo
    """,
)
def tiff_decode_rollup(spark, sf_dir):
    """Real TIFF pipeline: part keys → conforming II/MM payloads (even
    keys little-endian, odd big-endian) → IFD walk → per-byte-order
    pixel rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                rows.append(
                    (
                        k,
                        mm.encode_tiff(
                            32 * (1 + k % 6),
                            32 * (1 + k % 4),
                            8,
                            big_endian=bool(k % 2),
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "image", "payload")
    meta = mm.decode_tiff_meta(media)
    return meta.groupBy("byte_order").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("width") * F.col("height"))
        .cast("long")
        .alias("total_pixels"),
        F.max("width").alias("max_width"),
        F.min("height").alias("min_height"),
    )


# --------------------------------------------------------------------------
# MP3 decode (multimodal._parse_mp3): compressed-audio container walk —
# ID3v2 synchsafe skip, per-frame sync/bitrate/rate validation, padding-
# aware frame stepping (ISO/IEC 11172-3 length rule); duration follows
# from frames * 1152 / rate.  Payloads byte-built in-engine; oracle
# replays the generating formula.
# --------------------------------------------------------------------------

@query(
    "mp3_decode_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CASE p_partkey % 3 WHEN 0 THEN 96 WHEN 1 THEN 128
                  ELSE 192 END AS kbps,
             CASE p_partkey % 2 WHEN 0 THEN 44100 ELSE 48000 END AS sr,
             CAST(p_partkey % 20 + 1 AS INT) AS frames
      FROM part
    )
    SELECT sr AS sample_rate,
           CAST(kbps AS INT) AS bitrate_kbps,
           count(*) AS n_streams,
           CAST(sum(frames) AS BIGINT) AS total_frames,
           round(sum(frames) * 1152.0 / sr, 6) AS total_seconds
    FROM f GROUP BY sr, kbps
    """,
)
def mp3_decode_rollup(spark, sf_dir):
    """Real MP3 pipeline: part keys → conforming MPEG-1 Layer III
    streams (ID3v2-prefixed, padding every 3rd frame) → frame-walk
    decode → per-(rate, bitrate) duration rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    bidx = {96: 7, 128: 9, 192: 11}

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                kbps = (96, 128, 192)[k % 3]
                rows.append(
                    (
                        k,
                        mm.encode_mp3(
                            bidx[kbps], k % 2, k % 20 + 1, pad_every=3
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["k", "payload"])

    payloads = parts.mapInPandas(produce, "k long, payload binary")
    media = mm.media_table(payloads, "k", "audio", "payload")
    meta = mm.decode_mp3_meta(media)
    return meta.groupBy("sample_rate", "bitrate_kbps").agg(
        F.count(F.lit(1)).alias("n_streams"),
        F.sum("n_frames").cast("long").alias("total_frames"),
        F.round(
            F.sum("n_frames") * F.lit(1152.0) / F.col("sample_rate"), 6
        ).alias("total_seconds"),
    )


# --------------------------------------------------------------------------
# WARC ingestion (multimodal._parse_warc): the Common Crawl container —
# the canonical LLM-corpus wire format.  Writer emits conforming
# WARC/1.0 (named headers, Content-Length framing, CRLF discipline);
# the walk steps by Content-Length ONLY (a body containing the literal
# 'WARC/1.0' cannot desync it — unit-pinned) and the decoder explodes
# one row per record.  Archives byte-built in-engine from documents;
# oracle replays the generating formula with octet lengths.
# --------------------------------------------------------------------------

@query(
    "warc_record_rollup",
    oracle="""
    WITH d AS (
      -- coalesce mirrors the producer: a missing text is an empty
      -- response body, a missing source an empty URI segment
      SELECT doc_id, coalesce(source, '') AS source,
             strlen(coalesce(text, '')) AS blen
      FROM documents
    ), recs AS (
      SELECT 'warcinfo' AS warc_type, CAST(19 AS BIGINT) AS clen,
             '' AS uri FROM d
      UNION ALL
      SELECT 'request', 14,
             'http://corpus.example/' || source || '/' || doc_id FROM d
      UNION ALL
      SELECT 'response', CAST(blen AS BIGINT),
             'http://corpus.example/' || source || '/' || doc_id FROM d
    )
    SELECT warc_type,
           count(*) AS n_records,
           CAST(sum(clen) AS BIGINT) AS total_bytes,
           count(DISTINCT uri) AS n_distinct_uris
    FROM recs GROUP BY warc_type
    """,
)
def warc_record_rollup(spark, sf_dir):
    """Real WARC pipeline: documents → conforming WARC/1.0 archives
    (warcinfo + request + response per doc) → Content-Length record
    walk → per-type record/byte rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                # NULL source/text coalesce explicitly (str(None) would
                # leak a literal 'None' URI segment / 4-byte body)
                src = r.source if r.source is not None else ""
                body = r.text if r.text is not None else ""
                uri = f"http://corpus.example/{src}/{r.doc_id}"
                payload = mm.encode_warc(
                    [
                        ("warcinfo", "", b"engine: spark-graft"),
                        ("request", uri, b"GET / HTTP/1.1"),
                        ("response", uri, body.encode("utf-8")),
                    ]
                )
                rows.append((int(r.doc_id), payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = docs.mapInPandas(produce, "media_id long, payload binary")
    recs = mm.decode_warc_records(payloads)
    return recs.groupBy("warc_type").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("content_length").cast("long").alias("total_bytes"),
        F.countDistinct("target_uri").alias("n_distinct_uris"),
    )


# --------------------------------------------------------------------------
# ZIP archive manifest (multimodal._parse_zip): corpora arrive as
# archives — EOCD locate (bounded comment scan from the end), central-
# directory walk, and PER-MEMBER CRC-32 validation against the stored
# bytes, so a flipped payload byte is detected as data damage
# (crc_ok=false) while the directory stays readable.  Every 13th
# archive's text member is deliberately corrupted post-encode; the
# writer is cross-checked against stdlib zipfile in unit tests.
# --------------------------------------------------------------------------

@query(
    "zip_manifest_rollup",
    oracle="""
    WITH d AS (
      SELECT doc_id, strlen(coalesce(text, '')) AS blen FROM documents
    ), members AS (
      SELECT 'txt' AS ext, CAST(blen AS BIGINT) AS sz,
             (doc_id % 13 = 0 AND blen > 0) AS bad
      FROM d
      UNION ALL
      SELECT 'json', CAST(11 + length(CAST(doc_id AS VARCHAR)) AS BIGINT),
             FALSE
      FROM d
    )
    SELECT ext,
           count(*) AS n_members,
           CAST(sum(sz) AS BIGINT) AS total_bytes,
           CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crc_bad
    FROM members GROUP BY ext
    """,
)
def zip_manifest_rollup(spark, sf_dir):
    """Real ZIP pipeline: documents → store-only archives (text +
    meta members, every 13th text payload bit-flipped post-encode) →
    central-directory walk + CRC validation → per-extension rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                text = (r.text if r.text is not None else "").encode("utf-8")
                name = f"docs/{did}.txt"
                payload = mm.encode_zip(
                    [
                        (name, text),
                        (f"meta/{did}.json", b'{"doc_id":%d}' % did),
                    ]
                )
                if did % 13 == 0 and text:
                    # Flip one bit of the first member's stored data
                    # (local header at 0: data begins at 30 + namelen).
                    i = 30 + len(name)
                    payload = (
                        payload[:i]
                        + bytes([payload[i] ^ 0x01])
                        + payload[i + 1 :]
                    )
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = docs.mapInPandas(produce, "media_id long, payload binary")
    members = mm.decode_zip_members(payloads)
    ext = F.element_at(F.split("member_name", "\\."), -1)
    return members.groupBy(ext.alias("ext")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        F.sum(F.when(~F.col("crc_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_crc_bad"),
    )


# --------------------------------------------------------------------------
# WARC → HTTP → HTML extraction (multimodal.decode_warc_http): the full
# Common Crawl text-extraction chain — record walk, HTTP message split
# (status line + headers), tag-strip visible text + <title> capture —
# one row per response.  Every 17th page 404s with a short error body;
# the rollup separates them.  Oracle replays the generating formula
# (visible chars = title text + paragraph text, codepoint counts).
# --------------------------------------------------------------------------

@query(
    "warc_http_extract_rollup",
    oracle="""
    WITH d AS (
      SELECT doc_id, length(coalesce(text, '')) AS tlen FROM documents
    )
    SELECT CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS http_status,
           count(*) AS n_pages,
           CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 9
                    ELSE 4 + length(CAST(doc_id AS VARCHAR)) + tlen END)
             AS BIGINT) AS total_visible_chars,
           count(DISTINCT CASE WHEN doc_id % 17 != 0
                 THEN 'Doc ' || doc_id END) AS n_titles
    FROM d GROUP BY http_status
    """,
)
def warc_http_extract_rollup(spark, sf_dir):
    """Common Crawl chain end-to-end: documents → WARC(HTTP(HTML)) →
    record walk → HTTP split → tag-strip extraction → status rollup.
    404 bodies are plain text ('Not Found', no title); 200 bodies wrap
    the doc text in HTML with a 'Doc <id>' title."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                uri = f"http://corpus.example/{did}"
                if did % 17 == 0:
                    http = (
                        b"HTTP/1.1 404 Not Found\r\n"
                        b"Content-Type: text/html\r\n\r\nNot Found"
                    )
                else:
                    body = r.text if r.text is not None else ""
                    html = (
                        f"<html><head><title>Doc {did}</title></head>"
                        f"<body><p>{body}</p></body></html>"
                    )
                    http = (
                        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                        + html
                    ).encode("utf-8")
                payload = mm.encode_warc(
                    [
                        ("request", uri, b"GET / HTTP/1.1"),
                        ("response", uri, http),
                    ]
                )
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = docs.mapInPandas(produce, "media_id long, payload binary")
    pages = mm.decode_warc_http(payloads)
    return pages.groupBy("http_status").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("visible_chars").cast("long").alias("total_visible_chars"),
        F.countDistinct("title").alias("n_titles"),
    )


# --------------------------------------------------------------------------
# Composed web-corpus ingestion: the whole chain in ONE plan — WARC
# archives → HTTP split → HTML text extraction → status gate (drop
# 404s) → EXACT dedup on the extracted text (md5 fingerprint,
# keep-lowest-id, the docs_exact_dedup rule) → deterministic split
# assignment → per-split accounting.  Pages use a CONSTANT title so
# the corpus's seeded exact duplicates survive extraction and the
# dedup stage has real work: every 23rd archive also serves a MIRROR
# copy of its page under a second URI (verified non-zero in the
# rollup).
# --------------------------------------------------------------------------

@query(
    "web_corpus_ingest_report",
    oracle="""
    WITH pages AS (
      -- coalesce mirrors the producer: null text renders an empty <p>
      SELECT doc_id, 'Page' || coalesce(text, '') AS vtext,
             CASE WHEN doc_id % 23 = 0 THEN 2 ELSE 1 END AS n_copies
      FROM documents WHERE doc_id % 17 != 0
    ), kept AS (
      SELECT min(doc_id) AS doc_id, min(length(vtext)) AS vlen,
             CAST(sum(n_copies) AS BIGINT) AS n_copies
      FROM pages GROUP BY md5(vtext)
    ), split AS (
      SELECT CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                 ('0','1','2','3','4','5','6','7','8','9','a','b')
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                 THEN 'val'
               ELSE 'test' END AS split,
             vlen, n_copies
      FROM kept
    )
    SELECT split,
           count(*) AS n_pages,
           CAST(sum(vlen) AS BIGINT) AS total_chars,
           CAST(sum(n_copies - 1) AS BIGINT) AS n_dups_removed
    FROM split GROUP BY split
    """,
)
def web_corpus_ingest_report(spark, sf_dir):
    """End-to-end web ingestion: WARC(HTTP(HTML)) → extract → 404 gate
    → exact text dedup (keep lowest id) → md5 split assignment →
    per-split page/char/dup accounting."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm
    from cryptocurrency_data_pipeline_spark.operators.sampling import (
        split_assignment,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                uri = f"http://corpus.example/{did}"
                if did % 17 == 0:
                    http = (
                        b"HTTP/1.1 404 Not Found\r\n"
                        b"Content-Type: text/html\r\n\r\nNot Found"
                    )
                else:
                    body = r.text if r.text is not None else ""
                    html = (
                        f"<html><head><title>Page</title></head>"
                        f"<body><p>{body}</p></body></html>"
                    )
                    http = (
                        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                        + html
                    ).encode("utf-8")
                recs = [("response", uri, http)]
                if did % 17 != 0 and did % 23 == 0:
                    recs.append(("response", uri + "/mirror", http))
                payload = mm.encode_warc(recs)
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = docs.mapInPandas(produce, "media_id long, payload binary")
    pages = mm.decode_warc_http(payloads).where(F.col("http_status") == 200)
    w = Window.partitionBy("__fp").orderBy("media_id", "target_uri")
    kept = (
        pages.withColumn("__fp", F.md5("visible_text"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__copies", F.count(F.lit(1)).over(Window.partitionBy("__fp"))
        )
        .where(F.col("__rn") == 1)
    )
    return (
        kept.withColumn("split", split_assignment("media_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("visible_chars").cast("long").alias("total_chars"),
            F.sum(F.col("__copies") - 1).cast("long").alias("n_dups_removed"),
        )
    )


# --------------------------------------------------------------------------
# FLAC STREAMINFO decode (multimodal._parse_flac): lossless-audio
# header — metadata-block chain walk + the spec's bit-packed 20/3/5/36
# field layout (sample rate, channels-1, bits-1, total samples), the
# format matrix's bit-level parsing exercise.
# --------------------------------------------------------------------------

@query(
    "flac_streaminfo_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CASE p_partkey % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  ELSE 96000 END AS sr,
             CASE WHEN p_partkey % 5 < 3 THEN 16 ELSE 24 END AS bits,
             CAST(p_partkey * 1000 + 17 AS BIGINT) AS total
      FROM part
    )
    SELECT sr AS sample_rate, CAST(bits AS INT) AS bits,
           count(*) AS n_streams,
           CAST(sum(total) AS BIGINT) AS total_samples,
           round(sum(total) * 1.0 / sr, 6) AS total_seconds
    FROM f GROUP BY sr, bits
    """,
)
def flac_streaminfo_rollup(spark, sf_dir):
    """Real FLAC pipeline: part keys → conforming fLaC/STREAMINFO
    headers → bit-field decode → per-(rate, depth) duration rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    parts = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                k = int(r.k)
                sr = (44100, 48000, 96000)[k % 3]
                bits = 16 if k % 5 < 3 else 24
                rows.append(
                    (
                        k,
                        mm.encode_flac_header(
                            sr, 1 + k % 2, bits, k * 1000 + 17
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = parts.mapInPandas(produce, "media_id long, payload binary")
    meta = mm.decode_flac_meta(payloads)
    return meta.groupBy("sample_rate", "bits").agg(
        F.count(F.lit(1)).alias("n_streams"),
        F.sum("total_samples").cast("long").alias("total_samples"),
        F.round(
            F.sum("total_samples") / F.col("sample_rate"), 6
        ).alias("total_seconds"),
    )


# --------------------------------------------------------------------------
# warc.gz decode (multimodal.decode_warc_gz_records): Common Crawl's
# ACTUAL wire layout — each record gzipped as its own member, members
# concatenated — decompressed with stdlib zlib (CRC-32 + ISIZE
# validated per member) and record-parsed.  The compression leg is the
# second REAL compressed format through the engine after PNG/GIF/JPEG.
# Oracle replays uncompressed record stats (compressed sizes are
# zlib-version-dependent and deliberately not part of the contract).
# --------------------------------------------------------------------------

@query(
    "warc_gz_record_rollup",
    oracle="""
    WITH d AS (
      SELECT doc_id, coalesce(source, '') AS source,
             strlen(coalesce(text, '')) AS blen FROM documents
    ), recs AS (
      SELECT 'warcinfo' AS warc_type, CAST(19 AS BIGINT) AS clen FROM d
      UNION ALL
      SELECT 'response', CAST(blen AS BIGINT) FROM d
    )
    SELECT warc_type,
           count(*) AS n_records,
           CAST(sum(clen) AS BIGINT) AS total_bytes
    FROM recs GROUP BY warc_type
    """,
)
def warc_gz_record_rollup(spark, sf_dir):
    """Real .warc.gz pipeline: documents → per-record-gzipped WARC
    archives → stdlib member inflate + record walk → per-type rollup."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                src = r.source if r.source is not None else ""
                uri = f"http://corpus.example/{src}/{r.doc_id}"
                payload = mm.encode_warc_gz(
                    [
                        ("warcinfo", "", b"engine: spark-graft"),
                        ("response", uri, (r.text if r.text is not None else "").encode("utf-8")),
                    ]
                )
                rows.append((int(r.doc_id), payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = docs.mapInPandas(produce, "media_id long, payload binary")
    recs = mm.decode_warc_gz_records(payloads)
    return recs.groupBy("warc_type").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("content_length").cast("long").alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# tar manifest (multimodal._parse_tar): USTAR block walk with REAL
# header-checksum verification (octal fields, space-filled chksum
# rule) — every 19th archive has a flipped name byte, which fails the
# checksum and routes the WHOLE archive to the DLQ (tar has no
# per-member CRC, so damage detection is header-level; contrast the
# ZIP audit's member-level crc_ok).  Writer is stdlib-tarfile-readable.
# --------------------------------------------------------------------------

@query(
    "tar_manifest_rollup",
    oracle="""
    WITH d AS (
      SELECT doc_id, strlen(coalesce(text, '')) AS blen FROM documents
    ), m AS (
      SELECT CASE WHEN doc_id % 19 = 0 THEN '__dlq'
                  ELSE 'txt' END AS ext,
             CASE WHEN doc_id % 19 = 0 THEN NULL
                  ELSE CAST(blen AS BIGINT) END AS sz
      FROM d
      UNION ALL
      SELECT CASE WHEN doc_id % 19 = 0 THEN NULL ELSE 'json' END,
             CASE WHEN doc_id % 19 = 0 THEN NULL
                  ELSE CAST(11 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
                  END
      FROM d
    )
    SELECT ext, count(*) AS n_members,
           CAST(coalesce(sum(sz), 0) AS BIGINT) AS total_bytes
    FROM m WHERE ext IS NOT NULL GROUP BY ext
    """,
)
def tar_manifest_rollup(spark, sf_dir):
    """Real tar pipeline: documents → USTAR archives (text + meta
    members; every 19th header bit-flipped → checksum DLQ) → block
    walk → per-extension rollup with the DLQ bucket."""
    import pandas as pd  # noqa: F811 — executor-side import

    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).repartition(spark.sparkContext.defaultParallelism)

    def produce(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                payload = mm.encode_tar(
                    [
                        (f"docs/{did}.txt", (r.text if r.text is not None else "").encode("utf-8")),
                        (f"meta/{did}.json", b'{"doc_id":%d}' % did),
                    ]
                )
                if did % 19 == 0:
                    payload = (
                        payload[:1]
                        + bytes([payload[1] ^ 0x01])
                        + payload[2:]
                    )
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    payloads = docs.mapInPandas(produce, "media_id long, payload binary")
    members = mm.decode_tar_members(payloads)
    ext = F.when(
        F.col("member_name").isNull(), "__dlq"
    ).otherwise(F.element_at(F.split("member_name", "\\."), -1))
    return members.groupBy(ext.alias("ext")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.coalesce(F.sum("size_bytes"), F.lit(0))
        .cast("long")
        .alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# Cohort retention matrix: the product-analytics classic — users
# cohorted by first-activity week, retention counted per week offset.
# Two shuffles total: the (user → first week) rollup rides the same
# user-keyed exchange as the distinct-week activity set; the matrix is
# a counting rollup over (cohort, offset).  All integer, exactly
# replayable.
# --------------------------------------------------------------------------

@query(
    "cohort_retention_matrix",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor({epoch_sec_sql('ts')} / 604800.0) AS BIGINT) AS week
      FROM events
    ), first AS (
      SELECT user_id, min(week) AS cohort FROM act GROUP BY user_id
    )
    SELECT f.cohort, a.week - f.cohort AS week_offset,
           count(*) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY f.cohort, week_offset
    """,
)
def cohort_retention_matrix(spark, sf_dir):
    """Weekly cohort retention: (cohort week, offset) → active-user
    counts; offset 0 is cohort size, later offsets are retention."""
    act = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            # epoch_sec (exact floored seconds) then a float floor-div:
            # |sec| <= 2.54e11 is integral, so sec/604800.0 has no
            # double error that can cross a week boundary.
            F.floor(epoch_sec("ts") / F.lit(604800))
            .cast("long")
            .alias("week"),
        )
        .distinct()
    )
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        act.join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------------------------------
# Market-basket association mining: co-ordered part-BRAND pairs with
# support/confidence/lift — the retail-analytics classic, on the order
# basket (lineitem × part).  Brands (25 values) keep the pair space
# small while the basket self-join is still a real order-keyed shuffle;
# pair counts are integer-exact, the three measures are exact integer
# ratios rounded.  Top-20 by lift via TakeOrderedAndProject.
# --------------------------------------------------------------------------

@query(
    "basket_brand_lift",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
      SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM basket
    ), singles AS (
      SELECT brand, count(*) AS c FROM basket GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS cab
      FROM basket a JOIN basket b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b,
           CAST(cab AS BIGINT) AS n_both,
           round(cab * 1.0 / n.n, 6) AS support,
           round(cab * 1.0 / sa.c, 6) AS confidence,
           round(cab * 1.0 * n.n / (sa.c * sb.c), 6) AS lift
    FROM pairs
    JOIN singles sa ON sa.brand = brand_a
    JOIN singles sb ON sb.brand = brand_b
    CROSS JOIN n_orders n
    ORDER BY lift DESC, brand_a, brand_b LIMIT 20
    """,
)
def basket_brand_lift(spark, sf_dir):
    """Top-20 co-ordered brand pairs by lift: one basket self-join on
    the order key, broadcast singles/total, exact ratio measures."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_partkey"
    )
    pt = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    basket = li.join(F.broadcast(pt), "l_partkey").select(
        "okey", "brand"
    ).distinct()
    n_orders = basket.agg(
        F.countDistinct("okey").cast("long").alias("n")
    )
    singles = basket.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    a = basket.select("okey", F.col("brand").alias("brand_a"))
    b = basket.select("okey", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    sa = singles.select(
        F.col("brand").alias("brand_a"), F.col("c").alias("ca")
    )
    sb = singles.select(
        F.col("brand").alias("brand_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            F.col("cab").cast("long").alias("n_both"),
            F.round(F.col("cab") / F.col("n"), 6).alias("support"),
            F.round(F.col("cab") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("cab") * F.col("n") / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(20)
    )


