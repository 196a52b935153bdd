"""Property-based tests (hypothesis) for operator invariants."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cryptocurrency_data_pipeline_spark.operators import dedup, quality, silver

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),                       # key
        st.integers(min_value=0, max_value=5),                  # ts
        st.floats(min_value=-100, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=25,
)


@given(rows)
@_slow
def test_dedup_latest_invariants(spark, data):
    df = spark.createDataFrame(data, "k string, ts long, v double")
    out = silver.dedup_latest(df, ["k"], "ts", tiebreak=["v"]).collect()
    # One row per key; each is the max (ts, v) pair for that key.
    assert len(out) == len({d[0] for d in data})
    for r in out:
        expect = max((d[1], d[2]) for d in data if d[0] == r.k)
        assert (r.ts, r.v) == expect
    # Idempotent.
    df2 = spark.createDataFrame([(r.k, r.ts, r.v) for r in out], "k string, ts long, v double")
    again = silver.dedup_latest(df2, ["k"], "ts", tiebreak=["v"]).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@given(rows)
@_slow
def test_enforce_split_partitions_rows(spark, data):
    # Null out some keys deterministically: every 'c' key becomes null.
    df = spark.createDataFrame(
        [(None if k == "c" else k, ts, v) for k, ts, v in data],
        "k string, ts long, v double",
    )
    valid, dlq = silver.enforce_schema_split(df, ["k"])
    n_null = sum(1 for k, _, _ in data if k == "c")
    assert valid.count() == len(data) - n_null
    assert dlq.count() == n_null


@given(rows)
@_slow
def test_uniqueness_bounds_and_exactness(spark, data):
    df = spark.createDataFrame(data, "k string, ts long, v double")
    u = quality.profile(df, unique_key="k")["Uniqueness(k)"]
    keys = [d[0] for d in data]
    distinct = set(keys)
    # Deequ Uniqueness: values occurring exactly once over TOTAL rows
    # (not over distinct values — that would be UniqueValueRatio).
    exact = sum(1 for k in distinct if keys.count(k) == 1) / len(keys)
    assert math.isclose(u, exact, abs_tol=1e-12)
    assert 0.0 <= u <= 1.0


@given(
    st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=1, max_size=12),
    st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=1, max_size=12),
)
@_slow
def test_jaccard_matches_python_sets(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<string>, b array<string>")
    import pyspark.sql.functions as F

    got = df.select(
        dedup.jaccard(F.array_distinct("a"), F.array_distinct("b")).alias("j")
    ).collect()[0].j
    sa, sb = set(a), set(b)
    assert math.isclose(got, len(sa & sb) / len(sa | sb), abs_tol=1e-12)


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=0, max_size=40),
)
@_slow
def test_bloom_never_false_negative(spark, build_keys, probe_keys):
    from pyspark.sql import functions as F

    from cryptocurrency_data_pipeline_spark.operators import bloom

    build = spark.createDataFrame([(k,) for k in build_keys], "key long")
    probe = spark.createDataFrame(
        [(k,) for k in set(build_keys) | set(probe_keys)], "key long"
    )
    filt = bloom.bloom_build(build, "key", m_bits=1 << 10, k=3)
    kept = {
        r.key for r in bloom.bloom_prune(probe, "key", filt, 1 << 10, 3).collect()
    }
    # Every build key survives the prune regardless of m/k or collisions.
    assert set(build_keys) <= kept


@given(st.text(min_size=1, max_size=400), st.integers(2, 60))
@_slow
def test_chunking_covers_and_reassembles(spark, text, size):
    from cryptocurrency_data_pipeline_spark.operators.text import chunk_docs

    stride = max(size // 2, 1)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = sorted(
        (r.pos, r.chunk) for r in chunk_docs(df, size=size, stride=stride).collect()
    )
    # Stride-spaced starts, full coverage, and chunk content == the span.
    assert [p for p, _ in chunks] == list(range(1, chunks[-1][0] + 1, stride))
    for pos, chunk in chunks:
        assert chunk == text[pos - 1 : pos - 1 + size]
    covered = set()
    for pos, chunk in chunks:
        covered.update(range(pos - 1, pos - 1 + len(chunk)))
    assert covered == set(range(len(text)))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="abcdef \n", min_size=0, max_size=60),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=8),
)
def test_exact_substring_spans_invariants(spark, docs, k):
    """Spans lie inside their doc, are at least k long, never overlap, and
    every reported span's content really does recur in the corpus."""
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.exact_substring_spans(df, k=k).collect()
    by_doc = {}
    for r in spans:
        assert r.span_end - r.span_start + 1 >= k
        assert 1 <= r.span_start <= r.span_end <= len(docs[r.doc_id])
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # Merged islands: no two spans of one doc overlap or touch within k.
    for d, ss in by_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1 + 1  # a gap of zero would have merged
    # Cross-check against brute force: every duplicated k-gram position
    # must fall inside some span, and spans contain only covered starts.
    from collections import Counter

    grams = Counter()
    for t in docs:
        for p in range(len(t) - k + 1):
            grams[t[p : p + k]] += 1
    for i, t in enumerate(docs):
        dup_starts = {
            p + 1 for p in range(len(t) - k + 1) if grams[t[p : p + k]] > 1
        }
        covered = set()
        for s, e in by_doc.get(i, []):
            covered |= set(range(s, e - k + 2))
            # Span boundaries are genuine duplicated-gram positions.
            assert s in dup_starts and e - k + 1 in dup_starts
        # Every duplicated gram is covered; interior non-duplicated starts
        # are allowed (islands whose gap <= k merge by design), but each
        # must lie within k of a duplicated start in the same span.
        assert dup_starts <= covered
        for p in covered - dup_starts:
            assert any(abs(p - q) <= k for q in dup_starts)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_zorder_key_bijective_and_bounded(spark, pts):
    """Morton key is a bijection over the 16-bit grid: distinct points get
    distinct keys, all within [0, 2^32)."""
    from cryptocurrency_data_pipeline_spark.operators.maintenance import zorder_key

    df = spark.createDataFrame(pts, "su long, sv long")
    zs = [r.z for r in df.select(zorder_key(["su", "sv"]).alias("z")).collect()]
    assert len(set(zs)) == len(pts)
    assert all(0 <= z < 2**32 for z in zs)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.binary(min_size=0, max_size=200))
def test_media_parsers_fail_closed_on_arbitrary_bytes(payload):
    """Decoders must terminate and raise only the documented exception
    types on arbitrary input — never hang, never leak IndexError etc.
    (the mapInPandas DLQ path catches Exception, but parser behavior
    should still be contractual)."""
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    for fn in (mm._parse_header, mm._parse_wav, mm._parse_y4m):
        try:
            out = fn(payload)
            assert isinstance(out, tuple)
        except (ValueError, NotImplementedError):
            pass


# ---------------------------------------------------------------------------
# Blocked fuzzy matching: the q-gram recall bound.  Strings at edit
# distance d with max length L share >= L - q + 1 - d*q q-grams, so for
# keys of length >= q + d*q every true pair MUST survive blocking — the
# operator may never lose a pair the bound guarantees.
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdef", min_size=9, max_size=14)


@given(st.lists(_word, min_size=2, max_size=8, unique=True))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_fuzzy_blocking_recall_bound(spark, words):
    import itertools

    from cryptocurrency_data_pipeline_spark.operators.fuzzy import fuzzy_self_pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(w,) for w in words], "name string")
    got = {
        (r.key_a, r.key_b)
        for r in fuzzy_self_pairs(df, "name", q=3, max_distance=2).collect()
    }
    for a, b in itertools.combinations(sorted(words), 2):
        d = lev(a, b)
        if d <= 2 and max(len(a), len(b)) >= 3 + 2 * 3:
            assert (a, b) in got, f"guaranteed pair lost: {a!r} {b!r} d={d}"
    # and nothing beyond the cap is ever emitted
    for a, b in got:
        assert lev(a, b) <= 2


# ---------------------------------------------------------------------------
# SemDeDup greedy rule vs a numpy reference on random corpora: a vector is
# dropped iff some lower-id vector in the SAME coarse cluster has cosine
# >= tau; clusters replicate the md5-seeded nearest-center assignment.
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False,
                           width=32), min_size=3, max_size=3),
        min_size=2, max_size=10,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_semdedup_matches_reference(spark, vecs):
    import hashlib
    import math

    from cryptocurrency_data_pipeline_spark.operators.semdedup import semantic_dedup

    # skip corpora containing (near-)zero vectors: cosine undefined
    vecs = [v for v in vecs if math.sqrt(sum(x * x for x in v)) > 1e-6]
    if len(vecs) < 2:
        return
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs, 1)]
    nlist, tau = 2, 0.8

    # reference: md5-ordered seeds, nearest-center by L2 (ties lowest cid)
    seeds = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))[:nlist]
    centers = [(cid, v) for cid, (_, v) in enumerate(seeds, 1)]
    def cluster(v):
        d = [(sum((a - c) ** 2 for a, c in zip(v, cv)), cid) for cid, cv in centers]
        return min(d)[1]
    assign = {i: cluster(v) for i, v in rows}
    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a)); nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)
    expected = {}
    for i, v in rows:
        dropped = any(
            j < i and assign[j] == assign[i] and cos(w, v) >= tau - 1e-9
            for j, w in rows
        )
        near = any(
            j < i and assign[j] == assign[i] and abs(cos(w, v) - tau) < 1e-7
            for j, w in rows
        )
        if near:
            continue  # don't assert on float-boundary pairs
        expected[i] = not dropped

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.is_kept for r in semantic_dedup(df, nlist=nlist, tau=tau).collect()}
    for i, keep in expected.items():
        assert got[i] == keep, f"vec {i}: expected is_kept={keep}"


# ---------------------------------------------------------------------------
# CSV enforced ingest: conservation — every data line lands in EXACTLY one
# of (valid, dlq), no matter how malformed the input.
# ---------------------------------------------------------------------------

_csv_field = st.one_of(
    st.integers(min_value=-10**9, max_value=10**9).map(str),
    st.text(alphabet="abcxyz;|'\" \t", max_size=8).filter(
        lambda s: "," not in s and "\n" not in s and '"' not in s
    ),
    st.just(""),
)
_csv_line = st.lists(_csv_field, min_size=1, max_size=5).map(",".join)


@given(lines=st.lists(_csv_line, min_size=1, max_size=15), salt=st.integers())
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_csv_split_conserves_rows(spark, tmp_path_factory, lines, salt):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from cryptocurrency_data_pipeline_spark.sources.formats import (
        read_csv_enforced,
    )

    schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("name", StringType(), True),
            StructField("score", DoubleType(), True),
        ]
    )
    d = tmp_path_factory.mktemp(f"csvfuzz{abs(salt) % 10**6}")
    p = d / "in.csv"
    p.write_text("id,name,score\n" + "\n".join(lines) + "\n")
    valid, dlq = read_csv_enforced(spark, str(p), schema)
    n_valid, n_dlq = valid.count(), dlq.count()
    # blank lines are skipped by the csv reader; all others are routed
    n_data = sum(1 for ln in lines if ln.strip(", \t") or "," in ln)
    assert n_valid + n_dlq <= len(lines)
    assert n_valid + n_dlq >= n_data - sum(1 for ln in lines if not ln.strip())
    # dlq rows keep the raw line for replay
    for r in dlq.collect():
        assert r.raw is not None and r.error_reason == "csv_schema_mismatch"


# --------------------------------------------------------------------------
# Round-5 additions: UniMax water-filling, triangle census, codec
# roundtrips.
# --------------------------------------------------------------------------


@given(
    st.lists(
        st.integers(min_value=1, max_value=500), min_size=1, max_size=8
    ),
    st.integers(min_value=1, max_value=3000),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_unimax_matches_iterative_reference(spark, counts, budget, cap):
    """The closed-form allocation equals the paper's iterative
    water-filling loop on arbitrary inputs."""
    from pyspark.sql import functions as F

    from cryptocurrency_data_pipeline_spark.operators.sampling import (
        unimax_allocation,
    )

    # Reference: repeatedly grant equal shares, capped, until stable.
    supplies = {f"g{i}": cap * c for i, c in enumerate(counts)}
    remaining, active = budget, dict(supplies)
    alloc = {g: 0 for g in supplies}
    while active and remaining > 0:
        share = remaining // len(active)
        if share == 0:
            break
        capped = {g: s for g, s in active.items() if s <= share}
        if capped:
            for g, s in capped.items():
                alloc[g] = supplies[g]
                remaining -= s
                del active[g]
        else:
            for g in active:
                alloc[g] = supplies[g] - active[g] + share
            remaining -= share * len(active)
            break
    df = spark.createDataFrame(
        [(f"g{i}", c) for i, c in enumerate(counts)], "lang string, n long"
    )
    got = {
        r.lang: r.alloc_tokens
        for r in unimax_allocation(
            df, "lang", F.sum("n"), budget, epoch_cap=cap
        ).collect()
    }
    assert got == alloc


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_triangle_census_matches_brute_force(spark, raw_edges):
    import itertools

    from cryptocurrency_data_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    edges = {(min(a, b), max(a, b)) for a, b in raw_edges if a != b}
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    df = spark.createDataFrame(list(raw_edges), "src long, dst long")
    row = triangle_stats(df).collect()[0]
    assert row.n_triangles == tri
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(nodes)


@given(
    st.integers(min_value=1, max_value=2000),
    st.integers(min_value=1, max_value=2000),
    st.integers(min_value=1, max_value=5),
    st.booleans(),
)
@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
def test_tiff_roundtrip_property(width, height, frames, big_endian):
    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _parse_tiff,
        encode_tiff,
    )

    got = _parse_tiff(encode_tiff(width, height, 8, big_endian))
    assert got == (width, height, 8, "MM" if big_endian else "II")


@given(
    st.integers(min_value=1, max_value=10),
    st.sampled_from([1, 2, 4, 5, 7, 9, 11, 14]),
    st.sampled_from([0, 1, 2]),
    st.integers(min_value=0, max_value=4),
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_mp3_roundtrip_property(n_frames, bidx, ridx, pad_every):
    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _MP3_BITRATES,
        _MP3_RATES,
        _parse_mp3,
        encode_mp3,
    )

    p = encode_mp3(bidx, ridx, n_frames, pad_every=pad_every)
    assert _parse_mp3(p) == (_MP3_RATES[ridx], _MP3_BITRATES[bidx], n_frames)


@given(
    st.integers(min_value=1, max_value=10**6),
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=0, max_value=300),
)
@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
def test_mp4_roundtrip_property(timescale, duration, width, height, nbytes):
    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _parse_mp4,
        encode_mp4,
    )

    p = encode_mp4(timescale, duration, width, height, b"\xab" * nbytes)
    assert _parse_mp4(p) == (timescale, duration, width, height, nbytes)


@given(
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=33333, max_value=100000),
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_avi_roundtrip_property(width, height, n_frames, usec):
    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _parse_avi,
        encode_avi,
    )

    frames = [bytes((i % 251) for i in range(width * height))] * n_frames
    got = _parse_avi(encode_avi(width, height, usec, frames))
    assert got == (width, height, usec, n_frames, n_frames)


@given(
    st.sampled_from([8000, 22050, 44100, 48000, 96000, 192000]),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=4, max_value=32),
    st.integers(min_value=0, max_value=(1 << 36) - 1),
)
@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
def test_flac_roundtrip_property(rate, channels, bits, total):
    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _parse_flac,
        encode_flac_header,
    )

    got = _parse_flac(encode_flac_header(rate, channels, bits, total))
    assert got == (rate, channels, bits, total)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["warcinfo", "request", "response", "metadata"]),
            st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=126),
                max_size=20,
            ),
            st.binary(max_size=200),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_warc_roundtrip_property(records):
    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _parse_warc,
        encode_warc,
    )

    got = _parse_warc(encode_warc(records))
    assert got == [(t, u, len(b)) for t, u, b in records]


@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=48, max_codepoint=122),
                min_size=1,
                max_size=30,
            ),
            st.binary(max_size=300),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda m: m[0],
    )
)
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_zip_roundtrip_property(members):
    import io
    import zipfile

    from cryptocurrency_data_pipeline_spark.operators.multimodal import (
        _parse_zip,
        encode_zip,
    )

    p = encode_zip(members)
    assert _parse_zip(p) == [(n, len(d), True) for n, d in members]
    # stdlib agreement on names, sizes, and bytes
    zf = zipfile.ZipFile(io.BytesIO(p))
    for n, d in members:
        assert zf.read(n) == d


grank_rows = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2", "g3", "g4"]),   # group
        st.integers(min_value=-50, max_value=50),     # order value (ties ok)
    ),
    min_size=1,
    max_size=40,
)


@given(grank_rows)
@_slow
def test_grouped_ranks_property(spark, data):
    """with_grouped_ranks == row_number window per group, for any group
    mix and tie pattern (uid makes the order total)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cryptocurrency_data_pipeline_spark.operators import ids

    rows_u = [(g, v, i) for i, (g, v) in enumerate(data)]
    df = spark.createDataFrame(rows_u, "g string, v long, uid long")
    got = {
        (r.g, r.uid): (r.r, r.n)
        for r in ids.with_grouped_ranks(
            df, ["g"], ["v", "uid"], rank_name="r", count_name="n"
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "uid")
    wn = Window.partitionBy("g")
    want = {
        (r.g, r.uid): (r.r, r.n)
        for r in df.select(
            "g", "uid",
            F.row_number().over(w).alias("r"),
            F.count(F.lit(1)).over(wn).alias("n"),
        ).collect()
    }
    assert got == want


@given(st.integers(min_value=1, max_value=400), st.integers(min_value=1, max_value=8))
@_slow
def test_ntile_from_rank_property(spark, n, k):
    """Closed-form ntile == the ntile window for any (n, tiles)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cryptocurrency_data_pipeline_spark.operators import ids

    df = spark.range(1, n + 1).select(F.col("id").alias("i"))
    got = {r.i: r.t for r in df.select(
        "i", ids.ntile_from_rank("i", F.lit(n), k).alias("t")).collect()}
    want = {r.i: r.t for r in df.select(
        "i", F.ntile(k).over(Window.orderBy("i")).alias("t")).collect()}
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["x", "y"]),                        # key
            st.floats(min_value=-50, max_value=50, allow_nan=False),  # value
            st.integers(min_value=0, max_value=9),              # distinct id
            st.integers(min_value=0, max_value=3),              # batch split
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_matview_partials_merge_is_split_invariant(spark, data):
    """Any partition of the rows into batches merges to the same final
    aggregate as the single-pass build: count/cent-sum/min/max exactly,
    HLL distinct estimate bit-identically (register max-merge)."""
    from cryptocurrency_data_pipeline_spark.operators import matview as mv

    df = spark.createDataFrame(data, "k string, v double, u long, b long")
    split = mv.merge_partials(
        mv.build_partials(df, "b", ["k"], "v", "u"), ["k"]
    )
    single = mv.merge_partials(
        mv.build_partials(df.withColumn("b", df.b * 0), "b", ["k"], "v", "u"),
        ["k"],
    )
    as_map = lambda rows: {
        r.k: (r.n_rows, r.sum_cents, r.min_value, r.max_value, r.approx_distinct)
        for r in rows
    }
    assert as_map(split.collect()) == as_map(single.collect())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["d0", "d1", "d2"]),            # partition
            st.integers(min_value=0, max_value=3),          # id
            st.sampled_from(["x", "y"]),                    # value
        ),
        min_size=0,
        max_size=20,
    ),
    st.integers(min_value=0, max_value=19),
)
def test_partition_fingerprints_multiset_invariants(spark, data, drop_idx):
    """Snapshot fingerprints are (a) invariant to row order and physical
    partitioning, (b) sensitive to dropping ANY single row — the
    properties the change-feed pruning correctness rests on."""
    from cryptocurrency_data_pipeline_spark.operators.maintenance import (
        _partition_fingerprints,
    )

    schema = "day string, id int, v string"
    df1 = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    fp1 = _partition_fingerprints(df1.repartition(1), "day")
    fp2 = _partition_fingerprints(
        spark.createDataFrame(list(reversed(data)), schema).repartition(7)
        if data else df1,
        "day",
    )
    assert fp1 == fp2
    if data:
        i = drop_idx % len(data)
        dropped = data[:i] + data[i + 1:]
        fp3 = _partition_fingerprints(
            spark.createDataFrame(dropped, schema) if dropped
            else spark.createDataFrame([], schema),
            "day",
        )
        part = data[i][0]
        assert fp1.get(part) != fp3.get(part)


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["full", "upsert", "merge", "drop"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=5),        # id
                    st.sampled_from(["d0", "d1"]),                # part
                    st.sampled_from(["x", "y", "z"]),             # value
                ),
                min_size=0,
                max_size=5,
            ),
            st.sampled_from(["d0", "d1"]),                        # drop target
        ),
        min_size=1,
        max_size=5,
    )
)
def test_cow_snapshot_model_equivalence(spark, tmp_path_factory, ops):
    """Model-based check of the copy-on-write layer: a random sequence of
    full writes / partition upserts / key merges / partition drops must
    leave every retained version equal to a pure-Python reference model
    of the same operations."""
    from cryptocurrency_data_pipeline_spark.operators import maintenance as mt

    table = str(tmp_path_factory.mktemp("cowmodel") / "t")
    schema = "id int, day string, v string"

    def frame(rows):
        # one row per id (merge/upsert semantics key on id within a part)
        return (
            spark.createDataFrame(rows, schema)
            if rows
            else spark.createDataFrame([], schema)
        )

    model: dict[tuple, tuple] = {}   # (id, day) -> (id, day, v)
    versions: dict[int, set] = {}
    seeded = False
    for kind, rows, drop_part in ops:
        # model keys on (id, day); keep the LAST row per key in `rows`
        dedup = {}
        for r in rows:
            dedup[(r[0], r[1])] = r
        rows = list(dedup.values())
        if not seeded or kind == "full":
            mt.write_snapshot(frame(rows), table, part_col="day")
            model = {(r[0], r[1]): r for r in rows}
            seeded = True
        elif kind == "upsert":
            touched = {r[1] for r in rows}
            mt.upsert_snapshot(frame(rows), table)
            model = {
                k: v for k, v in model.items() if k[1] not in touched
            } | {(r[0], r[1]): r for r in rows}
        elif kind == "merge":
            mt.merge_into_snapshot(frame(rows), table, ["id", "day"])
            model = model | {(r[0], r[1]): r for r in rows}
        else:  # drop
            mt.upsert_snapshot(frame([]), table, drop_partitions=[drop_part])
            model = {k: v for k, v in model.items() if k[1] != drop_part}
        cur = mt._load_manifest(table)["current"]
        versions[cur] = set(model.values())

    for v, want in versions.items():
        got = {
            tuple(r)
            for r in mt.read_snapshot(spark, table, v)
            .select("id", "day", "v")
            .collect()
        }
        assert got == want, f"version {v}: {got} != {want}"

    # Collapsed change feed agrees with the model between every pair of
    # consecutive versions: keys present on both sides with a changed
    # value appear exactly as update_preimage/update_postimage pairs,
    # one-sided keys as insert/delete, unchanged keys not at all.
    for v in range(2, max(versions) + 1):
        amap = {(r[0], r[1]): r for r in versions[v - 1]}
        bmap = {(r[0], r[1]): r for r in versions[v]}
        want_feed = set()
        for k in amap.keys() | bmap.keys():
            ra, rb = amap.get(k), bmap.get(k)
            if ra == rb:
                continue
            if ra is None:
                want_feed.add((*rb, "insert"))
            elif rb is None:
                want_feed.add((*ra, "delete"))
            else:
                want_feed.add((*ra, "update_preimage"))
                want_feed.add((*rb, "update_postimage"))
        got_feed = {
            tuple(r)
            for r in mt.snapshot_changes(
                spark, table, v - 1, v, collapse=True, keys=["id", "day"]
            )
            .select("id", "day", "v", "_change")
            .collect()
        }
        assert got_feed == want_feed, (
            f"feed {v - 1}->{v}: {got_feed} != {want_feed}"
        )


@settings(max_examples=5, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["full", "upsert", "merge"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=5),        # id
                    st.sampled_from(["d0", "d1"]),                # part
                    st.integers(min_value=-3, max_value=9),       # num
                ),
                min_size=0,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=4,
    ),
    st.tuples(
        st.integers(min_value=-4, max_value=10),
        st.integers(min_value=-4, max_value=10),
    ),
)
def test_partition_stats_skipping_model(spark, tmp_path_factory, ops, bounds):
    """Model-based exactness of partition-stats skipping: after any
    random sequence of full writes / partition upserts / key merges on a
    stats-enabled table, a range read through
    read_snapshot_with_stats_skipping equals the pure-Python model
    filter for EVERY retained version (time travel prunes with that
    version's own envelopes) — i.e. pruning never drops a matching row
    and the residual predicate removes everything else."""
    from cryptocurrency_data_pipeline_spark.operators import maintenance as mt

    lo, hi = min(bounds), max(bounds)
    table = str(tmp_path_factory.mktemp("pstatsmodel") / "t")
    schema = "id int, day string, num long"

    def frame(rows):
        return (
            spark.createDataFrame(rows, schema)
            if rows
            else spark.createDataFrame([], schema)
        )

    model: dict[tuple, tuple] = {}
    versions: dict[int, set] = {}
    seeded = False
    for kind, rows in ops:
        dedup = {}
        for r in rows:
            dedup[(r[0], r[1])] = r
        rows = list(dedup.values())
        if not seeded or kind == "full":
            mt.write_snapshot(frame(rows), table, part_col="day",
                              stats_cols=["num"])
            model = {(r[0], r[1]): r for r in rows}
            seeded = True
        elif kind == "upsert":
            touched = {r[1] for r in rows}
            mt.upsert_snapshot(frame(rows), table)
            model = {
                k: v for k, v in model.items() if k[1] not in touched
            } | {(r[0], r[1]): r for r in rows}
        else:  # merge
            mt.merge_into_snapshot(frame(rows), table, ["id", "day"])
            model = model | {(r[0], r[1]): r for r in rows}
        cur = mt._load_manifest(table)["current"]
        versions[cur] = set(model.values())

    for v, snap_model in versions.items():
        got_df, rep = mt.read_snapshot_with_stats_skipping(
            spark, table, {"num": (lo, hi)}, version=v
        )
        got = {
            tuple(r)
            for r in got_df.select("id", "day", "num").collect()
        }
        want = {r for r in snap_model if lo <= r[2] <= hi}
        assert got == want, f"v{v} range [{lo},{hi}]: {got} != {want}"
        assert rep["partitions_read"] + rep["partitions_skipped"] == rep[
            "partitions_total"
        ]
        # A skipped partition must have contained no matching model row
        # (never a false drop): matching rows live only in read parts.
        matching_parts = {r[1] for r in want}
        assert len(matching_parts) <= rep["partitions_read"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([100, 10000]),
)
def test_cents_matches_python_reference(spark, values, scale):
    """quantize.cents == the pure-python contract on ARBITRARY doubles:
    NaN / ±Inf / |x| >= 2^62/scale / NULL -> NULL, else floor(x*scale)
    as int — no input can ANSI-abort the job."""
    from cryptocurrency_data_pipeline_spark.operators import quantize

    def py_cents(x):
        if x is None or math.isnan(x) or abs(x) >= quantize.quantize_limit(scale):
            return None
        return math.floor(x * scale)

    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [
        r.c
        for r in df.select(
            quantize.cents("x", scale).alias("c"), "x"
        ).collect()
    ]
    # createDataFrame preserves input order for a local list
    want = [py_cents(v) for v in values]
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_finite_matches_python_reference(spark, values):
    """quantize.finite as a FILTER keeps exactly the finite values."""
    from cryptocurrency_data_pipeline_spark.operators import quantize

    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = sorted(
        r.x for r in df.filter(quantize.finite("x")).collect()
    )
    want = sorted(v for v in values if v is not None and math.isfinite(v))
    assert got == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(
            # full BMP + astral mix; exclude surrogates (not valid UTF-8)
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x10FFFF
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_char_array_matches_python_codepoints(spark, texts):
    """text.char_array == Python's list(text) (code points) for ANY
    unicode input — the contract the linearized gram/entropy pipelines
    stand on.  Python strs are code-point sequences, so list(t) is the
    ground truth the engine's substring loop also follows."""
    from cryptocurrency_data_pipeline_spark.operators.text import char_array

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, t string"
    )
    got = {r.id: r.c for r in df.select("id", char_array("t").alias("c")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == list(t), (t, got[i])


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        # full timestamp[us] domain: year 1 .. 9999 with microseconds
        st.integers(min_value=-62135596800000000,
                    max_value=253402300799999999),
        min_size=1,
        max_size=16,
    )
)
def test_epoch_sec_matches_python_floor(spark, micros):
    """quantize.epoch_sec == floor(us / 1e6) in EXACT integer math over
    the entire timestamp domain — floored (never truncated) at negative
    epochs, never off-by-one at the year-9999 end where double-routed
    epoch math loses microseconds."""
    from pyspark.sql import functions as F

    from cryptocurrency_data_pipeline_spark.operators.quantize import epoch_sec

    df = spark.createDataFrame(
        [(i, us) for i, us in enumerate(micros)], "id int, us long"
    ).select("id", F.timestamp_micros("us").alias("ts"))
    got = {
        r.id: r.sec
        for r in df.select("id", epoch_sec("ts").alias("sec")).collect()
    }
    for i, us in enumerate(micros):
        assert got[i] == us // 1_000_000, (us, got[i])


def test_spread_small_scan_identity_and_spread(spark):
    # r14: spreads a few-partition input up to default parallelism,
    # identity when the input already has at least that many partitions,
    # rows unchanged either way.
    from cryptocurrency_data_pipeline_spark.operators.skew import (
        spread_small_scan,
    )

    p = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame([(i,) for i in range(100)], "id int").coalesce(1)
    out = spread_small_scan(small)
    assert out.rdd.getNumPartitions() == p
    assert sorted(r.id for r in out.collect()) == list(range(100))

    big = spark.range(1000).repartition(p + 4)
    same = spread_small_scan(big)
    assert same.rdd.getNumPartitions() == p + 4  # untouched


def test_spread_small_scan_spreads_a_column_named_exchange(spark, tmp_path):
    # The shuffle probe matches plan-node classes, not plan text: a
    # one-file scan whose column is literally named `exchange` has no
    # Exchange node, so it is still spread.
    from cryptocurrency_data_pipeline_spark.operators.skew import (
        spread_small_scan,
    )

    p = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "venues")
    spark.createDataFrame(
        [(f"venue{i}",) for i in range(20)], "exchange string"
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() < p
    out = spread_small_scan(scan)
    assert out.rdd.getNumPartitions() == p
    assert out.count() == 20
