"""Registry hygiene lints (VERDICT r7 ask #8): with 193 queries across
five part modules, classes of fixture/oracle bugs are cheaper to prevent
structurally than to patch instance-by-instance.

Two invariants, enforced CI-style on every pytest run:

1. every oracle's FROM/JOIN targets are either the driver's
   pre-registered TESTDATA views, the oracle's own CTEs/aliases, or a
   whitelisted DuckDB table function — a typo'd or out-of-contract table
   name fails here instead of as a cryptic driver `err`;
2. every temp fixture path a query writes is pid-scoped — two driver
   sessions (or a driver and a local pytest) racing on a shared
   `/tmp/spark_graft_*` path was the round-6/7 `_tmp`-collision bug
   class.
"""

import re
from pathlib import Path

from cryptocurrency_data_pipeline_spark.queries import ORACLES, QUERIES

#: Tables the external driver pre-registers as DuckDB views (TESTDATA.md).
TESTDATA_TABLES = {
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
}

#: DuckDB table functions that legitimately follow FROM.
TABLE_FUNCTIONS = {"unnest", "range", "generate_series", "read_parquet"}


def _cte_and_alias_names(sql: str) -> set[str]:
    # CTEs, optionally with a column list: `name AS (` / `name(a, b) AS (`.
    names = {
        m.lower()
        for m in re.findall(r"(\w+)(?:\s*\([^()]*\))?\s+AS\s*\(", sql, re.I)
    }
    return names


def _referenced_tables(sql: str) -> set[str]:
    # SQL functions that take a FROM keyword inside their argument list
    # (extract(hour FROM ts), substring(x FROM 1), trim(c FROM s)) are
    # not table references — strip them first.
    # SQL comments are prose, not references.
    sql = re.sub(r"--[^\n]*", " ", sql)
    sql = re.sub(
        r"\b(?:extract|substring|trim|overlay)\s*\([^()]*\)", " ", sql, flags=re.I
    )
    # The null-safe comparison operator `IS [NOT] DISTINCT FROM x` is not
    # a table reference either.
    sql = re.sub(r"\bDISTINCT\s+FROM\s+[a-zA-Z_][\w.]*", " ", sql, flags=re.I)
    return {
        m.lower()
        for m in re.findall(r"\b(?:FROM|JOIN)\s+([a-zA-Z_][\w.]*)", sql, re.I)
    }


def test_every_oracle_references_only_contract_tables():
    bad = {}
    for name, sql in ORACLES.items():
        local = _cte_and_alias_names(sql)
        refs = _referenced_tables(sql) - local - TABLE_FUNCTIONS
        unknown = refs - TESTDATA_TABLES
        if unknown:
            bad[name] = sorted(unknown)
    assert not bad, (
        f"oracles reference tables outside the driver's pre-registered "
        f"TESTDATA views: {bad}"
    )


def test_every_query_has_an_oracle_and_vice_versa():
    assert set(QUERIES) == set(ORACLES)


def test_fixture_paths_are_pid_scoped():
    """Any `spark_graft_*` temp-fixture path built in the queries package
    must carry os.getpid() in the same expression (±2 lines): shared
    fixture dirs race across concurrent sessions."""
    pkg = (
        Path(__file__).resolve().parents[1]
        / "cryptocurrency_data_pipeline_spark"
        / "queries"
    )
    violations = []
    for mod in sorted(pkg.glob("_part*.py")):
        lines = mod.read_text().splitlines()
        for i, line in enumerate(lines):
            if "spark_graft_" not in line or line.lstrip().startswith("#"):
                continue
            window = "\n".join(lines[max(0, i - 2): i + 3])
            if "os.getpid()" not in window:
                violations.append(f"{mod.name}:{i + 1}: {line.strip()}")
    assert not violations, (
        "fixture paths not pid-scoped (add _{os.getpid()} to the dir "
        "name):\n" + "\n".join(violations)
    )


def test_oracle_token_mirrors_are_canonical():
    """No oracle regex may use a bare RE2 \\s for tokenization or
    normalization: Java's \\s includes the vertical tab (\\x0B), RE2's
    does not, so a bare \\s diverges on corpora containing one.  Every
    split/replace whitespace class must be the explicit WS_CLASS_SQL
    (operators/text.py:WS_CLASS is the Java-side twin)."""
    import re as _re

    from cryptocurrency_data_pipeline_spark.queries._fragments import (
        WS_CLASS_SQL,
        tokens_sql,
    )

    assert "\\x0B" in WS_CLASS_SQL and WS_CLASS_SQL in tokens_sql()
    offenders = {}
    for name, sql in ORACLES.items():
        hits = _re.findall(
            r"(?:string_split_regex|regexp_replace)\s*\([^;]{0,120}?'(\\+s)\+?'",
            sql,
        )
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"bare \\s in oracle tokenization regex (use WS_CLASS_SQL): "
        f"{offenders}"
    )


def test_measure_quantization_sites_carry_the_nan_guard():
    """Every floor-cents quantization in an oracle must be the rendered
    ``cents_sql`` guard: a bare ``floor(x * 100)``/``* 10000`` over a
    measure is the one-NaN-kills-the-job class (Spark 4 ANSI cast) and
    a silent cross-engine divergence for ±Inf/overflow.  The guard text
    always carries ``isnan(`` just before its ``floor(``; any floor-
    cents site without it is an unguarded regression.  (Engine-side
    sites are structurally covered: ``operators/quantize.cents`` is the
    only ``F.floor(... * scale)`` producer left in the query modules —
    pinned below by the source scan.)"""
    import re as _re

    offenders = {}
    for name, sql in ORACLES.items():
        # floor(<expr> * 100) / * 10000 with at most one nesting level
        # inside the expr — the cents shape, not epoch/budget floors.
        for m in _re.finditer(
            r"floor\((?:[^()]|\([^()]*\))*?\*\s*(?:100|10000)\)", sql
        ):
            # The guard text is POSITIONAL, not merely nearby: cents_sql
            # renders "... THEN NULL ELSE CAST(floor(...)" — a window
            # scan alone would false-pass an unguarded site that sits
            # within 200 chars of a DIFFERENT guarded one.
            before = sql[: m.start()].rstrip()
            window = sql[max(0, m.start() - 200): m.start()]
            if not (before.endswith("ELSE CAST(") and "isnan(" in window):
                offenders.setdefault(name, []).append(m.group(0)[:60])
    assert not offenders, (
        f"unguarded floor-cents quantization in oracles (use "
        f"queries._fragments.cents_sql): {offenders}"
    )

    # Engine side: no raw F.floor(... * 100/10000) left in query source —
    # every cents site must route through operators/quantize.cents.
    src_dir = Path(__file__).resolve().parent.parent / (
        "cryptocurrency_data_pipeline_spark"
    )
    raw = []
    for f in sorted((src_dir / "queries").glob("_part*.py")):
        text = f.read_text()
        for m in _re.finditer(
            r"F\.floor\((?:[^()]|\([^()]*(?:\([^()]*\)[^()]*)*\))*?\*\s*(?:100|10000)\W",
            text,
        ):
            raw.append((f.name, m.group(0)[:70]))
    assert not raw, f"raw F.floor cents sites (use quantize.cents): {raw}"


def test_embedding_casts_carry_the_completeness_guard():
    """Every embedding cast in an oracle must be the rendered
    ``_fragments.vec_sql`` guard: a bare ``CAST(embedding AS DOUBLE[])``
    hands NULL components straight to ``list_dot_product``, which
    hard-errors in DuckDB while Spark's lambda arithmetic
    null-propagates silently — the sfnull corrupt-vector class.  The
    guard is POSITIONAL: vec_sql renders "... THEN CAST(embedding AS
    DOUBLE[]) END", so every cast must sit immediately after its own
    THEN with the null-filter in the preceding window."""
    from cryptocurrency_data_pipeline_spark.queries import ORACLES

    offenders = {}
    needle = "CAST(embedding AS DOUBLE[])"
    for name, sql in ORACLES.items():
        pos = 0
        while True:
            i = sql.find(needle, pos)
            if i < 0:
                break
            before = sql[:i].rstrip()
            window = sql[max(0, i - 120): i]
            if not (
                before.endswith("THEN")
                and "list_filter(embedding, x -> x IS NULL)" in window
            ):
                offenders.setdefault(name, []).append(i)
            pos = i + len(needle)
    assert not offenders, (
        f"unguarded embedding cast in oracles (use "
        f"queries._fragments.vec_sql): {offenders}"
    )


def test_only_caching_persists_checkpoints_or_releases():
    """``operators/caching.py`` is the one lifetime owner: every persist,
    cache, local checkpoint and release in the package goes through its
    registry, so an owner's ``release_all`` frees everything a failed
    call left behind.  Parsed with ``ast``: comments and docstrings that
    mention these methods do not count."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / "cryptocurrency_data_pipeline_spark"
    owner = pkg / "operators" / "caching.py"
    banned = {"persist", "cache", "unpersist", "localCheckpoint"}
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        if f == owner:
            continue
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in banned
                # caching.persist(...) is the registry's own entry point
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "caching"
                )
            ):
                offenders.append(
                    f"{f.relative_to(pkg)}:{node.lineno} .{node.func.attr}("
                )
    assert not offenders, (
        f"persist/cache/unpersist/localCheckpoint outside "
        f"operators/caching.py (use caching.persist/checkpoint/release): "
        f"{offenders}"
    )
