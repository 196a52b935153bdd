"""Seeded input generator for the benchmark (stdlib only, single thread).

Renders every bronze landing file and every tick file before anything is
timed, and returns the exact tallies the engine must reproduce:

* bronze: silver rows under keep-latest, a checksum of silver
  ``(coin_id, current_price)``, DLQ rows per ``error_reason``, fact and
  dim row counts, and how many coins carry a renamed name;
* ticks: good / bad / alert / corrupt rows per file;
* query tables (documents, embeddings, part, orders): columns shaped like
  the engine's test tables; the query mix checks them against DuckDB.

Prices are whole cents so Spark and Python agree on ``round(price * 100)``
exactly, and every batch price stays inside the ETL gate's ``price
positive`` / ``price sane`` bounds (a breach aborts the pipeline by design).
"""

from __future__ import annotations

import json
import os
import random
import zlib
from collections import Counter

REQUIRED = ["id", "symbol", "name", "current_price", "market_cap"]
CORRUPT_RATE = 0.001
MISSING_RATE = 0.01
DRIFT_RATE = 0.01
RENAME_PREFIX = "Renamed "


def coin_id(i: int) -> str:
    return f"coin-{i:07d}"


def bronze_file_name(run: int) -> str:
    """Landing files sort lexically in fetch order, as keep-latest assumes."""
    return f"crypto_data_20260101_{run:06d}.json"


def _bronze_line(rng: random.Random, cid: str, name: str, symbol: str):
    """One bronze line plus its parsed view ``(record | None, reason | None)``:
    ``record`` is None for a corrupt line, ``reason`` names the DLQ class."""
    u = rng.random()
    if u < CORRUPT_RATE:
        return f'{{"id": "{cid}", "current_price": ', None, "json_parse_error"
    cents = rng.randrange(2, 5_000_000)  # 0.02 .. 49_999.99
    rec = {
        "id": cid,
        "symbol": symbol,
        "name": name,
        "current_price": cents / 100,
        "market_cap": rng.randrange(2_000_000, 10**12),
        "market_cap_rank": rng.randrange(1, 20_000),
        "total_volume": rng.randrange(0, 10**10),
        "high_24h": (cents + 7) / 100,
        "low_24h": max(cents - 7, 1) / 100,
        "price_change_24h": 0.5,
        "price_change_percentage_24h": 1.5,
        "circulating_supply": 1e6,
        "total_supply": 2e6,
    }
    reason = None
    if u < CORRUPT_RATE + MISSING_RATE:
        missing = REQUIRED[rng.randrange(len(REQUIRED))]
        rec[missing] = None
        reason = f"missing required field: {missing}"
    if rng.random() < DRIFT_RATE:
        rec["platform"] = f"chain-{rng.randrange(8)}"
    return json.dumps(rec), rec, reason


def _checksum(latest: dict) -> dict:
    cents = {cid: round(r["current_price"] * 100) for cid, r in latest.items()}
    return {
        "silver_rows": len(latest),
        "silver_cents_sum": sum(cents.values()),
        "silver_crc_sum": sum(
            zlib.crc32(f"{cid}|{c}".encode()) for cid, c in cents.items()
        ),
    }


class BronzeTally:
    """Keep-latest simulation over landing files in lexical order."""

    def __init__(self) -> None:
        self.latest: dict[str, dict] = {}
        self.dlq: Counter = Counter()
        self.lines = 0
        self.bytes = 0

    def add(self, line: str, rec, reason) -> None:
        self.lines += 1
        self.bytes += len(line) + 1
        if reason is not None:
            self.dlq[reason] += 1
        else:
            self.latest[rec["id"]] = rec

    def expected(self) -> dict:
        return {
            **_checksum(self.latest),
            "dlq": dict(sorted(self.dlq.items())),
            "fact_rows": len(self.latest),
            "dim_coin_rows": len(self.latest),
            "dim_date_rows": 1,
            "renamed_coins": sum(
                r["name"].startswith(RENAME_PREFIX) for r in self.latest.values()
            ),
            "bronze_lines": self.lines,
            "bronze_bytes": self.bytes,
        }


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def render_bronze_files(
    rng: random.Random,
    out_dir: str,
    tally: BronzeTally,
    run: int,
    coins: list[tuple[str, str, str]],
) -> None:
    """One landing file holding one line per coin, in a shuffled order,
    with fresh prices."""
    os.makedirs(out_dir, exist_ok=True)
    order = coins[:]
    rng.shuffle(order)
    lines = []
    for cid, name, symbol in order:
        line, rec, reason = _bronze_line(rng, cid, name, symbol)
        tally.add(line, rec, reason)
        lines.append(line)
    _write_lines(os.path.join(out_dir, bronze_file_name(run)), lines)


def base_coins(n: int) -> list[tuple[str, str, str]]:
    return [(coin_id(i), f"Coin {i}", f"c{i}") for i in range(n)]


def make_merge_wide(
    seed: int, base_dir: str, delta_dir: str, n_coins: int, n_base_files: int
) -> tuple[dict, dict]:
    """Distinct coins spread over ``n_base_files`` files (the state a
    previous run leaves), plus one later landing file that renames ~10%
    of the coins and adds ~1% new ones.  Returns the expected tallies
    after the base run and after the delta run (which re-reads base)."""
    rng = random.Random(seed)
    coins = base_coins(n_coins)
    tally = BronzeTally()
    for k in range(n_base_files):
        render_bronze_files(rng, base_dir, tally, k, coins[k::n_base_files])
    base = tally.expected()
    renamed = [
        (cid, f"{RENAME_PREFIX}{cid}", f"r{cid[5:]}")
        for cid, _, _ in coins
        if rng.random() < 0.10
    ]
    added = base_coins(n_coins + n_coins // 100)[n_coins:]
    render_bronze_files(rng, delta_dir, tally, n_base_files, renamed + added)
    return base, tally.expected()


# --- ticks -----------------------------------------------------------------

TICK_TS = "2026-01-01T12:00:00+00:00"


def _tick(cid: str, price: float, cap: int, change: float, pct: float) -> str:
    return json.dumps(
        {
            "coin_id": cid,
            "symbol": cid[:4],
            "name": cid.title(),
            "current_price": price,
            "market_cap": cap,
            "price_change_24h": change,
            "price_change_percentage_24h": pct,
            "timestamp": TICK_TS,
        }
    )


def tick_lines(rng: random.Random, n_normal: int) -> list[str]:
    """The producer's pattern: normal ticks, its three anomalies (tiny cap
    -> bad, crash -> bad, surge -> good + alert) and one corrupt line."""
    lines = [
        _tick(
            coin_id(rng.randrange(100_000)),
            rng.randrange(2, 5_000_000) / 100,
            rng.randrange(2_000_000, 10**12),
            1.0,
            round(rng.uniform(-14.0, 9.5), 2),
        )
        for _ in range(n_normal)
    ]
    lines += [
        _tick("tiny-cap-coin", 5.0, 500_000, 0.0, 0.0),
        _tick("crashed-coin", 50.0, 5_000_000, -12.0, -18.5),
        _tick("surge-coin", 75.0, 8_000_000, 15.0, 25.0),
        "{not valid json",
    ]
    return lines


def tick_tally(n_files: int, n_normal: int) -> dict:
    return {
        "good": n_files * (n_normal + 1),
        "bad": n_files * 2,
        "alert": n_files,
        "corrupt": n_files,
        "ticks": n_files * (n_normal + 4),
    }


def render_tick_files(
    rng: random.Random, out_dir: str, prefix: str, n_files: int, n_normal: int
) -> list[str]:
    """Write ``n_files`` tick files; returns their paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"{prefix}_{i:06d}.json")
        _write_lines(path, tick_lines(rng, n_normal))
        paths.append(path)
    return paths


# --- query tables ----------------------------------------------------------------

VOCAB = (
    "a the of and join hash row batch scan column customer filter small slow"
    " merge order vector line table data agg value key stream window spark"
    " part group big sort query fast"
).split()
LANGS = ("en", "en", "en", "fr", "de", "es", "zh")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMBED_DIM, EMBED_CLUSTERS = 64, 10
#: A share of documents are near-duplicates of an earlier one (a few words
#: swapped), so the dedup and set-join queries have pairs to find.
NEAR_DUP_RATE = 0.08


def _documents(rng: random.Random, n: int) -> dict[str, list]:
    texts = []
    for i in range(n):
        if texts and rng.random() < NEAR_DUP_RATE:
            words = texts[rng.randrange(len(texts))].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randrange(8, 90))]
        texts.append(" ".join(words))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _unit(v: list[float]) -> list[float]:
    norm = sum(x * x for x in v) ** 0.5
    return [x / norm for x in v]


def _embeddings(rng: random.Random, n: int) -> dict[str, list]:
    """Unit vectors around a few cluster centres, ``label`` = the centre."""
    centres = [
        _unit([rng.gauss(0, 1) for _ in range(EMBED_DIM)]) for _ in range(EMBED_CLUSTERS)
    ]
    labels = [rng.randrange(EMBED_CLUSTERS) for _ in range(n)]
    vecs = [_unit([c + rng.gauss(0, 0.12) for c in centres[k]]) for k in labels]
    return {"vec_id": list(range(n)), "embedding": vecs, "label": labels}


def _parts(rng: random.Random, n: int) -> dict[str, list]:
    adj, noun = ("small", "red", "blue", "large"), ("ring", "widget", "bolt", "gizmo")
    return {
        "p_partkey": list(range(n)),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n)],
        "p_type": [rng.choice(("SMALL", "MEDIUM", "LARGE", "PROMO")) for _ in range(n)],
        "p_size": [rng.randrange(1, 51) for _ in range(n)],
        "p_retailprice": [900 + (i % 1000) / 10 for i in range(n)],
    }


def _orders(rng: random.Random, n: int) -> dict[str, list]:
    day0, day_us = 9131, 86_400 * 10**6  # 1995-01-01 in days since the epoch
    return {
        "o_orderkey": list(range(n)),
        "o_custkey": [rng.randrange(max(n // 10, 1)) for _ in range(n)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(n)],
        "o_totalprice": [rng.randrange(100_000, 50_000_000) / 100 for _ in range(n)],
        "o_orderdate": [(day0 + rng.randrange(2400)) * day_us for _ in range(n)],
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n)],
    }


def query_tables(seed: int, sizes: dict[str, int]) -> dict[str, dict[str, list]]:
    """Columns of the tables the query mix reads, shaped like the engine's
    test tables: ``sizes`` maps documents / embeddings / part / orders to
    row counts.  ``orders.o_orderdate`` is a midnight in microseconds
    since the epoch, the table's timestamp unit."""
    rng = random.Random(seed)
    make = {"documents": _documents, "embeddings": _embeddings,
            "part": _parts, "orders": _orders}
    return {name: make[name](rng, sizes[name]) for name in sorted(sizes)}
