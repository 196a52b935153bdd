"""Table maintenance: small-file compaction.

Streaming sinks (foreachBatch appends, micro-batch parquet) and
over-parallel writes accumulate files far smaller than a scan's ideal
split (~128 MB): at 100 TB that's metadata pressure on the file listing,
a task per tiny file, and scan throughput collapse. The reference's
answer was ``coalesce(1)`` at write time (glue/data_ingestion_s3.py:33) —
which serializes the WRITE to one task. Compaction instead runs after the
fact: size the output file count from the actual on-disk bytes, rewrite
in parallel, atomically swap.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from cryptocurrency_data_pipeline_spark.operators import caching


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> int:
    """Rewrite ``path`` into ceil(bytes/target) parquet files; returns the
    new file count.

    ``sort_col`` additionally range-clusters during the rewrite (see
    ``gold.write_sorted``) so compaction doubles as layout optimization.
    The rewrite lands in a sibling temp dir and swaps in via
    ``renameat2(RENAME_EXCHANGE)`` — a single atomic syscall on Linux, so
    readers see either the old or the new table, never neither. Where the
    exchange isn't available the fallback is rename-aside → rename-in →
    delete-aside: the old data survives until the new path is live (a
    reader can hit ENOENT in the instant between the two renames, but a
    crash never loses the table, unlike delete-then-rename). On object
    stores a transactional table format would do this under a log instead.
    """
    n_files = max(1, math.ceil(_dir_bytes(path) / target_file_bytes))
    df: DataFrame = spark.read.parquet(path)
    out = (
        df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
        if sort_col
        else df.repartition(n_files)
    )
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    # Carry the stats sidecar across the swap: it is stale for the new
    # layout (every entry points at a rewritten file) but the freshness
    # gate in read_with_skipping blocks stale pruning, and
    # update_stats_manifest re-indexes incrementally — losing the index
    # silently on every compaction would force full re-scans.
    stats = _stats_manifest_path(path)
    if os.path.exists(stats):
        shutil.copy2(stats, _stats_manifest_path(tmp))
    if _exchange_dirs(path, tmp):
        shutil.rmtree(tmp)  # tmp now holds the pre-compaction files
    else:
        aside = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, aside)
        os.rename(tmp, path)
        shutil.rmtree(aside)
    return n_files


def _exchange_dirs(a: str, b: str) -> bool:
    """Atomically swap two directories via Linux ``renameat2`` with
    ``RENAME_EXCHANGE``; returns False where the syscall/flag is
    unavailable (non-Linux, old kernels, some filesystems)."""
    try:
        import ctypes
        import ctypes.util

        libc = ctypes.CDLL(ctypes.util.find_library("c"), use_errno=True)
        at_fdcwd = ctypes.c_int(-100)
        rename_exchange = ctypes.c_uint(2)
        ret = libc.renameat2(
            at_fdcwd, os.fsencode(a), at_fdcwd, os.fsencode(b), rename_exchange
        )
        return ret == 0
    except Exception:
        return False


# --------------------------------------------------------------------------
# Z-order clustering: multi-dimensional data-skipping layout.
# --------------------------------------------------------------------------

def zorder_key(scaled_cols, bits: int = 16):
    """Morton (Z-order) key from pre-scaled non-negative integer columns.

    Interleaves the low ``bits`` bits of each column round-robin, so rows
    close in EVERY dimension land close on the 1-D key. Written as a pure
    bit-expression tree (shiftright/and/shiftleft folded into one sum), it
    stays inside whole-stage codegen and is reproducible in ANSI SQL for
    the oracle. With the layout written ``repartitionByRange(z)`` +
    ``sortWithinPartitions(z)``, every parquet footer carries narrow
    min/max ranges on ALL clustered dimensions at once — the multi-column
    data-skipping a single-column sort can't give (a 100 TB scan filtered
    on either dimension prunes most files).
    """
    from pyspark.sql import functions as F

    ndim = len(scaled_cols)
    terms = []
    for d, c in enumerate(scaled_cols):
        col = F.col(c) if isinstance(c, str) else c
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(col, i).bitwiseAND(F.lit(1)), i * ndim + d
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_layout(df: DataFrame, scaled_cols, n_files: int, bits: int = 16) -> DataFrame:
    """Cluster ``df`` for writing: range-partition on the Morton key so
    each output file owns one contiguous z-range, sorted within. The only
    wide operation is the range exchange (sampled boundaries); everything
    else is map-side bit math."""
    z = zorder_key(scaled_cols, bits).alias("__z")
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
    )


# --------------------------------------------------------------------------
# Snapshot-versioned tables: time travel without a table format.
#
# The transactional-lakehouse pattern (Delta/Iceberg snapshot isolation)
# rendered with plain parquet + a JSON manifest: every write lands in a
# NEW immutable, UNIQUELY-NAMED snapshot directory (``v{N}-{uuid}`` — two
# writers, or a writer and its own crashed predecessor, can never collide
# on a data path), and the manifest flip is the ONE commit point, behind
# a pluggable :class:`SnapshotCommit` protocol.  Concurrent readers of
# any retained version are never disturbed by writers; a write that
# fails or a process that dies mid-write leaves only an unreferenced
# directory (invisible to readers, swept by vacuum after a grace
# window) — it can never wedge the table or be mistaken for another
# writer's data.  The reference overwrites its S3 layers in place
# (glue/data_transform_s3.py) — a reader racing the writer sees a
# half-table; this is the production-parity fix at zero dependency cost.
# --------------------------------------------------------------------------

import json

def _current_umask(status_path: str = "/proc/self/status") -> int | None:
    """The process umask WITHOUT ``os.umask()``'s read-modify-write:
    even a bracketed ``os.umask(0); os.umask(v)`` probe zeroes the
    process-global value for an instant, and any OTHER thread creating
    a file in that window (py4j callbacks, logging handlers, a
    concurrent Spark job) lands it world-writable.  Linux exposes the
    value read-only in ``/proc/self/status`` (``Umask:`` field, since
    4.7); reading it PER CALL also tracks an application that changes
    its umask after import.  Where procfs is unavailable (macOS/BSD)
    return ``None`` — "unknown", NOT a guessed 0o022: a guess that is
    looser than the real umask (e.g. 0o077) would let the caller chmod
    fresh files WIDER than the process ever creates them, and the safe
    reaction to "unknown" is to leave modes alone."""
    try:
        with open(status_path) as f:
            for line in f:
                if line.startswith("Umask:"):
                    return int(line.split()[1], 8)
    except (OSError, ValueError, IndexError):
        pass
    return None


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, "_versions.json")


def _load_manifest(table_path: str) -> dict:
    try:
        with open(_manifest_path(table_path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"current": 0, "snapshots": {}}
    except json.JSONDecodeError as e:
        # NEVER fall back to the empty default here: a writer would
        # restart versioning at v1 over existing data.  A corrupt
        # manifest is an operator-recovery situation, not a fresh table.
        raise RuntimeError(
            f"snapshot manifest {_manifest_path(table_path)} is corrupt "
            f"({e}); restore it from a backup or reconstruct it from the "
            f"snapshots/ directory listing — do not write to this table "
            f"until repaired"
        ) from e


def _decode_manifest(data: bytes | None) -> dict:
    """Decode a store-held manifest payload, with the SAME empty-table
    default `_load_manifest` uses — one definition, not three."""
    if data is None:
        return {"current": 0, "snapshots": {}}
    return json.loads(data.decode())


class SnapshotCommit:
    """Commit gate for the snapshot manifest — the one operation that
    must be atomic and serialized per table.  Data directories need no
    coordination (every writer stages into a uniquely-named directory);
    only the manifest's load-mutate-publish must not interleave.

    Deployment contract: the default :class:`PosixSnapshotCommit` is
    correct on filesystems with atomic rename and working advisory locks
    (local disk, NFSv4).  Object stores have neither — there, implement
    this interface over a conditional put (S3 ``If-None-Match`` /
    ``If-Match`` on a versioned manifest key, GCS generation
    preconditions) or an external log store (the Delta LogStore /
    DynamoDB-mutex pattern).  A failed or raising commit must leave the
    previously-published manifest untouched."""

    def commit_manifest(self, table_path: str, mutate) -> dict:
        """Atomically load the manifest, apply ``mutate(man) -> man``
        (which may raise :class:`ConcurrentSnapshotWriteError` after
        inspecting the fresh state), publish the result, and return it.
        ``mutate`` runs inside the critical section — it sees the latest
        committed state, not a stale snapshot."""
        raise NotImplementedError

    def manifest_for_publish_check(self, table_path: str) -> dict:
        """The manifest copy that is AUTHORITATIVE for whether a commit
        landed — consulted by failure cleanup before deleting a staged
        directory.  Default: the local manifest (correct for the POSIX
        protocol).  A protocol whose source of truth lives elsewhere
        (object store) MUST override this: checking the local mirror
        would report a store-committed version as unpublished and
        delete data the store manifest already references."""
        return _load_manifest(table_path)

    def manifest_for_read(self, table_path: str) -> dict:
        """The manifest the READ path resolves versions through
        (:func:`read_snapshot` / :func:`list_snapshots` /
        :func:`snapshot_changes` ... all accept ``commit=`` and route
        here).  Default: the local manifest — authoritative for the
        POSIX protocol.  A protocol whose truth lives elsewhere
        overrides this so a reader can BOOTSTRAP on a host whose local
        mirror is absent or stale (fresh autoscaled worker, read-only
        replica) instead of silently serving an old version."""
        return _load_manifest(table_path)

    def manifest_for_write(self, table_path: str) -> dict:
        """The manifest WRITE planning resolves through
        (:func:`write_snapshot` / :func:`upsert_snapshot` /
        :func:`merge_into_snapshot` / :func:`compact_snapshot_partition`
        / :func:`vacuum_snapshots`).  Unlike the read path this must be
        STRICT — never a best-effort cached copy: a writer planning
        against a stale mirror burns a full staging write before the
        commit CAS rejects it, and vacuum MUST see the authoritative
        state before touching directories.  Default: same as
        ``manifest_for_read`` (authoritative for the POSIX protocol,
        whose truth IS the local file); protocols with a remote source
        of truth override this to raise on outage instead of falling
        back."""
        return self.manifest_for_read(table_path)


class PosixSnapshotCommit(SnapshotCommit):
    """``flock``-serialized load-mutate-replace on the local filesystem:
    an exclusive advisory lock brackets the read-check-write, and the
    publish itself is an atomic ``os.replace``.  The lock is released
    even on process death (flock semantics), so a crashed committer
    never blocks the table."""

    def commit_manifest(self, table_path: str, mutate) -> dict:
        import fcntl

        os.makedirs(table_path, exist_ok=True)
        fd = os.open(_manifest_path(table_path) + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            man = mutate(_load_manifest(table_path))
            # Durability before visibility (tmp-write + data fsync +
            # atomic rename + dir fsync): the ONE definition, shared
            # with every sidecar manifest.
            write_json_durable(_manifest_path(table_path), man)
            return man
        finally:
            os.close(fd)  # closing the fd releases the flock


DEFAULT_COMMIT = PosixSnapshotCommit()


class PreconditionFailedError(RuntimeError):
    """A conditional put's etag/existence precondition did not hold —
    the object changed (or appeared) since it was read.  The HTTP 412
    of S3 ``If-Match`` / GCS generation preconditions."""


class EtagObjectStore:
    """In-memory object store speaking the conditional-put dialect the
    real backends offer (S3 ``If-None-Match: *`` / ``If-Match: <etag>``,
    GCS ``ifGenerationMatch``): every successful put bumps an opaque
    per-key etag, and a put may be made conditional on the exact etag it
    read (or on the key not existing).  Thread-safe and reentrant.

    Test double by design: ``before_put`` (called OUTSIDE any internal
    lock, so it may itself drive a competing commit) lets a test
    interleave a remote writer between a reader's GET and its PUT, or
    raise to simulate a network fault mid-commit.
    """

    def __init__(self) -> None:
        import threading

        self._lock = threading.RLock()
        self._data: dict[str, tuple[bytes, int]] = {}
        self._gen = 0
        self.before_put = None  # callable (key) -> None, test hook

    def get(self, key: str) -> tuple[bytes | None, str | None]:
        with self._lock:
            if key not in self._data:
                return None, None
            data, gen = self._data[key]
            return data, str(gen)

    def put(
        self,
        key: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        hook = self.before_put
        if hook is not None:
            hook(key)
        with self._lock:
            held = self._data.get(key)
            if if_none_match and held is not None:
                raise PreconditionFailedError(f"{key}: already exists")
            if if_match is not None and (
                held is None or str(held[1]) != if_match
            ):
                raise PreconditionFailedError(
                    f"{key}: etag moved (held {None if held is None else held[1]}, "
                    f"expected {if_match})"
                )
            self._gen += 1
            self._data[key] = (data, self._gen)
            return str(self._gen)


class ConditionalPutSnapshotCommit(SnapshotCommit):
    """Reference :class:`SnapshotCommit` over a conditional-put object
    store — the documented contract made executable: the manifest lives
    in the store under ``<table>/_versions.json`` and every publish is a
    compare-and-swap on the etag it read (``If-None-Match`` for the
    first).  A losing writer gets :class:`PreconditionFailedError`,
    reloads the FRESH manifest, and re-runs ``mutate`` against it — so
    ``mutate`` keeps the critical-section property (it always sees the
    latest committed state) without any lock on the store side.

    The winning manifest is mirrored to the local ``_versions.json``
    (under the same flock ``PosixSnapshotCommit`` uses, so same-host
    mirrors are ordered) because the read path (:func:`_load_manifest`)
    is filesystem-based.  The STORE copy is the source of truth; on a
    multi-host deployment each host's mirror reflects only commits made
    through that host — refresh with :meth:`sync_local` before reading
    on a host that doesn't write.
    """

    def __init__(self, store: EtagObjectStore, max_attempts: int = 16) -> None:
        self.store = store
        self.max_attempts = max_attempts

    @staticmethod
    def _key(table_path: str) -> str:
        return os.path.normpath(os.path.abspath(table_path)) + "/_versions.json"

    def commit_manifest(self, table_path: str, mutate) -> dict:
        key = self._key(table_path)
        for _ in range(self.max_attempts):
            data, etag = self.store.get(key)
            man = _decode_manifest(data)
            man = mutate(man)  # may raise ConcurrentSnapshotWriteError
            payload = json.dumps(man).encode()
            try:
                if etag is None:
                    self.store.put(key, payload, if_none_match=True)
                else:
                    self.store.put(key, payload, if_match=etag)
            except PreconditionFailedError:
                continue  # lost the CAS — retry against fresh state
            try:
                self.sync_local(table_path)
            except OSError:
                # The COMMIT landed (the store is the source of truth);
                # a mirror-write failure must not be reported as a
                # failed commit — the writer's cleanup would otherwise
                # treat a published version as abandoned.  The mirror is
                # a cache: stale until the next sync_local succeeds.
                import logging

                logging.getLogger(__name__).warning(
                    "commit to %s landed in the store but the local "
                    "mirror write failed; run sync_local to refresh",
                    key,
                    exc_info=True,
                )
            return man
        raise ConcurrentSnapshotWriteError(
            f"lost the manifest CAS {self.max_attempts} times in a row "
            f"on {key} — pathological contention, back off and retry"
        )

    def manifest_for_publish_check(self, table_path: str) -> dict:
        data, _ = self.store.get(self._key(table_path))
        return _decode_manifest(data)

    def manifest_for_read(self, table_path: str) -> dict:
        """Store-authoritative read resolution with the mirror as a
        CACHE: consult the fresh store copy, refresh the local mirror
        when it disagrees (so same-host mirror-only tooling and later
        readers converge — a host that never wrote the table gets its
        ``_versions.json`` created here), and fall back to the mirror
        ONLY when the store itself is unreachable — loudly, because the
        mirror may then be stale.  The compare-before-sync keeps the
        hot read path write-free: an up-to-date mirror costs one store
        GET and zero filesystem writes per resolution."""
        import logging

        try:
            data, _ = self.store.get(self._key(table_path))
        except (OSError, RuntimeError, ValueError) as e:
            logging.getLogger(__name__).warning(
                "object store unreachable resolving %s (%s: %s); "
                "serving the LOCAL MIRROR, which may be stale",
                table_path,
                type(e).__name__,
                e,
            )
            return _load_manifest(table_path)
        man = _decode_manifest(data)
        try:
            mirror = _load_manifest(table_path)
        except RuntimeError:
            mirror = None  # corrupt mirror: repaired by the sync below
        if mirror != man:
            try:
                self.sync_local(table_path)
            except OSError as e:
                # A read must not fail because its CACHE can't be
                # written (read-only host): serve the store copy.
                logging.getLogger(__name__).warning(
                    "mirror refresh for %s failed (%s: %s); serving the "
                    "store manifest without caching it",
                    table_path,
                    type(e).__name__,
                    e,
                )
        return man

    def manifest_for_write(self, table_path: str) -> dict:
        """STRICT planning read: the store copy or an exception.  The
        mirror fallback that keeps pure READERS available through a
        store outage is wrong for writers and vacuum — planning against
        a possibly-stale mirror either wastes a full staging write
        (commit CAS rejects it later) or, for vacuum, decides deletions
        from non-authoritative state.  Store unreachable -> raise; the
        caller retries when the store is back."""
        data, _ = self.store.get(self._key(table_path))
        man = _decode_manifest(data)
        try:
            mirror = _load_manifest(table_path)
        except RuntimeError:
            mirror = None
        if mirror != man:
            import contextlib

            with contextlib.suppress(OSError):
                self.sync_local(table_path)
        return man

    def sync_local(self, table_path: str) -> dict:
        """Refresh the local mirror from the FRESH store copy, under the
        same flock :class:`PosixSnapshotCommit` uses — so concurrent
        same-host mirror writes serialize AND each one lands the latest
        committed manifest (never its own possibly-already-stale copy:
        re-reading inside the lock makes late mirrors converge instead
        of regressing).  Also the refresh entry point for hosts that
        only read a table other hosts write.  Returns the mirrored
        manifest."""
        import fcntl

        os.makedirs(table_path, exist_ok=True)
        fd = os.open(
            _manifest_path(table_path) + ".lock", os.O_CREAT | os.O_RDWR, 0o644
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            data, _ = self.store.get(self._key(table_path))
            man = _decode_manifest(data)
            write_json_durable(_manifest_path(table_path), man)
            return man
        finally:
            os.close(fd)


def snapshot_dir(
    table_path: str, version: int, commit: SnapshotCommit | None = None
) -> str:
    """Absolute path of the directory backing ``version`` — directory
    names are unique per write attempt (``v{N}-{uuid}``), so tooling and
    tests must resolve them through the manifest, never construct them."""
    _, snap = _resolve_snapshot(table_path, version, commit)
    return os.path.join(table_path, snap["dir"])


_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def partition_key_expr(part_col: str):
    """The ONE directory-string keying expression for partition values:
    null AND empty string map to the ``_NULL_PART`` sentinel (Hive lands
    both in ``__HIVE_DEFAULT_PARTITION__``), everything else is the
    plain string cast.  Every touched-partition set and fingerprint key
    must use this so input-side and landed-side keying agree."""
    from pyspark.sql import functions as F

    return F.coalesce(
        F.nullif(F.col(part_col).cast("string"), F.lit("")), F.lit(_NULL_PART)
    )


def partition_predicate(part_col: str, touched):
    """Null-aware partition membership predicate: matches rows whose
    ``part_col`` (cast to its directory-string form) is in ``touched``;
    the ``_NULL_PART`` sentinel matches the null partition.  The one
    definition every touched-partition filter shares."""
    from pyspark.sql import functions as F

    touched = list(touched)
    vals = [v for v in touched if v != _NULL_PART]
    pred = F.col(part_col).cast("string").isin(vals)
    if _NULL_PART in touched:
        pred = pred | F.col(part_col).isNull()
    if not touched:
        pred = F.lit(False)
    return pred


def _partition_fingerprints(
    df: DataFrame, part_col: str, stats_cols: Sequence[str] | None = None
) -> dict:
    """Per-partition multiset fingerprint of the NON-partition columns:
    ``{part_value_str: {"n": row_count, "fp": decimal-sum-of-xxhash64}}``.

    Sum-of-hashes is order-insensitive and multiset-sensitive (a dropped
    duplicate changes the sum); the sum runs in ``decimal(38,0)`` so it
    can never hit an ANSI overflow.  Columns are hashed in sorted-name
    order so the fingerprint is invariant to select order between
    versions.  One aggregation pass, shuffle key = partition value.

    ``stats_cols`` additionally records per-partition min/max/non-null
    counts in the SAME pass (``"stats": {col: {min, max, n_nonnull}}``)
    — the Delta per-file-stats pattern at the snapshot layer's own
    management granularity, costing zero extra jobs.  Content-derived,
    so input-frame and landed-read-back computations agree (the
    ``precomputed`` path stays valid)."""
    from pyspark.sql import functions as F

    data_cols = sorted(c for c in df.columns if c != part_col)
    # A partition-only frame has no data columns to hash; xxhash64
    # requires >=1 argument, so hash a constant — the row count alone
    # then carries the fingerprint.
    fp = F.xxhash64(*data_cols) if data_cols else F.xxhash64(F.lit(1))
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(fp.cast("decimal(38,0)")).alias("__fp"),
    ]
    for c in stats_cols or ():
        aggs += [
            F.min(c).alias(f"__min__{c}"),
            F.max(c).alias(f"__max__{c}"),
            F.count(c).alias(f"__nnn__{c}"),
        ]
    # partition_key_expr maps empty string AND null to the sentinel, so
    # fingerprints computed on an input frame (skip_unchanged pre-check)
    # and on the landed read-back agree.
    key = partition_key_expr(part_col)
    rows = df.groupBy(key.alias("__part")).agg(*aggs).collect()
    out = {}
    for r in rows:
        meta = {"n": r["__n"], "fp": str(r["__fp"])}
        if stats_cols:
            meta["stats"] = {
                c: {
                    "min": _json_safe(r[f"__min__{c}"]),
                    "max": _json_safe(r[f"__max__{c}"]),
                    "n_nonnull": r[f"__nnn__{c}"],
                }
                for c in stats_cols
            }
        out[r["__part"]] = meta
    return out


def _validate_stats_cols(
    df: DataFrame, part_col: str | None, stats_cols: Sequence[str] | None
) -> list[str] | None:
    """Checked, normalized ``stats_cols`` for a snapshot write: requires
    a partitioned table (the envelopes live per partition), existing
    non-decimal columns, and not the partition column itself (partition
    values are already prunable by definition)."""
    if not stats_cols:
        return None
    if not part_col:
        raise ValueError(
            "stats_cols requires part_col (partition-granular envelopes); "
            "for an unpartitioned directory use write_stats_manifest"
        )
    stats_cols = list(stats_cols)
    missing = [c for c in stats_cols if c not in df.columns]
    if missing:
        raise ValueError(f"stats_cols not in the frame: {missing}")
    if part_col in stats_cols:
        raise ValueError(
            f"stats_cols must not include the partition column "
            f"{part_col!r} — partition values prune directly"
        )
    _check_stat_cols(df, stats_cols)
    return stats_cols


def _new_snap_dir(table_path: str, version: int) -> tuple[str, str]:
    """(relative, absolute) path for a NEW snapshot directory — unique
    per write attempt, so no two writers (or a writer and a crashed
    predecessor) can ever collide on a data path."""
    rel = os.path.join("snapshots", f"v{version}-{uuid.uuid4().hex[:8]}")
    return rel, os.path.join(table_path, rel)


def _is_published(
    table_path: str,
    version: int,
    rel_dir: str,
    commit: SnapshotCommit | None = None,
) -> bool:
    """True iff the manifest already references THIS attempt's directory.

    Guards failure cleanup against the AMBIGUOUS-COMMIT outcome: a
    commit protocol whose publish actually landed but whose
    acknowledgement was lost (object-store conditional put succeeds, the
    HTTP response times out) raises back to the writer — deleting the
    staged directory then would destroy the data of a version readers
    can already see.  The uuid dir name makes the check exact: if the
    manifest's entry names OUR dir, our commit landed.

    The check reads the PROTOCOL'S authoritative manifest
    (``manifest_for_publish_check``): for the conditional-put protocol
    that is the store copy, not the local mirror — a commit whose store
    put landed but whose mirror write failed would otherwise read as
    unpublished and its data directory be destroyed.  If that read
    fails with an EXPECTED failure class (I/O, corrupt/missing payload,
    a store precondition), the answer is unknowable — report published,
    loudly (never delete on uncertainty; vacuum reclaims true orphans
    later).  Programming errors (a misconfigured commit object raising
    AttributeError/TypeError) propagate: swallowing those would
    silently disable staged-dir cleanup forever with no signal."""
    try:
        man = (commit or DEFAULT_COMMIT).manifest_for_publish_check(table_path)
    except (OSError, RuntimeError, ValueError, KeyError) as e:
        # RuntimeError covers PreconditionFailedError and the corrupt-
        # manifest guard; ValueError covers json.JSONDecodeError.
        import logging

        logging.getLogger(__name__).warning(
            "publish check for %s v%d could not read the authoritative "
            "manifest (%s: %s); treating the staged directory as "
            "published — vacuum reclaims it later if it is a true orphan",
            table_path,
            version,
            type(e).__name__,
            e,
        )
        return True
    ent = man["snapshots"].get(str(version))
    return bool(ent and ent.get("dir") == rel_dir)


def write_snapshot(
    df: DataFrame,
    table_path: str,
    part_col: str | None = None,
    record_keys: Sequence[str] | None = None,
    stats_cols: Sequence[str] | None = None,
    commit: SnapshotCommit | None = None,
) -> int:
    """Write ``df`` as the table's next immutable snapshot and flip the
    manifest pointer.  Returns the new version number (1-based).

    With ``part_col`` the snapshot lands Hive-partitioned AND the manifest
    records a per-partition content fingerprint (the Delta/Iceberg
    per-file-stats pattern at partition granularity), which lets
    :func:`snapshot_changes` confine a version diff to the partitions
    whose content actually changed — at 100 TB a one-partition edit must
    not pay a two-full-table ``exceptAll`` shuffle.

    ``record_keys`` notes the table's row-identity columns in the
    manifest (used by ``snapshot_changes(collapse=True)`` to pair an
    update's delete+insert rows).

    ``stats_cols`` records per-PARTITION min/max/non-null envelopes in
    the manifest (computed inside the same aggregation pass as the
    fingerprints — zero extra jobs), enabling
    :func:`read_snapshot_with_stats_skipping` to drop whole partitions
    at planning time.  Requires ``part_col``; later partial versions
    (:func:`upsert_snapshot` / :func:`merge_into_snapshot`) inherit the
    setting and keep the envelopes current for rewritten partitions.

    The data lands in a uniquely-named
    directory and becomes visible only when ``commit`` (default: the
    POSIX flock protocol) publishes the manifest — a failure at any
    point leaves an unreferenced directory, never a half-visible or
    wedged table."""
    os.makedirs(table_path, exist_ok=True)
    stats_cols = _validate_stats_cols(df, part_col, stats_cols)
    # Plan the next version against the PROTOCOL's STRICT view of the
    # table: on a mirror-less host the conditional-put protocol
    # bootstraps the base state from the store (a local-only load would
    # plan v1 over an existing table and fail the commit CAS), and a
    # store outage RAISES here rather than silently planning a doomed
    # staging write against a stale mirror.
    man = (commit or DEFAULT_COMMIT).manifest_for_write(table_path)
    version = man["current"] + 1
    rel_dir, snap_dir = _new_snap_dir(table_path, version)
    committed = False
    try:
        entry: dict = {"dir": rel_dir}
        if record_keys:
            entry["keys"] = list(record_keys)
        if stats_cols:
            entry["stats_cols"] = stats_cols
            # Recorded dtypes gate later versions against stat-column
            # type drift (a mixed-representation version breaks pruning).
            entry["stats_types"] = {
                c: df.schema[c].dataType.simpleString() for c in stats_cols
            }
        if part_col:
            parts = _write_partitioned_version(
                df, snap_dir, part_col, version, rel_dir, stats_cols=stats_cols
            )
            entry.update(
                part_col=part_col,
                part_type=df.schema[part_col].dataType.simpleString(),
                columns=list(df.columns),
                parts=parts,
                n_rows=sum(p["n"] for p in parts.values()),
            )
        else:
            df.write.mode("errorifexists").parquet(snap_dir)
            entry["n_rows"] = df.sparkSession.read.parquet(snap_dir).count()
        _commit_version(table_path, version, entry, commit)
        committed = True
    finally:
        if not committed and not _is_published(
            table_path, version, rel_dir, commit
        ):
            # The directory is uniquely OURS (uuid suffix): removing it
            # can never touch a concurrent writer's data, and leaving it
            # can never block a future write — cleanup here is just
            # tidiness; vacuum would sweep it after the grace window.
            # The _is_published guard covers the ambiguous-commit case:
            # a publish that landed but raised its acknowledgement must
            # not have its (now-referenced) data deleted.
            shutil.rmtree(snap_dir, ignore_errors=True)
    return version


def _write_partitioned_version(
    df: DataFrame,
    snap_dir: str,
    part_col: str,
    version: int,
    rel_dir: str,
    precomputed: dict | None = None,
    stats_cols: Sequence[str] | None = None,
    preserve_layout: bool = False,
) -> dict:
    """Land ``df`` Hive-partitioned in ``snap_dir`` and return its
    fingerprint map (each entry stamped with ``src``, the version that
    wrote it, and ``src_dir``, the directory that physically holds that
    partition's files — directories are uuid-named, so the path must be
    recorded, not derived).

    ``precomputed`` short-circuits the post-write read-back aggregation
    with fingerprints already computed on the INPUT frame (the Delta
    shape: per-file stats are computed during the write, not by
    re-scanning what landed).  Content hashes are representation-
    independent — a deterministic frame and its parquet round-trip
    fingerprint identically — so callers that already paid the input
    scan (``skip_unchanged``'s no-op check) publish without a second
    full aggregation over the freshly-written files."""
    from cryptocurrency_data_pipeline_spark.sources.tables import (
        partition_inference_off,
    )

    spark = df.sparkSession
    if list(df.columns) == [part_col]:
        # Spark refuses to partition by EVERY column
        # (ALL_PARTITION_COLUMNS_NOT_ALLOWED) — surface the contract
        # clearly instead of a mid-write AnalysisException.
        raise ValueError(
            f"cannot write a snapshot whose only column is the partition "
            f"column {part_col!r}; a partitioned snapshot needs at least "
            f"one data column"
        )
    # Cluster rows by partition value before the partitioned write
    # (AQE REBALANCE): without it every upstream task opens a writer per
    # partition value it holds, landing O(tasks x partitions) ~KB files
    # per version — at bench scale the assembled read of the merged
    # table degraded to 64-split scans of tiny files (measured ~0.6 s of
    # pure open/schedule overhead per task, near-zero CPU).  REBALANCE
    # (vs a plain repartition(part_col)) stays scale-safe: AQE splits a
    # hot partition's writers by its advisory size, so a 100 TB version
    # still writes a big bucket with many tasks while a micro-batch
    # version lands one file per bucket.
    if not preserve_layout:
        # Callers that already laid the frame out (compaction's
        # right-sized range clusters / Morton order) pass
        # preserve_layout=True; a rebalance here would undo exactly the
        # layout they computed.
        df = df.hint("rebalance", part_col)
    df.write.mode("errorifexists").partitionBy(part_col).parquet(snap_dir)
    if not any(
        any(not f.startswith(("_", ".")) for f in files)
        for _root, _dirs, files in os.walk(snap_dir)
    ):
        # Zero-row write: partitionBy emits no schema-bearing data files,
        # so the dir could never be read back.  Rewrite it as one empty
        # typed file (part_col becomes a regular column — there are no
        # partitions to prune in an empty version anyway).
        shutil.rmtree(snap_dir)
        df.limit(0).write.parquet(snap_dir)
        return {}
    if precomputed is not None:
        parts = {k: dict(meta) for k, meta in precomputed.items()}
    else:
        # Read back what actually landed (not the input lineage);
        # inference off so partition values round-trip as the exact
        # directory strings the manifest keys on.
        with partition_inference_off(spark):
            landed = spark.read.parquet(snap_dir)
        parts = _partition_fingerprints(landed, part_col, stats_cols=stats_cols)
    for meta in parts.values():
        meta["src"] = version
        meta["src_dir"] = rel_dir
    return parts


class ConcurrentSnapshotWriteError(RuntimeError):
    """Another writer committed a version while this write was in flight."""


def _commit_version(
    table_path: str,
    version: int,
    entry: dict,
    commit: SnapshotCommit | None = None,
) -> None:
    import time

    # Optimistic concurrency (the Iceberg commit-CAS shape): the write
    # planned against `current == version - 1` as its base state; the
    # check runs INSIDE the commit protocol's critical section against
    # the freshest manifest, so a writer whose base moved raises instead
    # of silently orphaning the winner — and the delta is applied onto
    # that fresh state, so a vacuum that expired versions while this
    # write ran is not resurrected.
    def mutate(man: dict) -> dict:
        if man["current"] != version - 1:
            raise ConcurrentSnapshotWriteError(
                f"expected current version {version - 1} at commit, found "
                f"{man['current']} — another writer won; retry against "
                f"the new state"
            )
        if not os.path.isdir(os.path.join(table_path, entry["dir"])):
            # A writer that stalled longer than vacuum's orphan grace
            # window can have its staged (never-yet-referenced) data
            # swept as abandoned.  Publishing would flip `current` to a
            # version with no files — fail the commit instead and let
            # the writer retry the whole write.
            raise RuntimeError(
                f"staged snapshot directory {entry['dir']!r} vanished "
                f"before commit (swept as an orphan? the write stalled "
                f"past vacuum's orphan_grace_seconds) — re-run the write"
            )
        entry["committed_at"] = time.time()
        man["snapshots"][str(version)] = entry
        man["current"] = version
        return man

    (commit or DEFAULT_COMMIT).commit_manifest(table_path, mutate)


def snapshot_as_of(
    table_path: str, ts: float, commit: SnapshotCommit | None = None
) -> int:
    """Version visible at wall-clock time ``ts`` (epoch seconds): the
    newest retained version committed at or before ``ts`` — Delta's
    ``TIMESTAMP AS OF``.  Raises if every retained version postdates
    ``ts`` (older ones may have been vacuumed)."""
    man = (commit or DEFAULT_COMMIT).manifest_for_read(table_path)
    eligible = [
        int(v)
        for v, meta in man["snapshots"].items()
        if meta.get("committed_at", float("inf")) <= ts
    ]
    if not eligible:
        raise ValueError(
            f"no retained version committed at or before {ts} "
            f"(retained: {sorted(int(v) for v in man['snapshots'])})"
        )
    return max(eligible)


def upsert_snapshot(
    new_rows: DataFrame,
    table_path: str,
    drop_partitions: Sequence[str] = (),
    skip_unchanged: bool = False,
    record_keys: Sequence[str] | None = None,
    stats_cols: Sequence[str] | None = None,
    commit: SnapshotCommit | None = None,
    drop_if_absent: Sequence[str] = (),
    preserve_layout: bool = False,
) -> int:
    """Copy-on-write partial snapshot: publish a new version that REWRITES
    only the partitions present in ``new_rows`` (replace semantics, like
    ``matview.refresh_partition``) and inherits every other partition
    from the previous version BY REFERENCE — the manifest's per-partition
    ``src`` field points at the version directory that physically holds
    the files, so a one-partition update writes one partition, not the
    table.  This is the Iceberg/Delta overwrite-by-partition shape
    rendered on plain parquet: at 100 TB a full-copy version per edit
    (``write_snapshot``) is untenable.

    ``drop_partitions`` names partition values (directory-string form) to
    delete in the new version.  The previous version must itself be
    partitioned on the same column.  Readers of any retained version are
    never disturbed: old directories are immutable, and
    :func:`vacuum_snapshots` keeps any directory still referenced by a
    retained version's ``src`` entries.

    Schema evolution: ``new_rows`` defines the new version's column set
    (recorded in the manifest).  An ADDED column surfaces as null on
    inherited partitions; a column ``new_rows`` no longer carries is
    dropped from the assembled read of the new version (older versions
    keep their own schemas).  The partition column's type must not
    change.

    ``drop_if_absent`` names partition values (directory-string form) to
    drop ONLY IF the new version contains no rows for them — the MERGE
    caller's "touched partitions whose content emptied out" case,
    resolved from the partition set the write (or the skip_unchanged
    pre-scan) computes anyway instead of a dedicated distinct+collect
    job over the merged frame.

    ``skip_unchanged=True`` fingerprints the INPUT partitions and
    compares them against the previous version BEFORE writing anything:
    a no-op publish (every would-be-rewritten partition content-equal,
    nothing effectively dropped, no schema change) returns the CURRENT
    version number having cost one aggregation scan and zero writes —
    so deterministic replays (a foreachBatch retry re-merging the same
    micro-batch) neither mint identical versions NOR pay a physical
    write-then-withdraw (at streaming cadence the no-op case is the
    COMMON case; fingerprints are content hashes, so the input frame
    and its parquet round-trip agree).  CONTRACT: ``skip_unchanged``
    requires a DETERMINISTIC input frame — the fingerprint scan and the
    write are separate jobs over the same lineage, so a frame with
    ``rand()``/``current_timestamp()``/an unpersisted sample would
    record fingerprints describing rows that were never written;
    persist such frames first."""
    man = (commit or DEFAULT_COMMIT).manifest_for_write(table_path)
    prev = man["snapshots"].get(str(man["current"]))
    if prev is None or not prev.get("part_col"):
        raise ValueError(
            "upsert_snapshot requires an existing partitioned snapshot; "
            "seed the table with write_snapshot(df, path, part_col=...)"
        )
    part_col = prev["part_col"]
    if part_col not in new_rows.columns:
        raise ValueError(f"new_rows lacks partition column {part_col!r}")
    new_type = new_rows.schema[part_col].dataType.simpleString()
    prev_type = prev.get("part_type")
    if prev_type and new_type != prev_type:
        # A changed partition dtype silently splits partition identity
        # (string '05' and int 5 land in different directories).
        raise ValueError(
            f"partition column type changed: table has {prev_type}, "
            f"new_rows carries {new_type}; cast before upserting"
        )
    dropped = {str(d) for d in drop_partitions}
    absent_req = {str(d) for d in drop_if_absent}
    prev_parts = prev.get("parts", {})
    # Stats envelopes are a TABLE setting: inherited from the previous
    # version unless explicitly (re)set, restricted to columns the new
    # frame still carries (schema evolution may drop a stat column — its
    # envelope simply stops being recorded from this version on).
    # Enabling stats on an existing table via the parameter is valid:
    # inherited partitions simply stay conservatively unprunable until
    # their next rewrite records an envelope.  Both paths run the full
    # validation (the inherited one too — a decimal or otherwise
    # unrecordable column must fail BEFORE data is written), and a stat
    # column whose dtype drifted from the recorded type is rejected: a
    # drifted envelope would mix representations across partitions of
    # one version and break the pruning comparison at read time.
    if not stats_cols:
        stats_cols = [
            c for c in prev.get("stats_cols", ()) if c in new_rows.columns
        ] or None
    stats_cols = _validate_stats_cols(new_rows, part_col, stats_cols)
    # stats_types is CUMULATIVE across partial versions: inherited
    # partitions can carry envelopes recorded many versions ago, so a
    # column that leaves stats_cols and re-enters later with a new dtype
    # would still mix representations — the gate must remember every
    # type ever used while envelopes may survive by reference.  A full
    # write_snapshot rewrite resets the history (no inherited envelopes
    # exist after it), which is also the sanctioned way to re-type a
    # stat column.
    cum_types = dict(prev.get("stats_types", {}))
    if stats_cols:
        drifted = {
            c: (new_rows.schema[c].dataType.simpleString(), cum_types[c])
            for c in stats_cols
            if c in cum_types
            and new_rows.schema[c].dataType.simpleString() != cum_types[c]
        }
        if drifted:
            raise ValueError(
                f"stat column dtype drifted from the recorded type: "
                f"{drifted} (new_type, recorded_type) — envelopes of one "
                f"version must share a representation; re-type a stat "
                f"column only through a full write_snapshot rewrite"
            )
    pre: dict | None = None
    if skip_unchanged:
        # Pre-write no-op detection: fingerprint the INPUT (one agg
        # scan) and compare against the previous version — a replayed
        # micro-batch returns here without writing a byte.  Content
        # hashes are representation-independent, so the input frame and
        # what its parquet write would land agree exactly.
        pre = _partition_fingerprints(new_rows, part_col, stats_cols=stats_cols)
        clash = sorted(dropped & set(pre))
        if clash:
            raise ValueError(f"partitions both rewritten and dropped: {clash}")
        # drop_if_absent resolves against the partitions the input
        # actually carries — the same set the pre-scan just computed.
        dropped = dropped | (absent_req - set(pre))
        pre_columns = list(new_rows.columns) if pre else prev.get(
            "columns", list(new_rows.columns)
        )
        same_content = all(
            k in prev_parts
            and (prev_parts[k].get("n"), prev_parts[k].get("fp"))
            == (meta.get("n"), meta.get("fp"))
            for k, meta in pre.items()
        )
        no_real_drop = not (dropped & set(prev_parts))
        same_schema = pre_columns == prev.get("columns", pre_columns)
        if same_content and no_real_drop and same_schema:
            return man["current"]
    version = man["current"] + 1
    rel_dir, snap_dir = _new_snap_dir(table_path, version)
    committed = False
    try:
        fresh = _write_partitioned_version(
            new_rows, snap_dir, part_col, version, rel_dir,
            precomputed=pre, stats_cols=stats_cols,
            preserve_layout=preserve_layout,
        )
        clash = sorted(dropped & set(fresh))
        if clash:
            raise ValueError(f"partitions both rewritten and dropped: {clash}")
        # Resolve drop_if_absent against what actually landed (equals the
        # pre-scan's key set when that ran — precomputed fingerprints).
        dropped = dropped | (absent_req - set(fresh))
        columns = list(new_rows.columns) if fresh else prev.get(
            "columns", list(new_rows.columns)
        )
        parts = {
            k: meta
            for k, meta in prev_parts.items()
            if k not in fresh and k not in dropped
        }
        parts.update(fresh)
        entry = {
            "dir": rel_dir,
            "part_col": part_col,
            "part_type": prev.get(
                "part_type", new_rows.schema[part_col].dataType.simpleString()
            ),
            "columns": columns,
            "parts": parts,
            "n_rows": sum(p["n"] for p in parts.values()),
        }
        # Row-identity keys: recorded when passed, else inherited from
        # the previous version (a partial publish doesn't change what
        # identifies a row).
        keys = list(record_keys) if record_keys else prev.get("keys")
        if keys:
            entry["keys"] = keys
        if stats_cols:
            entry["stats_cols"] = stats_cols
            cum_types.update(
                {
                    c: new_rows.schema[c].dataType.simpleString()
                    for c in stats_cols
                }
            )
        if cum_types:
            # Carried even when stats_cols lapses this version: the
            # type history must survive a gap so a later re-enable
            # cannot mix representations with still-referenced
            # envelopes.
            entry["stats_types"] = cum_types
        _commit_version(table_path, version, entry, commit)
        committed = True
    finally:
        if not committed and not _is_published(
            table_path, version, rel_dir, commit
        ):
            # Uniquely OUR directory (uuid suffix), and not referenced
            # by a landed-but-unacknowledged commit — safe to remove;
            # see write_snapshot.
            shutil.rmtree(snap_dir, ignore_errors=True)
    return version


def merge_into_snapshot(
    updates: DataFrame,
    table_path: str,
    keys: Sequence[str],
    delete_col: str | None = None,
    skip_unchanged: bool = False,
    validate_partition: bool = False,
    commit: SnapshotCommit | None = None,
    touched: set[str] | None = None,
    current: DataFrame | None = None,
) -> int:
    """Row-level MERGE INTO the current snapshot, published copy-on-write:
    rows in ``updates`` REPLACE current rows with matching ``keys``
    (matched-update), unmatched keys INSERT, and rows flagged true in
    ``delete_col`` (if given) DELETE their key.  Only the partitions
    ``updates`` touches are read, merged, and rewritten
    (:func:`upsert_snapshot`); everything else is inherited by reference
    — the Delta ``MERGE`` shape with partition-pruned copy-on-write.

    Contract: the partition column is part of row identity — an update
    must carry the partition value its key currently lives in (the
    partition-by-date fact discipline; a cross-partition move is an
    explicit delete in the old partition + insert in the new).  A
    violation silently leaves the key's OLD row in its untouched
    partition alongside the new one; ``validate_partition=True`` turns
    that into a fail-fast ValueError (one extra keys-join against the
    current snapshot — debug/CI mode, off by default on the hot path).
    Keys are assumed non-null.  A touched partition whose rows are all
    deleted is dropped from the new version.  ``keys`` is recorded in
    the manifest for ``snapshot_changes(collapse=True)``.

    ``touched`` (directory-string partition values of ``updates``) can
    be passed by callers that already computed it — the snapshot sink
    folds it into its per-batch counts aggregate — saving the
    distinct+collect job here.

    ``current`` injects an already-built (ideally persisted) read of
    the table's current version so a caller that has one — the snapshot
    sink reads the current version for its late-data guard immediately
    before merging — shares it instead of assembling and scanning the
    per-partition union a second time in the same cycle (r15).  It may
    be pre-pruned to the ``touched`` partitions (the sink persists
    exactly that subset); it feeds ONLY the ``existing``/survivors side,
    which filters to ``touched`` anyway.  ``validate_partition`` always
    reads its own full snapshot: its cross-partition-move probes must
    see keys whose current row lives in an UNTOUCHED partition."""
    from pyspark.sql import functions as F

    man = (commit or DEFAULT_COMMIT).manifest_for_write(table_path)
    prev = man["snapshots"].get(str(man["current"]))
    if prev is None or not prev.get("part_col"):
        raise ValueError(
            "merge_into_snapshot requires an existing partitioned snapshot"
        )
    part_col = prev["part_col"]
    spark = updates.sparkSession
    part_str = partition_key_expr(part_col)
    if touched is None:
        touched = {
            r[0]
            for r in updates.select(part_str.alias("p")).distinct().collect()
        }
    else:
        touched = set(touched)
    existing = (
        current
        if current is not None
        else read_snapshot(spark, table_path, commit=commit)
    ).where(partition_predicate(part_col, touched))

    if delete_col is not None:
        upserts = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
        matched = updates.drop(delete_col)
    else:
        upserts = matched = updates

    if validate_partition:
        # A key whose update row claims a different partition than the
        # key's CURRENT row has moved partitions without an explicit
        # delete — the merge would duplicate it.  The sanctioned move is
        # a delete row carrying the key's CURRENT (old) partition plus
        # an insert row in the new one, so validation checks BOTH
        # halves: a delete row in any partition other than the key's
        # current one is itself an error (it would silently no-op and
        # leave the old row alive), and only keys with a VALID delete
        # are exempt from the upsert-side check.  The probes join
        # key→partition projections only and stop at the first hits.
        # Always a FULL snapshot read — an injected (possibly
        # touched-pruned) `current` would hide exactly the moved keys
        # this validation exists to catch.
        cur_kp = read_snapshot(spark, table_path, commit=commit).select(
            *keys, part_str.alias("__cur_p")
        )
        upd_kp = upserts.select(*keys, part_str.alias("__upd_p")).distinct()
        if delete_col is not None:
            del_kp = (
                updates.filter(F.coalesce(F.col(delete_col), F.lit(False)))
                .select(*keys, part_str.alias("__del_p"))
                .distinct()
            )
            bad_del = (
                del_kp.join(cur_kp, list(keys))
                .where(F.col("__del_p") != F.col("__cur_p"))
                .take(3)
            )
            if bad_del:
                examples = [
                    {**{k: r[k] for k in keys},
                     "current": r["__cur_p"], "delete_row": r["__del_p"]}
                    for r in bad_del
                ]
                raise ValueError(
                    f"delete row(s) carry the wrong partition in MERGE on "
                    f"{part_col!r}: {examples} — a delete must name the "
                    f"partition its key currently lives in, or it silently "
                    f"no-ops and strands the old row"
                )
            upd_kp = upd_kp.join(
                del_kp.select(*keys), list(keys), "left_anti"
            )
        moved = (
            upd_kp.join(cur_kp, list(keys))
            .where(F.col("__upd_p") != F.col("__cur_p"))
            .take(3)
        )
        if moved:
            examples = [
                {**{k: r[k] for k in keys}, "current": r["__cur_p"], "update": r["__upd_p"]}
                for r in moved
            ]
            raise ValueError(
                f"cross-partition key move(s) in MERGE on {part_col!r}: "
                f"{examples} — an update must carry the partition its key "
                f"currently lives in; move a key with an explicit delete "
                f"(old partition) + insert (new partition)"
            )
    survivors = existing.join(
        matched.select(*keys).distinct(), list(keys), "left_anti"
    )
    # The updates frame defines the new version's column SET AND ORDER
    # (the schema-evolution contract): survivors align to it — an added
    # column is null on surviving rows, a column updates dropped
    # disappears — and the explicit projection also undoes the
    # key-columns-first reorder the list-form join applies, keeping the
    # recorded column order (and skip_unchanged) stable across replays.
    merged = survivors.unionByName(upserts, allowMissingColumns=True).select(
        *upserts.columns
    )
    # One materialization of the merge serves the fingerprint pre-scan
    # (or the write) and whatever runs second.
    merged = caching.persist(merged)
    try:
        # Partitions whose content is now empty must be DROPPED, not
        # inherited unchanged — resolved INSIDE upsert_snapshot against
        # the partition set its fingerprint scan (or the landed write)
        # computes anyway, instead of a dedicated distinct+collect job
        # over the merged frame here.
        return upsert_snapshot(
            merged,
            table_path,
            skip_unchanged=skip_unchanged,
            record_keys=keys,
            commit=commit,
            drop_if_absent=sorted(touched),
        )
    finally:
        caching.release(merged)


def compact_snapshot_partition(
    spark: SparkSession,
    table_path: str,
    partition: str,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
    zorder_cols: Sequence[str] | None = None,
    commit: SnapshotCommit | None = None,
) -> int:
    """Compact ONE partition of the current snapshot into right-sized
    files, published copy-on-write: reads the partition (wherever its
    ``src`` directory lives), repartitions to ceil(bytes/target) files,
    and publishes a new version whose only rewritten partition is this
    one — content-identical (same fingerprint), so readers see no data
    change, but the small-file accumulation a streaming MERGE sink
    builds up (one file set per micro-batch version) is collapsed.
    Returns the new version.  ``skip_unchanged`` is deliberately NOT
    applied: the content matches but the file layout is the point.

    Compaction doubles as LAYOUT OPTIMIZATION (Delta ``OPTIMIZE ...
    ZORDER BY``): ``sort_col`` range-clusters the rewrite so every
    output file owns a disjoint span of that column, and ``zorder_cols``
    (pre-scaled non-negative ints, see :func:`zorder_key`) Morton-
    clusters on several columns at once — either way the rewritten
    files carry narrow min/max footers, so subsequent filtered scans
    (and a stats manifest) prune most of them.  Mutually exclusive."""
    from pyspark.sql import functions as F

    man = (commit or DEFAULT_COMMIT).manifest_for_write(table_path)
    prev = man["snapshots"].get(str(man["current"]))
    if prev is None or not prev.get("part_col"):
        raise ValueError("compact_snapshot_partition requires a partitioned snapshot")
    part_col = prev["part_col"]
    meta = prev.get("parts", {}).get(str(partition))
    if meta is None:
        raise ValueError(
            f"partition {partition!r} not in current version "
            f"(have: {sorted(prev.get('parts', {}))[:5]}...)"
        )
    src_dir = os.path.join(
        table_path, meta.get("src_dir", os.path.join("snapshots", f"v{meta['src']}"))
    )
    part_dir = os.path.join(src_dir, f"{part_col}={partition}")
    if not os.path.isdir(part_dir):
        # Hive escapes special characters in partition directory names
        # (%2F and friends); resolve by unescaping the on-disk names.
        from urllib.parse import unquote

        for d in os.listdir(src_dir):
            if d.startswith(f"{part_col}=") and unquote(
                d.split("=", 1)[1]
            ) == str(partition):
                part_dir = os.path.join(src_dir, d)
                break
        else:
            raise ValueError(
                f"partition directory for {partition!r} not found under "
                f"{src_dir}"
            )
    if sort_col and zorder_cols:
        raise ValueError("pass sort_col OR zorder_cols, not both")
    n_files = max(1, math.ceil(_dir_bytes(part_dir) / target_file_bytes))
    if partition == _NULL_PART:
        pred = F.col(part_col).isNull()
    else:
        pred = F.col(part_col).cast("string") == partition
    rows = read_snapshot(spark, table_path, commit=commit).where(pred)
    if sort_col:
        rows = rows.repartitionByRange(n_files, sort_col).sortWithinPartitions(
            sort_col
        )
    elif zorder_cols:
        if "__z" in rows.columns:
            # zorder_layout's helper column would silently REPLACE a
            # real column of that name and publish Morton keys as data.
            raise ValueError(
                "table has a column named '__z', which collides with the "
                "z-order helper column; rename it before z-compacting"
            )
        cols = rows.columns
        rows = zorder_layout(rows, list(zorder_cols), n_files).select(*cols)
    else:
        rows = rows.repartition(n_files)
    # The rewrite's file count and clustering ARE the product here —
    # keep them through the version write (no REBALANCE).
    return upsert_snapshot(
        rows, table_path, commit=commit, preserve_layout=True
    )


def _resolve_snapshot(
    table_path: str,
    version: int | None,
    commit: SnapshotCommit | None = None,
) -> tuple[int, dict]:
    """(version, entry) for ``version`` (default: current), with the
    one retained-versions error message every resolver shares.  The
    manifest comes from the commit protocol's ``manifest_for_read`` —
    for the default POSIX protocol that is the local file; for the
    conditional-put protocol it is the STORE copy (mirror refreshed as
    a cache), so a reader on a host with an absent or stale mirror
    still resolves the latest committed state."""
    man = (commit or DEFAULT_COMMIT).manifest_for_read(table_path)
    version = man["current"] if version is None else version
    snap = man["snapshots"].get(str(version))
    if snap is None:
        raise ValueError(
            f"version {version} not available (retained: "
            f"{sorted(int(v) for v in man['snapshots'])})"
        )
    return version, snap


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    commit: SnapshotCommit | None = None,
) -> DataFrame:
    """Read the table as-of ``version`` (default: current).  Raises a
    clear error for unknown or vacuumed versions.

    ``commit`` selects the protocol whose manifest resolves the read
    (``manifest_for_read``): pass the table's
    :class:`ConditionalPutSnapshotCommit` to bootstrap from the object
    store on a host whose local mirror is absent or stale — the mirror
    is refreshed as a cache on the way through.

    Partitioned versions may inherit partitions from older version
    directories (``upsert_snapshot``): the read assembles per-source
    partition-pruned scans and unions them.  Partition values are read
    with inference OFF and cast back to the recorded ``part_type``, so
    the column round-trips with the WRITER's exact type — a string
    ``"05"`` stays ``"05"``, never a re-inferred ``5``."""
    version, snap = _resolve_snapshot(table_path, version, commit)
    pc = snap.get("part_col")
    if not pc or not snap.get("parts"):
        # Unpartitioned — or an empty partitioned version, stored as one
        # empty typed file with part_col as a regular column.
        return spark.read.parquet(os.path.join(table_path, snap["dir"]))
    return _assemble_partitioned_read(
        spark, table_path, snap, version, snap["parts"]
    )


def _assemble_partitioned_read(
    spark: SparkSession,
    table_path: str,
    snap: dict,
    version: int,
    parts: dict,
) -> DataFrame:
    """Union of per-source partition-pruned scans over ``parts`` (a
    subset of the version's partition map — the skipping reader passes
    the survivors).  An EMPTY subset returns an empty frame with the
    version's schema."""
    from pyspark.sql import functions as F

    from cryptocurrency_data_pipeline_spark.sources.tables import (
        partition_inference_off,
    )

    pc = snap["part_col"]
    if not parts:
        # Every partition pruned: empty frame, version schema.  Assemble
        # over ONE partition (the map is non-empty here — an
        # empty-version snap is routed to its typed empty file before
        # this helper is reached) and filter to nothing — the best case
        # of the skipping read must not pay footer/listing I/O across
        # every source directory just to produce zero rows.
        k = next(iter(snap["parts"]))
        one = _assemble_partitioned_read(
            spark, table_path, snap, version, {k: snap["parts"][k]}
        )
        return one.where(F.lit(False))
    groups: dict[str, list[str]] = {}
    for k, meta in parts.items():
        src_dir = meta.get(
            "src_dir",
            os.path.join("snapshots", f"v{meta.get('src', version)}"),
        )
        groups.setdefault(src_dir, []).append(k)
    part_type = snap.get("part_type", "string")
    frames = []
    with partition_inference_off(spark):
        for src_dir in sorted(groups):
            df = spark.read.parquet(os.path.join(table_path, src_dir))
            if not (
                len(groups) == 1
                and src_dir == snap["dir"]
                and len(parts) == len(snap["parts"])
            ):
                # Source dirs hold partitions beyond the wanted set; a
                # partition-only IN filter prunes to ours at planning.
                keys = groups[src_dir]
                vals = [k for k in keys if k != _NULL_PART]
                pred = F.col(pc).isin(vals)
                if _NULL_PART in keys:
                    pred = pred | F.col(pc).isNull()
                df = df.where(pred)
            frames.append(df)
    out = frames[0]
    for f in frames[1:]:
        # allowMissingColumns: schema evolution — a column ADDED by the
        # version that wrote one group is null on groups inherited from
        # versions that predate it (and vice versa for drops, resolved
        # by the select below).
        out = out.unionByName(f, allowMissingColumns=True)
    cols = snap.get("columns")
    if cols:
        # The version's recorded column set wins: columns its writer no
        # longer carries are dropped from the assembled read.
        out = out.select(*cols)
    return out.withColumn(pc, F.col(pc).cast(part_type))


def read_snapshot_with_stats_skipping(
    spark: SparkSession,
    table_path: str,
    ranges: dict[str, tuple],
    version: int | None = None,
    commit: SnapshotCommit | None = None,
) -> tuple[DataFrame, dict]:
    """Range-predicate read of a snapshot version that drops whole
    PARTITIONS through the manifest's per-partition min/max envelopes
    before any scan is planned — the manifest-level half of the
    data-skipping story (:func:`read_with_skipping` covers per-file
    pruning inside a plain directory).

    ``ranges`` maps column → ``(lo, hi)``, either bound open.  A
    partition survives iff every constrained column's envelope
    intersects ``[lo, hi]``; entries written before stats were enabled
    carry no envelope and are conservatively kept.  The residual
    predicate is applied to surviving rows, so the result is EXACT —
    value-identical to filtering the full read.  Returns ``(df,
    report)`` with ``partitions_total / read / skipped`` counts.

    Scale shape: pruning is O(partitions) driver-side dict work over
    state the write path already maintains; a time-correlated predicate
    on a dt-partitioned 100 TB table plans scans for only the matching
    days' directories."""
    version, snap = _resolve_snapshot(table_path, version, commit)
    if not snap.get("part_col"):
        raise ValueError(
            "read_snapshot_with_stats_skipping requires a partitioned "
            "version (write the table with part_col= and stats_cols=)"
        )
    # Validate BEFORE the empty-version shortcut: a typo'd range column
    # must raise identically whether the version happens to hold rows —
    # otherwise misconfiguration stays silent until data lands.
    recorded = snap.get("stats_cols", [])
    missing = [c for c in ranges if c not in recorded]
    if missing:
        raise ValueError(
            f"no partition stats recorded for columns: {missing} "
            f"(version {version} records {recorded})"
        )
    if not snap.get("parts"):
        # Empty partitioned version (one typed empty file): nothing to
        # prune, nothing to read.
        df = read_snapshot(spark, table_path, version, commit)
        return df, {
            "partitions_total": 0,
            "partitions_read": 0,
            "partitions_skipped": 0,
        }
    ranges = _canonical_ranges(ranges)
    parts = snap.get("parts", {})
    keep = {
        k: meta
        for k, meta in parts.items()
        if _stats_intersects(meta.get("stats"), ranges)
    }
    df = _apply_residual(
        _assemble_partitioned_read(spark, table_path, snap, version, keep),
        ranges,
    )
    report = {
        "partitions_total": len(parts),
        "partitions_read": len(keep),
        "partitions_skipped": len(parts) - len(keep),
    }
    return df, report


def list_snapshots(
    table_path: str, commit: SnapshotCommit | None = None
) -> list[dict]:
    """Retained snapshots, oldest first: [{version, n_rows, current}]."""
    man = (commit or DEFAULT_COMMIT).manifest_for_read(table_path)
    return [
        {
            "version": int(v),
            "n_rows": meta["n_rows"],
            "current": int(v) == man["current"],
        }
        for v, meta in sorted(man["snapshots"].items(), key=lambda kv: int(kv[0]))
    ]


# --------------------------------------------------------------------------
# File-level stats manifest + data-skipping reads.
#
# The other half of the z-order story: `zorder_layout` gives every file a
# narrow min/max range on the clustered columns; this records those ranges
# in a manifest (the Delta `add.stats` / Iceberg manifest-entry pattern)
# and prunes the FILE LIST before Spark ever plans the scan.  Parquet
# row-group statistics prune *after* the reader has listed, footer-read,
# and scheduled a task per file — at 100 TB / ~1M files, listing and task
# scheduling are themselves the bottleneck, so a selective predicate wants
# driver-side pruning to O(matching files).  Stats are one aggregation
# pass (min/max/valuecount per column, grouped by input file); the
# manifest is O(files × cols), driver-sized by construction.
# --------------------------------------------------------------------------

def _stats_manifest_path(path: str) -> str:
    return os.path.join(path, "_file_stats.json")


def _rel_under(root: str, f: str) -> str:
    """Path of ``f`` relative to ``root`` (both raw on-disk forms)."""
    return f[f.find(root) + len(root):].lstrip("/") if root in f else f


def _rel_uri_under(root: str, f: str) -> str:
    """Relative on-disk path for a MANIFEST key.  Manifest keys come
    from ``input_file_name()``: ``file:`` URIs with percent-encoding
    (space -> %20; a Hive-escaped ':' dir ``p=a%3Ab`` double-encodes to
    ``p=a%253Ab``).  One unquote maps them back to the raw names
    os.walk reports.  Decode BEFORE the root match — the root portion
    of the URI is encoded too, so a table path containing a space/'%'
    would otherwise never substring-match and every call would read as
    stale.  (Entries the indexer backfills for zero-row files are
    stored ``quote()``-encoded so this same decode applies uniformly.)"""
    from urllib.parse import unquote

    return _rel_under(root, unquote(f))


def _list_parquet_rel(path: str) -> dict[str, str]:
    """Recursive ``{relative: absolute}`` listing of the table's data
    files (``_``/``.`` sidecars skipped) — the ONE walk the stats layer
    shares, so the freshness gate and the indexers can never disagree
    about what counts as a data file."""
    root = path.rstrip("/")
    out: dict[str, str] = {}
    for walk_root, dirs, fnames in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in fnames:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                p = os.path.join(walk_root, fn)
                out[_rel_under(root, p)] = p
    return out


def write_json_durable(target: str, obj) -> None:
    """tmp-write + data fsync + atomic rename + directory fsync: the
    :class:`PosixSnapshotCommit` durability rule applied to every
    sidecar manifest — without the data fsync a power loss can make the
    RENAME durable while the bytes are not, leaving a 0-byte manifest
    that bricks every subsequent read.

    The temp name is UNIQUE per call (mkstemp): sidecar writers hold no
    flock, so a fixed ``<target>.tmp`` would let two concurrent
    refreshes truncate each other's staged bytes and publish a torn
    file — last-rename-wins over complete staged files is the most a
    lockless writer can promise, and this delivers exactly that."""
    import contextlib
    import tempfile

    d = os.path.dirname(target) or "."
    fd, tmp = tempfile.mkstemp(
        dir=d, prefix=os.path.basename(target) + ".", suffix=".tmp"
    )
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            # mkstemp creates 0600 and os.replace keeps the TEMP file's
            # permissions — without this a previously world-readable
            # manifest loses other-user read on its first rewrite.
            # Preserve the existing target's mode; for a fresh file,
            # emulate the ordinary open() default (0666 through the
            # umask) ONLY when the umask is actually readable (procfs):
            # chmodding against a guessed umask can WIDEN modes relative
            # to a stricter real one, so on unknown-umask platforms the
            # fresh file keeps mkstemp's 0600 — never looser than any
            # file this process creates.
            try:
                import stat

                mode = stat.S_IMODE(os.stat(target).st_mode)
            except FileNotFoundError:
                um = _current_umask()
                mode = None if um is None else 0o666 & ~um
            if mode is not None:
                os.fchmod(f.fileno(), mode)
            os.fsync(f.fileno())
        os.replace(tmp, target)
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _check_stat_cols(df: DataFrame, stat_cols: list[str]) -> None:
    from pyspark.sql.types import DecimalType

    decimals = [
        c for c in stat_cols if isinstance(df.schema[c].dataType, DecimalType)
    ]
    if decimals:
        # Decimal min/max would round-trip through JSON as strings whose
        # lexical order is not numeric order ("10" < "9") — wrong pruning,
        # silently.  Cast to double in a view first if approximate bounds
        # are acceptable.
        raise ValueError(f"decimal stat columns unsupported: {decimals}")


def _collect_file_stats(df: DataFrame, stat_cols: list[str]) -> dict:
    """Per-file min/max/non-null entries keyed by ``input_file_name()``
    — the one aggregation full and incremental indexing share.  A
    ZERO-ROW file contributes no group here; callers must backfill
    :func:`_empty_stats_entry` for listed files that produced none, or
    the freshness gate reads the table as permanently stale."""
    from pyspark.sql import functions as F

    aggs = []
    for c in stat_cols:
        aggs += [
            F.min(c).alias(f"min__{c}"),
            F.max(c).alias(f"max__{c}"),
            F.count(c).alias(f"nnn__{c}"),
        ]
    rows = df.groupBy(F.input_file_name().alias("__file")).agg(*aggs).collect()
    files = {}
    for r in rows:
        d = r.asDict()
        files[d.pop("__file")] = {
            c: {
                "min": _json_safe(d[f"min__{c}"]),
                "max": _json_safe(d[f"max__{c}"]),
                "n_nonnull": d[f"nnn__{c}"],
            }
            for c in stat_cols
        }
    return files


def _canonical_ranges(ranges: dict) -> dict:
    """Caller bounds in the manifest's value representation (dates →
    ISO strings) so both sides of every pruning comparison agree — the
    one mapping both skipping readers share."""
    return {c: (_json_safe(lo), _json_safe(hi)) for c, (lo, hi) in ranges.items()}


def _apply_residual(df: DataFrame, ranges: dict) -> DataFrame:
    """Exact residual predicate over pruning survivors: skipping is
    unit-granular (file or partition), the filter is row-exact."""
    from pyspark.sql import functions as F

    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(c) <= F.lit(hi))
    return df


def _stats_intersects(stats: dict | None, ranges: dict) -> bool:
    """True iff a unit (file or partition) with min/max envelope
    ``stats`` can contain rows satisfying every range in ``ranges``
    (bounds already in manifest representation).  ``None`` stats —
    a unit recorded before stats were enabled — is conservatively
    kept; a column with zero non-null values can satisfy no range
    constraint, so it prunes."""
    if stats is None:
        return True
    for c, (lo, hi) in ranges.items():
        if lo is None and hi is None:
            continue  # no constraint — never prunes, not even all-null units
        s = stats.get(c)
        if s is None:
            continue  # unit predates this stat column: conservative keep
        if s["n_nonnull"] == 0:
            return False
        if lo is not None and s["max"] is not None and s["max"] < lo:
            return False
        if hi is not None and s["min"] is not None and s["min"] > hi:
            return False
    return True


def _empty_stats_entry(stat_cols: list[str]) -> dict:
    """Entry for a zero-row parquet file (an empty micro-batch append,
    an over-partitioned write): no values at all, so ``n_nonnull = 0``
    for every column — :func:`read_with_skipping` prunes it under any
    constraint and reads it (harmlessly) under none."""
    return {c: {"min": None, "max": None, "n_nonnull": 0} for c in stat_cols}


def _backfill_zero_row_entries(
    files: dict, stat_cols: list[str], root: str, listed_rel
) -> None:
    """Add empty-stats entries for listed files the aggregation never
    saw (zero-row part files).  Keys are ``quote()``-encoded relative
    paths so :func:`_rel_uri_under`'s one-unquote decode applies to
    them exactly as to ``input_file_name()`` URIs."""
    from urllib.parse import quote

    seen = {_rel_uri_under(root, f) for f in files}
    for r in listed_rel:
        if r not in seen:
            files[quote(r)] = _empty_stats_entry(stat_cols)


def write_stats_manifest(spark: SparkSession, path: str, stat_cols: list[str]) -> int:
    """Index ``path``'s parquet files: per-file min/max/non-null count for
    each of ``stat_cols``, persisted to ``_file_stats.json``.  One
    distributed aggregation over the table (map-side combine; the shuffle
    key is the file name, cardinality = file count); the collect is the
    manifest itself, never data.  Returns the number of files indexed."""
    df = spark.read.parquet(path)
    _check_stat_cols(df, stat_cols)
    files = _collect_file_stats(df, stat_cols)
    root = path.rstrip("/")
    _backfill_zero_row_entries(files, stat_cols, root, _list_parquet_rel(path))
    write_json_durable(
        _stats_manifest_path(path), {"columns": stat_cols, "files": files}
    )
    return len(files)


def _json_safe(v):
    """Manifest-serializable min/max: dates/timestamps become ISO strings
    (lexical order == temporal order, so string compares prune
    correctly); numerics and strings pass through.  Caller bounds go
    through the same mapping (`read_with_skipping`) so both sides of
    every comparison share a representation."""
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def update_stats_manifest(spark: SparkSession, path: str) -> dict:
    """Incrementally refresh ``_file_stats.json``: aggregate stats for
    ONLY the files added since the last index, drop entries for files
    that disappeared (compaction/vacuum rewrote them), leave everything
    else untouched.  At a streaming-append cadence this is the
    difference between O(new files) per refresh and re-scanning the
    whole table (``write_stats_manifest``) every time — the Delta
    behavior, where each commit carries stats for its own added files
    only.  Returns ``{"added": n, "removed": n, "total": n}``."""
    with open(_stats_manifest_path(path)) as f:
        man = json.load(f)
    stat_cols = man["columns"]
    root = path.rstrip("/")
    on_disk = _list_parquet_rel(path)
    indexed = {_rel_uri_under(root, k): k for k in man["files"]}
    removed = [orig for r, orig in indexed.items() if r not in on_disk]
    new_rel = sorted(r for r in on_disk if r not in indexed)
    for orig in removed:
        del man["files"][orig]
    added = 0
    if new_rel:
        base_schema = spark.read.parquet(path).schema
        df = (
            spark.read.option("basePath", path)
            .schema(base_schema)
            .parquet(*[on_disk[r] for r in new_rel])
        )
        _check_stat_cols(df, stat_cols)
        fresh = _collect_file_stats(df, stat_cols)
        _backfill_zero_row_entries(fresh, stat_cols, root, new_rel)
        man["files"].update(fresh)
        added = len(fresh)
    write_json_durable(_stats_manifest_path(path), man)
    return {"added": added, "removed": len(removed), "total": len(man["files"])}


def read_with_skipping(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
) -> tuple[DataFrame, dict]:
    """Range-predicate scan that prunes the file list through the stats
    manifest before planning.

    ``ranges`` maps column → ``(lo, hi)`` (either bound may be None for
    half-open).  A file is read iff every predicate's ``[lo, hi]``
    intersects the file's recorded ``[min, max]``; all-null files cannot
    satisfy a range predicate and are skipped.  The residual predicate is
    still applied to the surviving rows (skipping is file-granular, the
    filter is exact).  Returns ``(df, report)`` where report counts
    ``files_total / files_read / files_skipped`` — the scan's actual task
    count shrinks with ``files_read``, which is the point at 1M files.
    """
    with open(_stats_manifest_path(path)) as f:
        man = json.load(f)
    missing = [c for c in ranges if c not in man["columns"]]
    if missing:
        raise ValueError(f"no stats recorded for columns: {missing}")
    # Hive-partitioned layouts work: survivors are read with
    # ``basePath`` so dir-derived partition columns are preserved (a
    # bare by-file read would lose them — silently wrong results).  A
    # partition column can itself be a stat column: each file's value is
    # constant (min == max), so file pruning subsumes partition pruning
    # for range predicates on it.
    root = path.rstrip("/")

    def rel_uri(f: str) -> str:
        return _rel_uri_under(root, f)

    partitioned = any("=" in rel_uri(f) for f in man["files"])
    # Freshness gate: pruning from a stale manifest silently DROPS every
    # row of a file appended after indexing (and dangles on files a
    # compaction rewrote).  One driver-side recursive listing — the SAME
    # listing the indexers use, so gate and index can never disagree.
    on_disk = set(_list_parquet_rel(path))
    indexed = {rel_uri(f) for f in man["files"]}
    if on_disk != indexed:
        raise ValueError(
            "stats manifest is stale (directory changed since "
            f"write_stats_manifest: +{sorted(on_disk - indexed)[:3]} "
            f"-{sorted(indexed - on_disk)[:3]}); re-index first"
        )
    ranges = _canonical_ranges(ranges)

    keep = []
    for fname, stats in man["files"].items():
        if _stats_intersects(stats, ranges):
            # Surviving files are read by their DECODED on-disk paths:
            # Spark's reader treats arguments as paths, not URIs, so the
            # percent-encoded input_file_name form would be looked up
            # literally (and miss).
            keep.append(os.path.join(path, rel_uri(fname)))

    report = {
        "files_total": len(man["files"]),
        "files_read": len(keep),
        "files_skipped": len(man["files"]) - len(keep),
    }
    base_schema = spark.read.parquet(path).schema
    if not keep:
        df = spark.createDataFrame([], base_schema)
    elif partitioned:
        # basePath keeps the dir-derived partition columns on a by-file
        # read; the explicit schema pins their types to the full-table
        # read's inference, so pruned and unpruned scans agree.
        df = (
            spark.read.option("basePath", path)
            .schema(base_schema)
            .parquet(*keep)
        )
    else:
        df = spark.read.schema(base_schema).parquet(*keep)
    return _apply_residual(df, ranges), report


def changed_partitions(
    table_path: str,
    v_from: int,
    v_to: int,
    commit: SnapshotCommit | None = None,
) -> tuple[str, list[str]] | None:
    """Compare two snapshots' per-partition fingerprints; returns
    ``(part_col, changed_values)`` — partitions whose content differs or
    that exist on only one side — or ``None`` when either snapshot lacks
    fingerprints (unpartitioned write) or the partition columns disagree.
    Pure manifest work: O(partitions) on the driver, zero data read."""
    man = (commit or DEFAULT_COMMIT).manifest_for_read(table_path)
    sa = man["snapshots"].get(str(v_from), {})
    sb = man["snapshots"].get(str(v_to), {})
    pc = sa.get("part_col")
    if not pc or pc != sb.get("part_col"):
        return None
    pa, pb = sa["parts"], sb["parts"]

    def fp(meta):  # compare CONTENT only: an inherited partition whose
        # src moved (copy-on-write) is not a change
        return None if meta is None else (meta.get("n"), meta.get("fp"))

    changed = sorted(
        k for k in set(pa) | set(pb) if fp(pa.get(k)) != fp(pb.get(k))
    )
    return pc, changed


def snapshot_changes(
    spark: SparkSession,
    table_path: str,
    v_from: int,
    v_to: int,
    collapse: bool = False,
    keys: Sequence[str] | None = None,
    commit: SnapshotCommit | None = None,
) -> DataFrame:
    """Change feed between two retained snapshot versions: every row of
    ``v_to`` not present in ``v_from`` tagged ``insert``, every row of
    ``v_from`` missing from ``v_to`` tagged ``delete`` (an update
    appears as its delete + insert pair — row-identity semantics, like a
    table format's change-data-feed without primary-key metadata).

    Implementation is two ``exceptAll`` passes — each ONE hash-partition
    exchange per side on the full row, no driver-side diffing — so a
    downstream consumer can incrementally apply v_from → v_to instead of
    re-reading the whole new snapshot.  Multiset semantics: duplicate
    rows diff by count, not presence.

    When both snapshots were written with ``part_col``, the manifest's
    per-partition fingerprints confine the diff to the CHANGED partitions
    first (:func:`changed_partitions`): both scans carry a partition-only
    predicate that Spark prunes at planning, so a one-partition edit
    reads and shuffles one partition per side, not two full tables.
    :func:`read_snapshot` restores the writer's exact partition type, so
    the manifest's directory-string keys compare correctly against
    ``cast(part_col as string)`` and the feed's schema matches the
    snapshots consumers apply it to.

    ``collapse=True`` upgrades the feed to key-aware CDC (the Delta
    change-data-feed shape): a key present on both sides has its pair
    re-tagged ``update_preimage`` (old row) / ``update_postimage`` (new
    row); keys on one side only stay ``insert`` / ``delete``.  ``keys``
    defaults to the row-identity columns recorded in ``v_to``'s manifest
    entry (``merge_into_snapshot`` records them).  Cost: one extra hash
    exchange on the keys — over the already-pruned change set, never the
    table."""
    from pyspark.sql import functions as F

    if collapse:
        man = (commit or DEFAULT_COMMIT).manifest_for_read(table_path)
        keys = list(keys) if keys else man["snapshots"].get(str(v_to), {}).get(
            "keys"
        )
        if not keys:
            raise ValueError(
                "collapse=True needs the row-identity columns: pass keys=… "
                "or record them at write time (merge_into_snapshot does, "
                "or write_snapshot/upsert_snapshot record_keys=…)"
            )
    a = read_snapshot(spark, table_path, v_from, commit)
    b = read_snapshot(spark, table_path, v_to, commit)
    pruned = changed_partitions(table_path, v_from, v_to, commit)
    if pruned is not None:
        pc, changed = pruned
        pred = partition_predicate(pc, changed)
        a, b = a.where(pred), b.where(pred)
    feed = b.exceptAll(a).withColumn("_change", F.lit("insert")).unionByName(
        a.exceptAll(b).withColumn("_change", F.lit("delete"))
    )
    if collapse:
        from pyspark.sql.window import Window

        # A key with EXACTLY one insert and one delete in the feed is an
        # update; min/max + count over the key's window detect that in
        # one pass (no self-join).  Keys that violate the unique-key
        # contract (more than one row per side — record_keys accepts
        # arbitrary columns, nothing enforces uniqueness) keep their raw
        # insert/delete tags rather than being mis-paired: a consumer
        # applying pre/post 1:1 must never see an unbalanced pair.
        w = Window.partitionBy(*keys)
        pair = (
            (F.min("_change").over(w) != F.max("_change").over(w))
            & (F.count(F.lit(1)).over(w) == 2)
        )
        feed = feed.withColumn(
            "_change",
            F.when(
                pair,
                F.when(F.col("_change") == "insert", F.lit("update_postimage"))
                .otherwise(F.lit("update_preimage")),
            ).otherwise(F.col("_change")),
        )
    return feed


def _referenced_dirs(man: dict) -> set[str]:
    """Relative snapshot-dir names referenced by retained versions —
    their own directories plus every partition's ``src_dir`` (a dropped
    version's directory must survive while inherited from)."""
    refs = set()
    for v, meta in man["snapshots"].items():
        refs.add(os.path.basename(meta["dir"]))
        for p in meta.get("parts", {}).values():
            refs.add(
                os.path.basename(
                    p.get("src_dir", f"snapshots/v{p.get('src', v)}")
                )
            )
    return refs


def _newest_mtime(path: str) -> float:
    """Newest modification time anywhere under ``path`` (including the
    directory entries themselves).  The TOP-LEVEL mtime alone is not a
    liveness signal for an in-flight Spark write: tasks stream output
    under ``_temporary/...`` for hours without touching the root dir's
    mtime.  One driver-side walk, same cost class as ``_dir_bytes``."""
    newest = 0.0
    for root, _dirs, files in os.walk(path):
        for p in [root, *(os.path.join(root, f) for f in files)]:
            try:
                newest = max(newest, os.path.getmtime(p))
            except OSError:
                pass
    return newest


def vacuum_snapshots(
    table_path: str,
    keep_last: int = 2,
    orphan_grace_seconds: float = 86400.0,
    commit: SnapshotCommit | None = None,
) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (the current one
    is always kept).  Manifest updates FIRST (through the commit
    protocol, so a concurrent writer's commit is never erased), then
    directories are removed — a crash mid-vacuum leaves unreferenced
    dirs (harmless, re-vacuumable), never a referenced-but-deleted
    version.

    RETENTION CONTRACT (readers vs vacuum): ``read_snapshot`` returns a
    lazy DataFrame — the files are opened at ACTION time, not at call
    time.  A reader holding a frame over a version that stays retained
    (within ``keep_last``) is safe across a vacuum: its directories are
    never touched.  A reader over a version the vacuum EXPIRES fails at
    its next action (file-not-found) once the directory is swept — so
    size ``keep_last`` to cover your longest reader/job lifetime, the
    same operational rule as Delta's ``deletedFileRetentionDuration`` vs
    streaming-consumer lag.  Asking ``read_snapshot`` for an expired
    version fails fast with a clear ValueError.

    Copy-on-write aware: a dropped version's DIRECTORY survives as long
    as any retained version still inherits a partition from it (its
    ``src_dir`` entries) — expiring a snapshot and deleting its files
    are separate events, exactly as in Iceberg's expire-snapshots/
    remove-orphans split.

    Directory sweep: dirs the manifest knew (now-expired versions) are
    removed immediately; dirs the manifest NEVER referenced (a crashed
    or in-flight writer's uniquely-named staging data) are removed only
    once the NEWEST mtime anywhere inside them is older than
    ``orphan_grace_seconds`` — an in-flight writer keeps touching files
    under ``_temporary/`` and is spared, a crashed writer's abandoned
    dir goes quiet and is reclaimed (Iceberg's ``remove_orphan_files
    older_than``, which defaults to 3 DAYS for the same reason: the
    window must exceed your longest write job, so the 1-day default
    here is a floor, not a recommendation to lower).  Returns the
    versions expired from the manifest."""
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # Vacuum MUST see the protocol's authoritative state: sweeping
    # directories against a stale local mirror could reclaim data a
    # fresher store manifest still references.
    man = (commit or DEFAULT_COMMIT).manifest_for_write(table_path)
    known_before = _referenced_dirs(man)
    versions = sorted(int(v) for v in man["snapshots"])
    drop = [v for v in versions[:-keep_last] if v != man["current"]]
    if drop:
        base_current = man["current"]

        def mutate(fresh: dict) -> dict:
            # A commit that landed after this vacuum's load would be
            # ERASED by writing the stale copy (and its data later
            # deleted as an apparent orphan) — same gate as a write.
            if fresh["current"] != base_current:
                raise ConcurrentSnapshotWriteError(
                    "a writer committed during vacuum; re-run vacuum "
                    "against the new state"
                )
            for v in drop:
                fresh["snapshots"].pop(str(v), None)
            return fresh

        man = (commit or DEFAULT_COMMIT).commit_manifest(table_path, mutate)
    referenced = _referenced_dirs(man)
    # The sweep runs even when nothing newly expires, so a crash between
    # a previous vacuum's manifest write and its sweep stays
    # re-vacuumable.
    snap_root = os.path.join(table_path, "snapshots")
    now = time.time()
    unknown_candidates = []
    if os.path.isdir(snap_root):
        for d in os.listdir(snap_root):
            full = os.path.join(snap_root, d)
            if d in referenced or not os.path.isdir(full):
                continue
            if d not in known_before:
                # Never manifest-referenced: possibly an IN-FLIGHT
                # writer's data (it commits only after writing) — only
                # reclaim once clearly abandoned: no file anywhere
                # inside has been touched within the grace window.
                if now - _newest_mtime(full) < orphan_grace_seconds:
                    continue
                unknown_candidates.append(d)
                continue
            # Expired manifest-known dirs can never be re-referenced (new
            # versions mint fresh uuid dirs; inheritance only copies
            # src_dir from still-retained versions) — safe outside the
            # lock.
            shutil.rmtree(full, ignore_errors=True)
    if unknown_candidates:
        # A stalled writer could COMMIT its staged dir between our check
        # and the rmtree, bricking the newly-published version.  Deleting
        # under the commit lock with a fresh manifest re-check closes the
        # race: commits serialize against the same lock, and
        # _commit_version's own isdir gate covers writers that would
        # commit right after we release it.
        def sweep(fresh: dict) -> dict:
            refs_now = _referenced_dirs(fresh)
            for d in unknown_candidates:
                if d not in refs_now:
                    shutil.rmtree(os.path.join(snap_root, d), ignore_errors=True)
            return fresh

        (commit or DEFAULT_COMMIT).commit_manifest(table_path, sweep)
    return drop
