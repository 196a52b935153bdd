"""Incremental batch ingest: a processed-files ledger (Glue job-bookmark
parity, SURVEY §2.1 S3 / §4 "Incremental scan").

The reference gets incrementality from Glue's ``transformation_ctx``
bookmark (glue/data_transform_s3.py:52) — opaque, AWS-only.  Here it is an
explicit ledger: a tiny parquet table of file paths already processed.
``new_files`` anti-joins the current listing against the ledger;
``commit`` appends the batch just processed.  The Structured Streaming file
source (streaming/pipeline.py) is the preferred path; this exists for
plain-batch jobs that need resumability without a streaming runtime.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching

#: Paths per anti-join chunk.  The walk streams; the driver holds at most
#: one chunk of candidate paths plus the (bounded) fresh batch at a time,
#: so a million-file backlog costs O(chunk + batch) driver memory, never
#: a million-entry list.  20k paths is ~2 MB and keeps the per-chunk
#: Spark job count low (a fully-fresh million-file backlog with the
#: default 100k batch stops after ~6 chunks).
_CHUNK_FILES = 20_000


def _ledger(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    """The ledger, or None ONLY when it genuinely does not exist yet.
    Any other read failure (corrupt footer from a crashed commit,
    permission error) must propagate: mapping it to 'no ledger' would
    silently reprocess the entire input history and append duplicates
    downstream."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(ledger_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise


def _walk_lex(input_dir: str) -> Iterator[str]:
    """Stream file paths under ``input_dir`` in EXACT global
    string-lexicographic order, lazily (one directory's entries in
    memory at a time — never the whole tree).

    The order matters twice: (a) deterministic oldest-first draining for
    date-partitioned layouts, and (b) it is what makes the bounded batch
    correct with an early-stopped walk — the first N fresh paths
    encountered ARE the N lexicographically-smallest fresh paths, so no
    global sort (and no full listing) is ever needed.

    Within a directory, a subdirectory named ``a`` sorts as ``a/``
    (its descendants all share that prefix) while a file sorts as its
    bare name — so ``a.txt`` (0x2E) correctly precedes everything under
    ``a/`` (0x2F), matching plain string comparison of the full paths.

    Hidden/underscore entries are pruned at every level: a concurrent
    Spark writer's in-flight rows live under _temporary/.staging, and
    their part-file basenames pass the name check — ingesting them
    reads torn files AND double-processes the data when the writer
    commits it to its final (different-path) location.
    """
    entries: list[tuple[str, str, bool]] = []
    try:
        with os.scandir(input_dir) as it:
            for e in it:
                if e.name.startswith((".", "_")):
                    continue
                is_dir = e.is_dir(follow_symlinks=False)
                # A symlink to a DIRECTORY is neither a file nor a walked
                # subtree: os.walk(followlinks=False) — the semantics this
                # streamed walk replaced — listed it in dirnames and never
                # descended, so no path under it was ever yielded.
                # Classifying it by is_dir(follow_symlinks=False) had it
                # yielded as a single FILE path (ADVICE r13): the whole
                # linked tree got "ingested" via one committed ledger row,
                # and files added under it later were silently skipped as
                # already-processed.  Skip it explicitly.  (A symlink to a
                # regular file stays a file — same as os.walk.)
                if not is_dir and e.is_symlink() and e.is_dir(
                    follow_symlinks=True
                ):
                    continue
                entries.append(
                    (e.name + ("/" if is_dir else ""), e.path, is_dir)
                )
    except FileNotFoundError:
        return
    entries.sort()
    for _, path, is_dir in entries:
        if is_dir:
            yield from _walk_lex(path)
        else:
            yield path


def new_files_batch(
    spark: SparkSession,
    input_dir: str,
    ledger_path: str,
    max_batch_files: int = 100_000,
    chunk_files: int = _CHUNK_FILES,
) -> tuple[list[str], bool]:
    """(next batch of unprocessed paths, has_more backlog flag).

    The batch is the lexicographically-smallest ``max_batch_files``
    paths under ``input_dir`` not yet in the ledger; ``has_more`` is
    True iff at least one further fresh path remains after this batch
    (detected by finding ``max_batch_files + 1`` fresh paths before
    stopping), so a single-pass caller can tell a drained source from a
    partial batch without a second listing.

    Driver memory is bounded at O(chunk_files + max_batch_files): the
    walk streams (``_walk_lex``), candidates are anti-joined against
    the ledger one chunk at a time (the ledger side stays in Spark and
    may grow unbounded), and the walk STOPS as soon as the batch is
    overfull — a million-file backlog with the default cap touches
    ~120k paths, not a million.  A backlogged source is drained in
    deterministic lexicographic batches (date-partitioned layouts sort
    chronologically, so oldest data drains first): each committed batch
    shrinks the next anti-join, and loop-until-empty converges.  The
    bounded batch also bounds the process-then-commit unit — one
    failure reprocesses one batch under the at-least-once contract,
    never the whole backlog.
    """
    if max_batch_files < 1:
        raise ValueError("need max_batch_files >= 1")
    if chunk_files < 1:
        raise ValueError("need chunk_files >= 1")
    ledger = _ledger(spark, ledger_path)
    if ledger is not None:
        # One anti-join runs PER CHUNK: uncached, a steady-state source
        # (million-file ledger, no fresh files) re-reads the full ledger
        # parquet ~50 times per listing (ADVICE r13).  Cache it for the
        # loop — first chunk pays the scan, the rest read columnar cache
        # blocks — and release it before returning.
        ledger = caching.persist(ledger)

    def fresh_of(chunk: list[str]) -> list[str]:
        if ledger is None:
            return chunk
        df = spark.createDataFrame([(p,) for p in chunk], "path string")
        # Sort driver-side (a chunk is small by construction): collect()
        # after a shuffle does not preserve order, but chunks are
        # consecutive lexicographic ranges, so per-chunk sorting restores
        # the global order.
        return sorted(
            r.path for r in df.join(ledger, "path", "left_anti").collect()
        )

    try:
        fresh: list[str] = []
        chunk: list[str] = []
        exhausted = True
        for path in _walk_lex(input_dir):
            chunk.append(path)
            if len(chunk) >= chunk_files:
                fresh.extend(fresh_of(chunk))
                chunk = []
                if len(fresh) > max_batch_files:
                    exhausted = False
                    break
        if exhausted and chunk:
            fresh.extend(fresh_of(chunk))
    finally:
        if ledger is not None:
            caching.release(ledger)
    has_more = len(fresh) > max_batch_files
    return fresh[:max_batch_files], has_more


def new_files(
    spark: SparkSession,
    input_dir: str,
    ledger_path: str,
    max_batch_files: int = 100_000,
) -> list[str]:
    """Paths under ``input_dir`` not yet recorded in the ledger, at most
    ``max_batch_files`` of them (lexicographically smallest first).

    Thin wrapper over ``new_files_batch`` for callers that loop
    until-empty and do not need the backlog flag; see it for the
    bounded-memory and bounded-batch contract.
    """
    return new_files_batch(spark, input_dir, ledger_path, max_batch_files)[0]


def commit(spark: SparkSession, paths: list[str], ledger_path: str) -> None:
    """Record ``paths`` as processed (append; idempotent via later anti-join)."""
    if not paths:
        return
    df = spark.createDataFrame([(p,) for p in paths], "path string").withColumn(
        "committed_at", F.current_timestamp()
    )
    df.coalesce(1).write.mode("append").parquet(ledger_path)


def read_incremental(
    spark: SparkSession,
    input_dir: str,
    ledger_path: str,
    fmt: str = "json",
    max_batch_files: int = 100_000,
) -> tuple[DataFrame | None, list[str], bool]:
    """(new-data DataFrame | None, file batch to commit, has_more flag).

    Caller processes the frame, then calls ``commit`` — commit-after-write
    gives at-least-once (same as Glue bookmarks on job failure).

    The batch is BOUNDED at ``max_batch_files`` (see ``new_files_batch``):
    one call is one bounded unit of work, not "everything outstanding".
    ``has_more`` is True when a further backlog remains after this batch —
    loop ``read_incremental``/``commit`` until it comes back False (or the
    frame comes back None); a single-pass caller that ignores it on a
    backlogged source has synced only the oldest ``max_batch_files`` files.
    """
    batch, has_more = new_files_batch(
        spark, input_dir, ledger_path, max_batch_files
    )
    if not batch:
        return None, [], False
    return spark.read.format(fmt).load(batch), batch, has_more
