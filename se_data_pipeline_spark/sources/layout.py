"""Physical-layout helpers: bucketing for co-located, shuffle-free
joins (SURVEY §4.2 — the optimization class the reference cannot
express at all; its pandas merges always re-hash in memory).

At 100 TB the dominant cost of a fact⋈fact join is the shuffle. If
both tables are written bucketed (and optionally sorted) by the join
key with the same bucket count, Spark plans a SortMergeJoin with NO
Exchange on either side — each task reads bucket i of both tables.
Bucket counts must match (or divide evenly on Spark 3.1+ with
spark.sql.bucketing.coalesceBucketsInJoin.enabled); re-bucketing a
100 TB table is one full shuffle paid ONCE at write time instead of
on every downstream join.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _hadoop_path(spark: SparkSession, p: str):
    """(FileSystem, Path) for p via the JVM Hadoop API — works for any
    scheme the cluster's Hadoop conf knows (local, HDFS, s3a), unlike
    os.path which only sees the driver's local disk."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def recover_compacting(spark: SparkSession, live_path: str) -> bool:
    """Finish a swap_compacted rename that a crash interrupted: if
    ``live_path`` is missing but its ``.compacting`` sibling exists
    (the only window swap_compacted can die in after deleting the
    live copy), rename the sibling into place. Returns True when the
    live path exists afterwards (recovered or never lost), False when
    there is nothing at either path. Every entry point that pre-checks
    a swappable store's existence must call this FIRST — otherwise its
    own pre-check raises before recovery can run (the r9 review find
    on refresh_ivf_index, which swaps the WHOLE index dir and then
    could never get past its own 'has no cells store' guard)."""
    fs, live = _hadoop_path(spark, live_path)
    tmp_str = live_path.rstrip("/") + ".compacting"
    _, tmp = _hadoop_path(spark, tmp_str)
    if fs.exists(live):
        return True
    if not fs.exists(tmp):
        return False
    if not fs.rename(tmp, live):
        raise IOError(
            f"could not recover store: rename {tmp_str} -> "
            f"{live_path} failed"
        )
    return True


def swap_compacted(
    spark: SparkSession,
    live_path: str,
    write_fn: Callable[[str], None],
    what: str = "store",
    pre_commit: Callable[[], None] | None = None,
) -> None:
    """Crash-safe store compaction (ADVICE r8): write the folded base
    to a temp SIBLING path, then swap it into place. The live store is
    deleted only AFTER the new copy is completely written, so

    - a failed/killed write job leaves the live store untouched (the
      old pattern — localCheckpoint() the fold, then overwrite the
      source in place — held the only copy of the index in
      non-replicated executor block storage for the duration of the
      delete+write window; an executor loss there lost the store);
    - a crash between the delete and the rename leaves the complete
      new copy at ``<live>.compacting``, which the NEXT compaction (or
      any caller of this helper) finishes swapping in automatically.

    The rename is a single filesystem metadata op (atomic on HDFS and
    posix; on S3A it is object copies, still recoverable because the
    sibling persists until the rename returns true).

    ``pre_commit`` (optional) runs after ``write_fn`` has made the
    folded copy fully durable at the sibling path and immediately
    before the live delete — i.e. inside the swap's commit window.
    Compactors whose offline fence lives OUTSIDE the swapped
    directory drop it here (ADVICE r11): dropping it after the swap
    leaves a crash window where stale claimed ids spuriously fence a
    fresh-checkpoint stream. The trade is a narrowed contract, which
    callers must document: once pre_commit runs, an INTERRUPTED
    compaction must be re-run to completion before any maintenance
    stream restarts — the claimed-id fence no longer guards the
    unfolded live copy during that recovery window."""
    fs, live = _hadoop_path(spark, live_path)
    tmp_str = live_path.rstrip("/") + ".compacting"
    _, tmp = _hadoop_path(spark, tmp_str)
    if not recover_compacting(spark, live_path):
        raise ValueError(
            f"{what} at {live_path} does not exist — nothing to "
            "compact (a maintenance stream whose first batches "
            "were all filtered out never creates the store)"
        )
    if fs.exists(tmp):
        fs.delete(tmp, True)  # stale leftover from a failed WRITE
    write_fn(tmp_str)
    if pre_commit is not None:
        pre_commit()
    fs.delete(live, True)
    if not fs.rename(tmp, live):
        raise IOError(
            f"compacted {what} written to {tmp_str} but rename to "
            f"{live_path} failed; the live store was deleted — recover "
            "by renaming the sibling into place (the next compaction "
            "call does this automatically)"
        )


# Offline-revision batch-id fence (ADVICE r10, high): a store's
# streaming maintainer numbers its writes with CHECKPOINT-scoped
# micro-batch ids (0..M), while offline revise/delete derives its id
# from the store's committed high-water mark — which for a
# stream-maintained store is exactly M+1, the id the RESUMED stream's
# next micro-batch will also use. Its dynamic partition overwrite
# would then clobber the revision's partitions: replacement rows lost
# while the surviving tombstones still kill the old rows — silent
# document loss. The two counters are independent by design (the
# stream's replay idempotence REQUIRES checkpoint-scoped ids), so the
# collision cannot be renumbered away without breaking crash
# convergence; instead every offline writer CLAIMS its batch id in a
# tiny fence table before touching the store, and every maintainer
# checks its micro-batch id against the fence and fails LOUDLY on a
# claimed id, with the remedy in the message (compact — which folds
# the claimed batches into the base and clears the fence — then
# restart from a fresh checkpoint).
_OFFLINE_FENCE_SCHEMA = "batch_id int"


def claim_offline_batch(
    spark: SparkSession, fence_dir: str, batch_id: int
) -> None:
    """Record an offline revision/delete's claim on `batch_id` —
    written BEFORE any other write of that batch, so even a crashed
    (uncommitted) revision's id stays fenced against a resumed
    maintenance stream. Append-only; a re-run's duplicate row is
    harmless (the fence is read as a set).

    NB the row is built with range().select(lit) and NOT
    createDataFrame([...]): a python-list local relation pays a
    5-7 s RDD-serialization round-trip PER WRITE on this runtime
    (measured r11), while the JVM-literal frame writes in ~0.3 s —
    the same rule applies to every 1-row ledger/meta write below."""
    from pyspark.sql import functions as F

    (
        spark.range(1)
        .select(F.lit(int(batch_id)).cast("int").alias("batch_id"))
        .coalesce(1)
        .write.mode("append")
        .parquet(fence_dir)
    )


def offline_claimed_ids(
    spark: SparkSession, fence_dir: str
) -> frozenset:
    """The set of batch ids offline writers have claimed on this
    store — empty for a store that has never been revised offline
    (the common path: one fs.exists probe, no read). Bounded by the
    number of offline operations since the last compaction."""
    fs, p = _hadoop_path(spark, fence_dir)
    if not fs.exists(p):
        return frozenset()
    return frozenset(
        r["batch_id"]
        for r in spark.read.schema(_OFFLINE_FENCE_SCHEMA)
        .parquet(fence_dir)
        .collect()
    )


def guard_stream_batch(
    spark: SparkSession, fence_dir: str, batch_id: int, what: str
) -> None:
    """Fail a streaming maintainer's micro-batch LOUDLY when its
    checkpoint-scoped id was already claimed by an offline
    revision/delete — the silent alternative is the maintainer's
    dynamic partition overwrite clobbering the revision's partitions
    (replacement rows lost, tombstones still live: documents vanish
    and totals corrupt)."""
    if int(batch_id) in offline_claimed_ids(spark, fence_dir):
        raise RuntimeError(
            f"{what}: stream micro-batch {batch_id} collides with an "
            "offline revision/delete that already claimed this batch "
            "id while the stream was stopped. Resuming the old "
            "checkpoint would overwrite the revision's partitions "
            "(replacement rows lost, surviving tombstones still kill "
            "the old rows — silent document loss). Remedy: compact "
            "the store (folds every committed batch into the base "
            "and clears the fence), then restart the stream from a "
            "FRESH checkpoint directory."
        )


def drop_offline_fence(spark: SparkSession, fence_dir: str) -> None:
    """Remove a store's fence table — called by compactors whose swap
    does not already delete it (term-stats swaps subdirs; the BQ
    fence is a sibling of the flat index dir). After compaction every
    claimed batch is folded into the base, so a fresh-checkpoint
    stream legitimately restarts at id 0."""
    fs, p = _hadoop_path(spark, fence_dir)
    if fs.exists(p):
        fs.delete(p, True)


def _physical_batch_ids(
    spark: SparkSession, path: str, nested: bool = False
) -> set:
    """Batch ids PHYSICALLY present in a store directory's partition
    layout — a filesystem listing (one listStatus per directory
    level), never a data read. ``nested=False`` for stores
    partitioned by batch_id first (postings/doclens/tombstones);
    ``nested=True`` for the IVF cells layout (cell=C/batch_id=N —
    bounded by n_cells directories). Empty set when the path does
    not exist."""
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return set()

    def _ids_in(dirpath) -> set:
        out = set()
        for st in fs.listStatus(dirpath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("batch_id="):
                try:
                    out.add(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
        return out

    if not nested:
        return _ids_in(p)
    out = set()
    for st in fs.listStatus(p):
        if st.isDirectory():
            out |= _ids_in(st.getPath())
    return out


def _guard_uncommitted_partials(
    spark: SparkSession,
    what: str,
    hw: int,
    fence_dir: str,
    flat_paths: list,
    nested_paths: list = (),
) -> None:
    """Refuse an offline revision/delete when PHYSICAL rows exist at
    or above the committed high-water mark that no offline operation
    claimed (ADVICE r11, medium): those rows are a maintenance
    stream's crashed micro-batch (rows written, ledger/totals commit
    row not). Deriving next_b from the ledger alone would reuse that
    id — the revision's dynamic overwrite replaces only ITS OWN
    partitions, so the stream's leftover rows in other partitions
    survive, and the revision's ledger commit makes them COMMITTED
    without their tombstones: re-emitted documents then serve both
    stale and fresh rows, and compaction bakes the stale rows into
    the base. Ids the offline fence already claims are exempt — a
    crashed OFFLINE revision legitimately re-runs with its own id
    (same input → same partitions → full overwrite). The check is a
    handful of directory listings; the fence is read only when
    strays are found."""
    stray = set()
    for p in flat_paths:
        stray |= {
            b for b in _physical_batch_ids(spark, p) if b >= hw
        }
    for p in nested_paths:
        stray |= {
            b
            for b in _physical_batch_ids(spark, p, nested=True)
            if b >= hw
        }
    if not stray:
        return
    stray -= offline_claimed_ids(spark, fence_dir)
    if stray:
        raise RuntimeError(
            f"{what}: uncommitted rows exist at batch id(s) "
            f"{sorted(stray)}, at or above the committed high-water "
            f"mark {hw}, and no offline operation claimed them — a "
            "maintenance stream crashed mid-batch (rows written, "
            "commit row not). An offline batch committed now would "
            "make those partial rows serve WITHOUT their tombstones "
            "(silent stale/duplicate documents). Remedy: restart the "
            "maintenance stream from its checkpoint (its replay "
            "overwrites and commits the partial batch), or compact "
            "the store (folds committed state only and physically "
            "drops the partials)."
        )


# --------------------------------------------------------------------
# Shared store-lifecycle machinery (r12, VERDICT r11 next #4): the
# five materialized stores (frequency postings, positional postings,
# shingle index, IVF, BQ) run the same protocol — recover a crashed
# swap, derive the committed high-water mark, refuse unclaimed
# partials, claim the fence, write rows -> tombstones -> commit row
# LAST, serve committed tombstone-live rows, compact by whole-dir
# swap. These helpers are that protocol in one place, parameterized
# by id column and directory layout, so store #6 cannot fork the
# semantics (and the next crash-ordering fix lands once).


def _dyn_overwrite(df: DataFrame, cols: list, path: str) -> None:
    """Dynamic partition overwrite: a re-run replaces only ITS OWN
    partitions — the idempotence every batch writer relies on."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def _overlap_writes(*thunks) -> list:
    """Run independent thunks (NON-COMMIT store writes, independent
    store builds) from driver threads so concurrent jobs back-fill
    each other's stragglers and the driver round-trips overlap
    (guide §2.6), and return their results in argument order.
    Callers must keep the commit-point write (ledger/totals) OUT of
    the thunks and issue it only after this returns — crash
    semantics are then unchanged: any subset of these writes may
    exist without the commit row, exactly as under the sequential
    order, and the re-run's overwrite replaces them.

    The threads are pyspark.InheritableThread: every job a thunk
    issues runs under the CALLER's job group, description and
    scheduler pool, so a streaming query's stop() / cancelJobGroup
    reaches overlapped writes and per-group job accounting counts
    them (plain threads start with empty local properties under
    pinned-thread mode). SPARK_GRAFT_NO_OVERLAP=1 falls back to
    sequential execution (the same-JVM A/B instrument — no caching,
    no behavior change beyond scheduling)."""
    import os

    if len(thunks) < 2 or os.environ.get("SPARK_GRAFT_NO_OVERLAP") == "1":
        return [t() for t in thunks]
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = []

    def _run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # re-raised on the caller's thread
            errors.append(e)

    threads = [
        InheritableThread(target=lambda i=i: _run(i))
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _ledger_frame(spark: SparkSession, batch_id: int, n_docs: int = 0):
    """One commit-ledger row as a JVM-literal frame (the
    claim_offline_batch 1-row rule)."""
    from pyspark.sql import functions as F

    return spark.range(1).select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.lit(int(batch_id)).cast("int").alias("batch_id"),
    )


def _ledger_row(
    spark: SparkSession, path: str, batch_id: int, n_docs: int = 0
) -> None:
    """One commit-ledger row (written LAST by every writer — the
    commit point)."""
    _dyn_overwrite(
        _ledger_frame(spark, batch_id, n_docs).coalesce(1),
        ["batch_id"],
        path,
    )


def _tombstone_write(
    ids: DataFrame, id_col: str, batch_id: int, path: str
) -> None:
    """One tombstone partition: (id, batch_id) markers killing the
    ids' rows from batches < batch_id (replacement rows written AT
    batch_id survive — the shared kill rule)."""
    from pyspark.sql import functions as F

    _dyn_overwrite(
        ids.select(id_col)
        .distinct()
        .withColumn("batch_id", F.lit(int(batch_id))),
        ["batch_id"],
        path,
    )


def _offline_begin(
    spark: SparkSession,
    out_dir: str,
    what: str,
    next_b: int,
    flat_paths: list,
    nested_paths: list = (),
) -> None:
    """The shared offline-writer prologue, AFTER the store-specific
    high-water derivation: refuse unclaimed partial batches at/above
    next_b (a crashed stream micro-batch — committing over it would
    serve rows without their tombstones), then claim the fence
    BEFORE any store write so even a crashed run's id stays fenced
    against a resumed maintenance stream."""
    _guard_uncommitted_partials(
        spark,
        what,
        next_b,
        f"{out_dir}/offline_fence",
        flat_paths,
        nested_paths,
    )
    claim_offline_batch(spark, f"{out_dir}/offline_fence", next_b)


def _tombstones_view(
    spark: SparkSession,
    out_dir: str,
    id_col: str,
    before_batch: int | None = None,
) -> DataFrame | None:
    """(id, tomb_b) with tomb_b the id's newest tombstone, or None
    when the store has never seen a revision/delete (the append-only
    fast path — readers skip the join entirely). `before_batch`
    excludes markers at/after that batch: a crashed revision's
    partial writes must not count as prior state when it re-runs."""
    from pyspark.sql import functions as F

    fs, p = _hadoop_path(spark, f"{out_dir}/tombstones")
    if not fs.exists(p):
        return None
    t = spark.read.schema(f"{id_col} bigint, batch_id int").parquet(
        f"{out_dir}/tombstones"
    )
    if before_batch is not None:
        t = t.filter(F.col("batch_id") < before_batch)
    return t.groupBy(id_col).agg(F.max("batch_id").alias("tomb_b"))


def _kill_tombstoned(
    spark: SparkSession,
    rows: DataFrame,
    out_dir: str,
    id_col: str,
    hw: int | None,
) -> DataFrame:
    """Apply the tombstone kill rule to `rows` (which must carry
    id_col + batch_id): drop rows a newer committed tombstone kills.
    The join runs over the caller's already-PRUNED rows; a store
    with no revisions skips it entirely."""
    from pyspark.sql import functions as F

    tomb = _tombstones_view(spark, out_dir, id_col, before_batch=hw)
    if tomb is None:
        return rows
    return (
        rows.join(tomb, id_col, "left")
        .filter(
            F.col("tomb_b").isNull()
            | (F.col("batch_id") >= F.col("tomb_b"))
        )
        .drop("tomb_b")
    )


# --------------------------------------------------------------------
# One delta-store protocol. The frequency, positional, shingle and
# MinHash stores are the same machine over different frames: a
# ``postings`` rows table partitioned by batch_id (+ tok_bucket),
# doc_id tombstones, an offline fence, and ONE commit table written
# LAST per batch. A _DeltaStore spec names what differs; the generic
# functions below are the protocol, written once:
#
#   revise/delete: recover swap -> committed hw -> refuse unclaimed
#     partials -> claim fence -> rows || tombstones -> commit row
#   stream batch:  fence guard -> rows || tombstones -> commit row
#   live/compact:  committed (batch_id < hw) tombstone-live rows,
#     folded to batch_id=-1 by one whole-dir swap
#
# Readers derive the committed high-water mark from the commit table,
# so any subset of a batch's writes without its commit row serves
# nothing, and the re-run (same id, dynamic overwrite) replaces it.
# A store with no commit table has no committed batch and is refused.


@dataclass(frozen=True)
class _DeltaStore:
    """What one delta store is: its name (error messages), rows read
    schema and partition columns, the delta-frame builder
    ``(docs, batch_id, n_buckets) -> {subdir: frame}`` over the
    ``deltas`` subdirs (``postings`` partitioned by ``parts``, any
    other by batch_id), the
    commit table and its schema, the commit-row builder
    ``(spark, out_dir, docs | None, ids | None, batch_id) -> 1-row
    frame`` (docs None: a delete; ids None: no revisions), and
    whether it is tok-bucketed (then it has a meta table)."""

    what: str
    schema: str
    parts: tuple
    frames: Callable
    commit: str
    commit_schema: str
    commit_row: Callable
    bucketed: bool = False
    deltas: tuple = ("postings",)


def _frame_parts(spec: _DeltaStore, sub: str) -> tuple:
    return spec.parts if sub == "postings" else ("batch_id",)


def _require_commit(
    spark: SparkSession, out_dir: str, spec: _DeltaStore
) -> None:
    """Refuse a store with no commit table: no batch of it ever
    committed (a build or first stream batch died before its commit
    row), so whatever rows exist are uncommitted partials."""
    fs, p = _hadoop_path(spark, f"{out_dir}/{spec.commit}")
    if not fs.exists(p):
        raise ValueError(
            f"{spec.what} at {out_dir} has no {spec.commit} commit "
            "table — no batch was ever committed (a build or the "
            "first stream micro-batch crashed before its commit row). "
            "Remedy: restart the maintenance stream from its "
            "checkpoint, or rebuild the store."
        )


def _committed_hw(
    spark: SparkSession, out_dir: str, spec: _DeltaStore
) -> int:
    """One past the newest COMMITTED batch — the max over the commit
    table, every writer's LAST write. Partial partitions at the
    uncommitted id are excluded from reads (before_batch) and
    overwritten when the operation re-runs with the same id."""
    from pyspark.sql import functions as F

    _require_commit(spark, out_dir, spec)
    mx = (
        spark.read.schema(spec.commit_schema)
        .parquet(f"{out_dir}/{spec.commit}")
        .agg(F.max("batch_id").alias("b"))
        .collect()[0]["b"]
    )
    return max(0, (mx if mx is not None else -1) + 1)


def _commit(
    spec: _DeltaStore, spark, out_dir: str, docs, ids, batch_id: int
) -> None:
    """The batch's commit row — always the LAST write of a batch."""
    _dyn_overwrite(
        spec.commit_row(spark, out_dir, docs, ids, batch_id).coalesce(1),
        ["batch_id"],
        f"{out_dir}/{spec.commit}",
    )


def _store_write(
    spec: _DeltaStore, docs: DataFrame, out_dir: str, n_buckets=None
) -> None:
    """Batch build: every delta frame at ``batch_id=-1`` (and the meta
    table) written concurrently, then the commit row."""
    spark = docs.sparkSession

    def _put(df: DataFrame, cols, path: str) -> None:
        df.write.mode("overwrite").partitionBy(*cols).parquet(path)

    writes = [
        lambda sub=sub, df=df: _put(
            df, _frame_parts(spec, sub), f"{out_dir}/{sub}"
        )
        for sub, df in spec.frames(docs, -1, n_buckets).items()
    ]
    if spec.bucketed:
        writes.append(lambda: _write_postings_meta(spark, out_dir, n_buckets))
    _overlap_writes(*writes)
    _put(
        spec.commit_row(spark, out_dir, docs, None, -1).coalesce(1),
        ["batch_id"],
        f"{out_dir}/{spec.commit}",
    )


def _apply_batch(
    spec: _DeltaStore,
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    batch_id: int,
    n_buckets,
    revisions: bool,
) -> None:
    """Write one delta batch: the frames, a tombstone per doc_id when
    ``revisions`` (killing the doc's rows from older batches; its
    replacement rows, written AT batch_id, survive) and the meta
    table if the store has none yet — concurrently — then the commit
    row LAST. Dynamic partition overwrite makes a re-run (offline
    retry, stream replay) replace exactly its own partitions."""
    ids = docs.select("doc_id").distinct() if revisions else None
    writes = [
        lambda sub=sub, df=df: _dyn_overwrite(
            df, _frame_parts(spec, sub), f"{out_dir}/{sub}"
        )
        for sub, df in spec.frames(docs, batch_id, n_buckets).items()
    ]
    if ids is not None:
        writes.append(
            lambda: _tombstone_write(
                ids, "doc_id", batch_id, f"{out_dir}/tombstones"
            )
        )
    if spec.bucketed:
        # meta is written ONCE, by the store-creating batch: the
        # modulus never changes, and rewriting the 1-row table per
        # batch opens a window where a concurrent serve finds no meta
        # or hits listed-then-deleted files (ADVICE r10)
        fs, meta = _hadoop_path(spark, f"{out_dir}/meta")
        if not fs.exists(meta):
            writes.append(
                lambda: _write_postings_meta(spark, out_dir, n_buckets)
            )
    _overlap_writes(*writes)
    _commit(spec, spark, out_dir, docs, ids, batch_id)


def _offline_batch(spec: _DeltaStore, spark, out_dir: str, what: str) -> int:
    """The offline revise/delete prologue: recover a crashed swap,
    take the committed high-water mark as the batch id, refuse
    unclaimed partials there, claim the id in the fence."""
    recover_compacting(spark, out_dir)
    next_b = _committed_hw(spark, out_dir, spec)
    _offline_begin(
        spark,
        out_dir,
        f"{what} at {out_dir}",
        next_b,
        [f"{out_dir}/{sub}" for sub in (*spec.deltas, "tombstones")],
    )
    return next_b


def _store_revise(
    spec: _DeltaStore, spark, docs: DataFrame, out_dir: str, what: str
) -> int:
    """UPSERT: every doc_id in `docs` (unique within the batch)
    replaces its previous version; new ids are plain inserts. Returns
    the batch id used. Run while any maintenance stream on the store
    is stopped — the claimed id is fenced against its resumption."""
    next_b = _offline_batch(spec, spark, out_dir, what)
    nb = _postings_meta_buckets(spark, out_dir) if spec.bucketed else None
    _apply_batch(spec, spark, out_dir, docs, next_b, nb, True)
    return next_b


def _store_delete(
    spec: _DeltaStore, spark, doc_ids: DataFrame, out_dir: str, what: str
) -> int:
    """Tombstones for the ids (no replacement rows) + the commit row.
    Ids absent from the store are no-ops. Returns the batch id."""
    next_b = _offline_batch(spec, spark, out_dir, what)
    ids = doc_ids.select("doc_id").distinct()
    _tombstone_write(ids, "doc_id", next_b, f"{out_dir}/tombstones")
    _commit(spec, spark, out_dir, None, ids, next_b)
    return next_b


def _store_live(spec: _DeltaStore, spark, out_dir: str) -> DataFrame:
    """Committed, tombstone-live rows of a ledger store."""
    from pyspark.sql import functions as F

    recover_compacting(spark, out_dir)
    hw = _committed_hw(spark, out_dir, spec)
    rows = (
        spark.read.schema(spec.schema)
        .parquet(f"{out_dir}/postings")
        .filter(F.col("batch_id") < hw)  # committed only
    )
    return _kill_tombstoned(spark, rows, out_dir, "doc_id", hw)


def _store_compact(spec: _DeltaStore, spark, out_dir: str) -> None:
    """Fold a ledger store's COMMITTED deltas into one ``batch_id=-1``
    base with its tombstones (and fence) folded OUT, by one whole-dir
    swap_compacted: tombstones and the rows they kill change together
    atomically (swapping them separately leaves a crash window where
    live tombstones kill the folded base). Serves are then back on
    the no-tombstone fast path and a fresh-checkpoint stream restarts
    at id 0. Run while the maintenance stream is stopped."""
    from pyspark.sql import functions as F

    rows = _store_live(spec, spark, out_dir)
    nb = _postings_meta_buckets(spark, out_dir) if spec.bucketed else None

    def _write(tmp: str) -> None:
        folded = rows.withColumn("batch_id", F.lit(-1))
        if spec.bucketed:  # one file per bucket dir
            folded = folded.repartition(F.col("tok_bucket"))
        folded.write.mode("overwrite").partitionBy(*spec.parts).parquet(
            f"{tmp}/postings"
        )
        # informational live-doc count, read back from the folded rows
        # just written (explicit schema: a zero-row fold writes no
        # files) — not a second evaluation of the live view
        (
            spark.read.schema("doc_id bigint")
            .parquet(f"{tmp}/postings")
            .select("doc_id")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .withColumn("batch_id", F.lit(-1))
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{tmp}/{spec.commit}")
        )
        if spec.bucketed:
            _write_postings_meta(spark, tmp, nb)

    swap_compacted(spark, out_dir, _write, spec.what)


def _ledger_count(spark, out_dir, docs, ids, batch_id) -> DataFrame:
    """Commit row of the ledger stores: the batch's document count
    (informational; a delete adds none)."""
    from pyspark.sql import functions as F

    if docs is None:
        return _ledger_frame(spark, batch_id)
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).withColumn("batch_id", F.lit(batch_id))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist df as a bucketed (+ sorted within buckets) managed
    table. Sorting lets the bucketed SortMergeJoin skip its per-task
    sort as well, leaving pure merge work."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With
    matching bucket specs the physical plan carries no Exchange —
    the test asserts that property on the executed plan."""
    return spark.table(left_table).join(spark.table(right_table), on)


def zorder_key(scaled: list, bits: int = 16):
    """Alias of functions.numeric.zorder_key_n (kept here because the
    layout writer is where users reach for it): Morton-interleave the
    low `bits` bits of already-scaled non-negative integer Columns —
    the open-source Spark analog of Delta's OPTIMIZE ZORDER BY."""
    from se_data_pipeline_spark.functions.numeric import zorder_key_n

    return zorder_key_n(scaled, bits)


def write_zordered(
    df: DataFrame, out_path: str, cols: list[str], bits: int = 12
) -> None:
    """Sort by the interleaved Z-key of `cols` (min-max scaled to
    2^bits buckets each) and write parquet. One range-partitioned
    sort at write time buys multi-column data skipping on every
    later scan."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"min_{c}") for c in cols],
        *[F.max(c).alias(f"max_{c}") for c in cols],
    )
    scaled = []
    b = F.broadcast(bounds)
    joined = df.crossJoin(b)
    for c in cols:
        lo, hi = F.col(f"min_{c}"), F.col(f"max_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1))
        scaled.append(
            F.least(
                F.floor(
                    (F.col(c) - lo) * (1 << bits) / span
                ).cast("long"),
                F.lit((1 << bits) - 1),
            )
        )
    keyed = joined.withColumn("__zkey", zorder_key(scaled, bits))
    (
        keyed.repartitionByRange(
            max(df.sparkSession.sparkContext.defaultParallelism, 8), "__zkey"
        )
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *[f"min_{c}" for c in cols], *[f"max_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(out_path)
    )


def write_training_shards(
    docs: DataFrame, out_dir: str, n_shards: int = 16
) -> DataFrame:
    """Deterministic hash-sharded corpus emission — the layout an LLM
    data loader consumes: shard = pmod(xxhash64(doc_id), n_shards),
    one parquet file per shard directory, plus a per-shard MANIFEST
    (doc count, token count, byte size) returned as a DataFrame.

    Why this shape at 100 TB: hash sharding balances shard sizes
    regardless of doc_id distribution and is reproducible across
    runs (resumable jobs re-derive the same shard for a doc);
    repartitioning BY THE SHARD COLUMN guarantees each shard's rows
    land in exactly one task, so each shard directory holds exactly
    one file (no small-files problem, no cross-shard file). The
    manifest aggregates in the same shuffle shape and is what a
    training launcher reads instead of listing 100k files.

    REPLACE-THE-CORPUS semantics: the partitioned overwrite sets
    partitionOverwriteMode=static as a per-writer option (r7) —
    under a dynamic-mode session, re-emitting with a smaller
    n_shards would otherwise leave the old high-numbered shard
    directories alive and the training launcher would read stale
    documents."""
    from pyspark.sql import functions as F

    sharded = docs.withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards))
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
            F.sum(F.length("text")).alias("n_bytes"),
        )
        .orderBy("shard")
    )


def compact_table(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_records_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a directory of (possibly many
    tiny) parquet files into files of ~target_records_per_file rows.
    Returns the number of input files compacted.

    The two knobs that matter: maxRecordsPerFile caps file SIZE
    without a shuffle, and AQE's coalescePartitions merges the read
    splits so the writer does not emit one file per input split —
    together they bound files from both directions. Streaming sinks
    and per-batch upserts (maintain_hourly_rollup) accrete small
    files; a periodic compaction pass keeps scan planning O(files)
    cheap. On Delta/Iceberg this is OPTIMIZE; this is the
    plain-parquet equivalent."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(in_dir)
    n_in = df.select(F.input_file_name()).distinct().count()
    (
        df.coalesce(
            max(1, df.count() // max(1, target_records_per_file) or 1)
        )
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(out_dir)
    )
    return n_in


def write_bq_index(
    df: DataFrame,
    out_path: str,
    vec_col: str = "embedding",
    delta: bool = False,
) -> None:
    """Materialize a binary-quantization ANN index: the input frame
    plus a packed 64-bit sign-code column (`code`,
    functions.vectors.pack_sign_bits). Pay the code computation ONCE
    at write time; every later stage-1 candidate scan then reads
    (id, code) only — 8 bytes of index per vector instead of the
    full float payload, and parquet column pruning keeps the vector
    bytes on disk entirely (the layout test asserts the pruned
    ReadSchema on the executed plan).

    ``delta=True`` writes the DELTA layout (a ``batch_id=-1`` base
    partition — the shape maintain_bq_index appends to), which is
    what delete_bq_vectors requires: a flat store has no batch
    dimension to version its in-band NULL-code delete markers
    against. Use it when the index will live (deletes/streaming
    appends); the flat default stays for one-shot rebuild stores."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.vectors import pack_sign_bits

    codes = (
        df.filter(F.col(vec_col).isNotNull())  # NULL vector -> no code:
        # unsearchable entries don't belong in the index (and a NULL
        # code would sort FIRST in the ascending Hamming scan)
        .withColumn("code", pack_sign_bits(F.col(vec_col)))
    )
    if delta:
        (
            codes.withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
    else:
        codes.write.mode("overwrite").parquet(out_path)


def _nearest_cell_expr(centroids: list[tuple[int, list[float]]], vec_col):
    """Row-local argmin over the (bounded) centroid table as ONE
    Catalyst expression: the centroids are a literal
    array<struct<ctr, cell>>, transform() scores each against the
    row's vector (zip_with/aggregate d2), and array_min picks the
    (d2, cell)-lexicographic minimum. No UDF, no join, no shuffle:
    cell assignment is pure per-row codegen work, which is what lets
    streaming maintenance run shuffle-free per micro-batch.
    ``vec_col`` is a column name or any array Column (the PQ encoder
    passes per-subspace slices).

    Deliberately LINEAR-size: an earlier running-best WHEN-fold
    referenced the accumulated struct twice per centroid, doubling
    the analyzed expression tree per cell (2^n_cells blowup — the
    plan never finished analyzing at 10 cells)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    vcol = F.col(vec_col) if not isinstance(vec_col, Column) else vec_col
    cells_lit = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(x)) for x in cvec]).alias("ctr"),
                F.lit(int(cell_id)).alias("cell"),
            )
            for cell_id, cvec in centroids
        ]
    )
    scored = F.transform(
        cells_lit,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(
                    s["ctr"],
                    vcol,
                    lambda c, x: (c - x.cast("double"))
                    * (c - x.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            s["cell"].alias("cell"),
        ),
    )
    return F.array_min(scored)["cell"]


# --------------------------------------------------------------------
# Product-quantization side of the IVF store (r12, VERDICT r11 next
# #1): PQ compresses each vector into M per-subspace codeword ids —
# at the same byte budget as binary quantization it carries a
# K-level (not 2-level) quantizer per subspace, so the ADC stage-1
# scan ranks candidates with far less distortion (the FAISS IVF-PQ
# shape). Conventions match queries/vectors.embedding_pq_codes so
# the DuckDB oracle can replay training exactly: the codebook is the
# DETERMINISTIC seed — full-dim subvectors of the store input's
# first `k` vectors by id — and encoding argmin ties break to the
# lowest codeword id.
_PQ_META_SCHEMA = "m int, sub int, k int"
_PQ_CODEBOOK_SCHEMA = "k int, e array<double>"


def _pq_store_meta(
    spark: SparkSession, index_path: str
) -> tuple | None:
    """(m, sub, k) from the store's pq meta table, or None when the
    store carries no PQ codes (one fs.exists probe on the fast
    path). Recorded in the store — write and read must agree on the
    subspace split or ADC reads garbage (the postings bucket-modulus
    rationale)."""
    fs, p = _hadoop_path(spark, f"{index_path}/pq")
    if not fs.exists(p):
        return None
    rows = (
        spark.read.schema(_PQ_META_SCHEMA)
        .parquet(f"{index_path}/pq/meta")
        .collect()
    )
    if not rows:
        raise ValueError(f"{index_path}/pq/meta is empty")
    r = rows[0]
    return int(r["m"]), int(r["sub"]), int(r["k"])


def _pq_codebook(spark: SparkSession, index_path: str) -> list:
    """The store's K seed vectors ordered by codeword id — a bounded
    K-row collect (K x dims doubles, the centroid-table precedent)."""
    rows = (
        spark.read.schema(_PQ_CODEBOOK_SCHEMA)
        .parquet(f"{index_path}/pq/codebook")
        .collect()
    )
    return [
        [float(x) for x in r["e"]]
        for r in sorted(rows, key=lambda r: r["k"])
    ]


def _pq_code_expr(cb: list, m: int, sub: int, vec_col: str):
    """array<int> of the row vector's M per-subspace codeword ids
    under the frozen codebook — pure Catalyst (the _nearest_cell_expr
    argmin applied to each subspace slice), no UDF, so the streaming
    maintainer's encode stays shuffle-free per micro-batch. Distance
    folds are sequential over the `sub` dims, matching the oracle's
    list_sum order bit-for-bit; ties break to the lowest codeword id
    (the array_min lexicographic tie-break)."""
    from pyspark.sql import functions as F

    codes = []
    for mi in range(m):
        cents = [
            (ki, vec[mi * sub : (mi + 1) * sub])
            for ki, vec in enumerate(cb)
        ]
        codes.append(
            _nearest_cell_expr(
                cents, F.slice(F.col(vec_col), mi * sub + 1, sub)
            )
        )
    return F.array(*codes)


def _write_pq_tables(
    spark: SparkSession, index_path: str, cb: list, m: int, sub: int
) -> None:
    """Persist the frozen codebook + its meta. The codebook frame is
    an ARROW-backed pandas local relation (~0.2 s): the previous
    literal-expression frame paid ~1-2 s of Catalyst analysis on its
    k x dims literal tree per write, and a python-list relation pays
    a 6-7 s RDD round-trip (measured r12 — the claim_offline_batch
    rule is about LIST relations; pandas+Arrow local relations are
    the fast path and carry bit-identical float64 values). The 1-row
    meta stays a JVM-literal frame (three scalars, no analysis
    tax)."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "k": list(range(len(cb))),
            "e": [[float(x) for x in vec] for vec in cb],
        }
    )
    (
        spark.createDataFrame(pdf, "k int, e array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_path}/pq/codebook")
    )
    (
        spark.range(1)
        .select(
            F.lit(int(m)).cast("int").alias("m"),
            F.lit(int(sub)).cast("int").alias("sub"),
            F.lit(len(cb)).cast("int").alias("k"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_path}/pq/meta")
    )


def write_ivf_index(
    df: DataFrame,
    out_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    attr_cols: tuple = (),
    pq: bool = False,
    pq_m: int = 8,
    pq_sub: int = 8,
    pq_k: int = 16,
) -> None:
    """Materialize an IVF (inverted-file) ANN index: a coarse-
    quantizer centroid table (per-cell mean vectors — the same
    quantizer as queries/vectors.embedding_knn_ivf, with `cell_col`
    as the cell key) plus the vector rows written PARTITIONED BY
    CELL, so a probe reading nprobe cells is parquet partition
    pruning — it touches nprobe/n_cells of the data, which is the
    entire point of IVF at 100 TB.

    Layout: ``out_path/centroids`` (n_cells rows: cell, centroid) and
    ``out_path/cells`` (cell=N directories of (vec_id, embedding,
    code) — `code` is the vector's packed 64-bit sign code, computed
    ONCE at write time so the two-stage funnel's Hamming cut reads 8
    bytes/row inside the probed cells and never touches the float
    column, r11 ivf_bq_funnel). NULL vectors are excluded
    (unsearchable). One grouped pass for the centroids + one
    cell-partitioned write.

    ``attr_cols`` carries metadata columns (label, source, date, …)
    into the cells rows for filtered ANN (ivf_filtered_topk): the
    predicate then cuts inside the probed cells as a pushed parquet
    data filter. ``pq=True`` additionally trains the deterministic
    seed PQ codebook (full-dim subvectors of the input's first
    `pq_k` vectors by id — the queries/vectors.embedding_pq_codes
    convention, SQL-replayable) and writes a ``pq_code array<int>``
    column plus ``out_path/pq/{codebook,meta}`` for the
    ivf_pq_funnel ADC path; vectors must have exactly pq_m x pq_sub
    dims and the input at least pq_k non-null vectors. Every later
    writer (revise_ivf_vectors, maintain_ivf_index,
    compact_ivf_index) encodes under this FROZEN codebook."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.vectors import pack_sign_bits

    rows = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        pack_sign_bits(F.col(vec_col)).alias("code"),
        F.col(cell_col).cast("int").alias("cell"),
        *[F.col(a) for a in attr_cols],
    )
    cb = None
    if pq:
        seeds = (
            df.filter(F.col(vec_col).isNotNull())
            .orderBy(id_col)
            .limit(pq_k)
            .select(F.col(vec_col).alias("e"))
            .collect()  # bounded: pq_k rows (the codebook itself)
        )
        if len(seeds) < pq_k:
            raise ValueError(
                f"PQ codebook needs at least {pq_k} non-null "
                f"vectors; got {len(seeds)} — build without pq or "
                "lower pq_k"
            )
        cb = [[float(x) for x in r["e"]] for r in seeds]
        if any(len(v) != pq_m * pq_sub for v in cb):
            raise ValueError(
                f"PQ split {pq_m}x{pq_sub} does not match the "
                f"vector dimensionality {len(cb[0])}"
            )
        # Encode ABOVE a cell-keyed exchange: the input is typically
        # one scan split, so the m x k argmin expression would
        # otherwise run single-task. Hash on cell keeps one file per
        # cell dir in the partitioned write; the explicit partition
        # count (scale-adaptive, not a constant) stops AQE from
        # coalescing the tiny exchange back to one task at small sf.
        rows = rows.repartition(
            max(rows.sparkSession.sparkContext.defaultParallelism, 8),
            "cell",
        ).withColumn(
            "pq_code", _pq_code_expr(cb, pq_m, pq_sub, "embedding")
        )
    centroids = (
        rows.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("ctr"))
        .groupBy("cell")
        .agg(
            F.transform(
                # BOUNDED: one entry per dimension per cell
                F.sort_array(F.collect_list(F.struct("pos", "ctr"))),
                lambda s: s["ctr"],
            ).alias("centroid")
        )
    )

    # The centroid table, the pq tables and the cells store are
    # INDEPENDENT paths with no ordering constraint between them —
    # only the batches ledger (the commit point) must come last.
    # Overlap the writes (guide §2.6) so the second job's tasks
    # back-fill the first's stragglers.
    spark = df.sparkSession
    writes = [
        lambda: centroids.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out_path}/centroids"),
        lambda: rows.withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("cell", "batch_id")
        .parquet(f"{out_path}/cells"),
    ]
    if cb is not None:
        writes.append(
            lambda: _write_pq_tables(spark, out_path, cb, pq_m, pq_sub)
        )
    _overlap_writes(*writes)
    # batches commit ledger LAST (r11, harmonizing the IVF store with
    # the postings/positional/shingle stores): readers derive the
    # committed high-water mark from it, so a crashed revision's
    # partial replacement rows stay invisible until its re-run commits.
    # The doc count reads the cells rows JUST WRITTEN (column-pruned,
    # explicit schema for the empty-store case) instead of re-running
    # the whole scan/encode lineage a second time — same value, one
    # input pass saved (r13; the compact_ivf_index count precedent).
    # Only the batch_id=-1 partition counts (pruned by partitioning):
    # under a session-wide dynamic partitionOverwriteMode a rebuild
    # leaves a stream-maintained store's batch_id>=0 partitions behind.
    fs_c, cells_p = _hadoop_path(spark, f"{out_path}/cells")
    n_docs = (
        spark.read.schema("vec_id bigint, batch_id int")
        .parquet(f"{out_path}/cells")
        .filter(F.col("batch_id") == -1)
        .count()
        if fs_c.exists(cells_p)
        else 0  # zero-row build: the partitioned write of an empty
        # frame may not materialize the directory at all
    )
    _ledger_frame(spark, -1, n_docs).coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("batch_id").parquet(f"{out_path}/batches")


_IVF_TOMBSTONES_SCHEMA = "vec_id bigint, batch_id int"


def _ivf_committed_hw(
    spark: SparkSession, index_path: str
) -> int | None:
    """One past the newest COMMITTED batch per the store's ledger, or
    None for a store built before the ledger existed (legacy stores
    keep the r10 read semantics — no commit-point filter)."""
    from pyspark.sql import functions as F

    fs, p = _hadoop_path(spark, f"{index_path}/batches")
    if not fs.exists(p):
        return None
    mx = (
        spark.read.schema(_LEDGER_SCHEMA)
        .parquet(f"{index_path}/batches")
        .agg(F.max("batch_id").alias("b"))
        .collect()[0]["b"]
    )
    return max(0, (mx if mx is not None else -1) + 1)


_UNREAD = object()  # "not supplied — read it" sentinel (None is a
# legitimate high-water value for legacy ledgerless stores)

_IVF_CENTROIDS_SCHEMA = "cell int, centroid array<double>"


def _ivf_prologue(
    spark: SparkSession,
    index_path: str,
    need_pq: bool = False,
    q_vec: list | None = None,
) -> dict:
    """Every bounded serve/revise-side read of an IVF store fused
    into ONE Spark job (r13; the _serve_prologue precedent — each
    separate collect costs a driver job round-trip, and an IVF
    funnel paid 3-4 of them per call): the centroid table, the
    committed high-water mark, the PQ meta + frozen codebook (when
    ``need_pq``), and the query vector's packed sign code (when
    ``q_vec`` is given — the SAME pack_sign_bits Catalyst expression
    the writers use, riding a 1-row leg of this job instead of its
    own collect). The legs are UNIONED under a `kind` tag, never
    cross-joined, so an empty centroid table cannot annihilate the
    scalar answers. No state is cached across calls — every call
    reads the store's live commit point.

    Returns {"cents": [(cell, [centroid...])...] sorted by cell,
    "hw": int | None (None = legacy pre-ledger store, serve
    append-only), "meta": (m, sub, k) | None, "cb": codebook rows
    sorted by codeword id | None, "qcode": int | None}.
    ``need_pq=True`` requires the pq tables to exist — callers gate
    on the pq dir probe (_pq_store_meta's fs.exists contract)."""
    from pyspark.sql import functions as F

    nul_l = F.lit(None).cast("long")
    nul_v = F.lit(None).cast("array<double>")

    def _leg(kind, a=nul_l, b=nul_l, c=nul_l, vec=nul_v):
        return [
            F.lit(kind).alias("kind"),
            a.cast("long").alias("a"),
            b.cast("long").alias("b"),
            c.cast("long").alias("c"),
            vec.alias("vec"),
        ]

    legs = [
        spark.read.schema(_IVF_CENTROIDS_SCHEMA)
        .parquet(f"{index_path}/centroids")
        .select(*_leg("cent", a=F.col("cell"), vec=F.col("centroid")))
    ]
    fs, p = _hadoop_path(spark, f"{index_path}/batches")
    has_ledger = fs.exists(p)
    if has_ledger:
        legs.append(
            spark.read.schema(_LEDGER_SCHEMA)
            .parquet(f"{index_path}/batches")
            .agg(F.max("batch_id").alias("mx"))
            .select(*_leg("hw", a=F.col("mx")))
        )
    if need_pq:
        legs.append(
            spark.read.schema(_PQ_META_SCHEMA)
            .parquet(f"{index_path}/pq/meta")
            .select(
                *_leg(
                    "meta",
                    a=F.col("m"),
                    b=F.col("sub"),
                    c=F.col("k"),
                )
            )
        )
        legs.append(
            spark.read.schema(_PQ_CODEBOOK_SCHEMA)
            .parquet(f"{index_path}/pq/codebook")
            .select(*_leg("cb", a=F.col("k"), vec=F.col("e")))
        )
    if q_vec is not None:
        from se_data_pipeline_spark.functions.vectors import (
            pack_sign_bits,
        )

        qlit = F.array(*[F.lit(float(x)) for x in q_vec])
        legs.append(
            spark.range(1).select(
                *_leg("qcode", a=pack_sign_bits(qlit))
            )
        )
    probe = legs[0]
    for leg in legs[1:]:
        probe = probe.unionByName(leg)
    rows = probe.collect()
    by_kind: dict[str, list] = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    out: dict = {
        "cents": sorted(
            (int(r["a"]), [float(x) for x in r["vec"]])
            for r in by_kind.get("cent", [])
        ),
        "hw": None,
        "meta": None,
        "cb": None,
        "qcode": None,
    }
    if has_ledger:
        mx = by_kind["hw"][0]["a"]
        out["hw"] = max(0, (int(mx) if mx is not None else -1) + 1)
    if need_pq:
        mrow = by_kind.get("meta", [])
        if not mrow:
            raise ValueError(f"{index_path}/pq/meta is empty")
        m = mrow[0]
        out["meta"] = (int(m["a"]), int(m["b"]), int(m["c"]))
        out["cb"] = [
            [float(x) for x in r["vec"]]
            for r in sorted(by_kind.get("cb", []), key=lambda r: r["a"])
        ]
    if q_vec is not None:
        out["qcode"] = int(by_kind["qcode"][0]["a"])
    return out


def ivf_serve_state(spark: SparkSession, index_path: str) -> dict:
    """Pre-read serve-time state for SEVERAL probes of the same
    committed store inside one query body: crash-swap recovery, the
    bounded centroid table, and the committed high-water mark — the
    latter two in ONE fused job (_ivf_prologue, r13; previously a
    collect each). A recall report probes the same store three times
    (brute + nprobe=1,2); without this each ivf_candidates call
    re-ran the recovery probe, the centroid collect, and the ledger
    read. The state is a SNAPSHOT — never reuse it across writes to
    the store."""
    recover_compacting(spark, index_path)
    pro = _ivf_prologue(spark, index_path)
    return {"cents": pro["cents"], "hw": pro["hw"]}


def _ivf_live(
    spark: SparkSession,
    index_path: str,
    cells: list | None = None,
    hw=_UNREAD,
) -> DataFrame:
    """The IVF store's committed, tombstone-live cells rows — the
    ONE serve-side live view every probe/funnel/compaction path reads
    (r12 factoring: the hw + tombstone-kill block was previously
    repeated per reader and could drift). ``cells`` (when given)
    becomes the cell-IN partition filter — parquet partition pruning,
    nprobe/n_cells of the store touched. ``hw`` may be passed from a
    pre-read ivf_serve_state snapshot."""
    from pyspark.sql import functions as F

    probed = spark.read.parquet(f"{index_path}/cells")
    if cells is not None:
        probed = probed.filter(
            F.col("cell").isin([int(c) for c in cells])
        )
    # committed batches only (ledger-carrying stores, r11): a crashed
    # revision's partial replacement rows must not serve alongside
    # the old rows its never-written tombstones would have killed
    if hw is _UNREAD:
        hw = _ivf_committed_hw(spark, index_path)
    if hw is not None:
        probed = probed.filter(F.col("batch_id") < hw)
    return _kill_tombstoned(spark, probed, index_path, "vec_id", hw)


def _cos_sim_expr(q_vec: list):
    """Exact cosine of the row's `embedding` against the literal
    query vector, NULL for a zero-norm stored vector (the ANSI
    divide-by-zero guard the degenerate-corpus sweep demands) —
    shared by every IVF/BQ serve path's rerank stage."""
    import math

    from pyspark.sql import functions as F

    qlit = F.array(*[F.lit(float(x)) for x in q_vec])
    qn = math.sqrt(sum(x * x for x in q_vec)) or 1.0
    dot = F.aggregate(
        F.zip_with(
            qlit, F.col("embedding"), lambda a, b: a * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    denom = vnorm * F.lit(qn)
    return F.when(denom != 0, dot / denom)


def revise_ivf_vectors(
    spark: SparkSession,
    vecs_v2: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    attr_cols: tuple = (),
) -> int:
    """UPSERT re-emitted vectors into an IVF index — the operation
    maintain_ivf_index's new-ids-only HARD precondition forbids on
    the streaming path (r9 VERDICT missing #2): a re-crawled CHANGED
    document's embedding may belong in a DIFFERENT cell, so its stale
    row in the old cell is invisible to any read-side dedupe inside
    the probed cells. Tombstones fix that: every id in `vecs_v2`
    (unique within the call) gets a marker at this revision's batch
    id, killing its rows from ALL older batches for every reader —
    ivf_candidates, refresh_ivf_index, compact_ivf_index — while the
    replacement row, assigned to its nearest cell under the LIVE
    frozen quantizer, serves from the same batch. A NULL `vec_col`
    means DELETE: tombstone without a replacement row (the
    write_ivf_index NULL-is-unsearchable rule, now with teeth).

    Crash ordering (r11, the ledger harmonization): rows, then
    tombstones, then the batches LEDGER row LAST — the commit point.
    The batch id is the ledger-derived committed high-water mark, so
    a re-run after any partial write reuses the SAME id and
    overwrites its own partitions (cell assignment is deterministic
    under the frozen quantizer, so the re-run's dynamic overwrite
    hits exactly the crashed attempt's partitions); readers filter
    to committed batches, so the partials never serve meanwhile. A
    legacy store without a ledger keeps the r10 fresh-id rule (max
    over cells+tombstones, tombstones kill the partials) and gains a
    ledger from this revision onward. Run while the maintenance
    stream is stopped — every claimed id is FENCED
    (claim_offline_batch), so a stream resuming its old checkpoint
    afterwards fails loudly instead of silently clobbering the
    revision (ADVICE r10). Returns the batch id used."""
    from pyspark.sql import functions as F

    recover_compacting(spark, index_path)
    # ONE fused prologue job (r13): centroids + committed high-water
    # mark + (for a pq-carrying store) the frozen codebook and its
    # meta — previously up to four separate bounded collects per
    # revision, each a driver job round-trip
    fs_pq, pq_p = _hadoop_path(spark, f"{index_path}/pq")
    has_pq = fs_pq.exists(pq_p)
    pro = _ivf_prologue(spark, index_path, need_pq=has_pq)
    cents = pro["cents"]
    if not cents:
        raise ValueError(
            f"{index_path}/centroids is empty — build the index with "
            "write_ivf_index before revising"
        )
    hw = pro["hw"]
    if hw is not None:
        next_b = hw
    else:
        # legacy store (no ledger): the r10 fresh-id rule
        mx_cells = (
            spark.read.parquet(f"{index_path}/cells")
            .agg(F.max("batch_id").alias("b"))
            .collect()[0]["b"]
        )
        tomb = _tombstones_view(spark, index_path, "vec_id")
        mx_tomb = (
            tomb.agg(F.max("tomb_b").alias("b")).collect()[0]["b"]
            if tomb is not None
            else None
        )
        next_b = max(
            0,
            max(
                (mx_cells if mx_cells is not None else -1),
                (mx_tomb if mx_tomb is not None else -1),
            )
            + 1,
        )
    # guard + fence claim (the legacy branch's fresh id comes from
    # the PHYSICAL max already, so its guard is a no-op by
    # construction)
    _offline_begin(
        spark,
        index_path,
        f"revise_ivf_vectors at {index_path}",
        next_b,
        [f"{index_path}/tombstones"],
        nested_paths=[f"{index_path}/cells"],
    )
    from se_data_pipeline_spark.functions.vectors import pack_sign_bits

    rows = vecs_v2.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        pack_sign_bits(F.col(vec_col)).alias("code"),
        _nearest_cell_expr(cents, vec_col).alias("cell"),
        F.lit(next_b).alias("batch_id"),
        *[F.col(a) for a in attr_cols],
    )
    # PQ-carrying store: encode the replacement rows under the FROZEN
    # codebook (same frozen-epoch rule as the coarse quantizer) so
    # ivf_pq_funnel's ADC scan stays valid across revisions — meta +
    # codebook came with the fused prologue above
    if has_pq:
        m, sub, _k = pro["meta"]
        rows = rows.withColumn(
            "pq_code", _pq_code_expr(pro["cb"], m, sub, "embedding")
        )
    (
        rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(f"{index_path}/cells")
    )
    _tombstone_write(
        vecs_v2.select(F.col(id_col).alias("vec_id")),
        "vec_id",
        next_b,
        f"{index_path}/tombstones",
    )
    # ledger row LAST — the commit point
    _ledger_row(spark, f"{index_path}/batches", next_b)
    return next_b


def _probe_cells(
    spark: SparkSession,
    index_path: str,
    q_vec: list[float],
    nprobe: int,
    cents: list | None = None,
) -> list[int]:
    """The nprobe nearest cells to the query, picked DRIVER-SIDE from
    the bounded (n_cells x dims) centroid table — (d2, cell)
    lexicographic order, the _nearest_cell_expr tie-break. Shared by
    ivf_candidates and the funnels; ``cents`` is the
    [(cell, centroid)...] list from a pre-read _ivf_prologue /
    ivf_serve_state snapshot."""
    if cents is None:
        cents = [
            (r["cell"], list(r["centroid"]))
            for r in spark.read.schema(_IVF_CENTROIDS_SCHEMA)
            .parquet(f"{index_path}/centroids")
            .collect()
        ]
    by_d2 = sorted(
        (
            sum((c - q) ** 2 for c, q in zip(cvec, q_vec)),
            cell,
        )
        for cell, cvec in cents
    )
    return [cell for _, cell in by_d2[:nprobe]]


def ivf_candidates(
    spark: SparkSession,
    index_path: str,
    q_vec: list[float],
    nprobe: int = 1,
    n: int = 10,
    state: dict | None = None,
) -> DataFrame:
    """Probe an IVF index: nearest nprobe cells to the query are
    picked DRIVER-SIDE from the (bounded, n_cells-row) centroid
    table, the cell store is read with cell IN (...) — parquet
    PARTITION pruning, the test asserts it on the executed plan —
    and exact cosine + top-n runs only inside the probed cells
    (TakeOrderedAndProject). Revised/deleted vectors (tombstones,
    revise_ivf_vectors) are dropped from the probed rows; an
    append-only index has no tombstones table and skips the join."""
    from pyspark.sql import functions as F

    if state is None:
        state = ivf_serve_state(spark, index_path)
    cells = _probe_cells(
        spark, index_path, q_vec, nprobe, cents=state["cents"]
    )
    return (
        _ivf_live(spark, index_path, cells, hw=state["hw"])
        .select(
            "vec_id",
            "cell",
            _cos_sim_expr(q_vec).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(n)
    )


def ivf_bq_funnel(
    spark: SparkSession,
    index_path: str,
    q_vec: list[float],
    nprobe: int = 1,
    n_candidates: int = 100,
    n: int = 10,
) -> DataFrame:
    """The full production ANN funnel over ONE store (r11): coarse
    quantizer -> binary codes -> exact rerank. Stage 0 picks the
    nprobe nearest cells driver-side (bounded centroid table); stage
    1 scans ONLY (vec_id, code) inside the probed cell partitions —
    8 bytes of searchable payload per vector, the float column never
    leaves disk (plan-asserted in the layout test) — and keeps the
    n_candidates best Hamming distances via TakeOrderedAndProject;
    stage 2 joins the candidate ids back to the probed cells and
    exact-cosine-reranks just those rows. Cost at 100 TB:
    nprobe/n_cells of the index's 8-byte codes + n_candidates float
    vectors — the compounding of IVF's partition pruning with BQ's
    byte-per-dim compression, which is how FAISS-style IVF-PQ/BQ
    deployments actually serve. Committed batches only; tombstone
    kill rule applies to both stages (same live view).

    The query's code is evaluated with the SAME Catalyst expression
    the writers use (pack_sign_bits has no public driver-side twin)
    — riding a 1-row leg of the fused prologue job (r13) instead of
    its own collect, alongside the centroid table and the committed
    high-water mark (previously three separate driver round-trips
    per funnel call)."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.vectors import hamming_codes

    recover_compacting(spark, index_path)
    pro = _ivf_prologue(spark, index_path, q_vec=q_vec)
    cells = _probe_cells(
        spark, index_path, q_vec, nprobe, cents=pro["cents"]
    )
    q_code = pro["qcode"]

    probed = _ivf_live(spark, index_path, cells, hw=pro["hw"])
    # stage 1: the 8-byte cut — vec_id + code only (column pruning
    # keeps the embedding bytes on disk for every non-candidate)
    cand = (
        probed.select(
            "vec_id",
            hamming_codes(
                F.col("code"), F.lit(q_code).cast("long")
            ).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(n_candidates)
    )
    # stage 2: exact rerank of the candidates' float vectors
    return (
        probed.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .select(
            "vec_id",
            F.col("hamming").cast("int").alias("hamming"),
            _cos_sim_expr(q_vec).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(n)
        .select(
            "vec_id", "hamming", F.round("cos_sim", 6).alias("cos_sim")
        )
    )


def ivf_pq_funnel(
    spark: SparkSession,
    index_path: str,
    q_vec: list,
    nprobe: int = 1,
    n_candidates: int = 100,
    n: int = 10,
) -> DataFrame:
    """The IVF-PQ (ADC) funnel over one materialized store (r12,
    VERDICT r11 next #1) — the higher-recall sibling of ivf_bq_funnel
    at the same byte budget: stage 0 picks the nprobe nearest cells
    driver-side (bounded centroid table); stage 1 scans ONLY
    (vec_id, pq_code) inside the probed cell partitions — M small
    ints per vector, the float column never leaves disk — and ranks
    by ASYMMETRIC distance: the UNQUANTIZED query builds an M x K
    lookup table of per-subspace squared distances once, and each
    row's estimated distance is M table lookups summed (a literal
    2-D array + one zip_with/aggregate fold — pure Catalyst, no
    UDF), kept to the n_candidates best via TakeOrderedAndProject;
    stage 2 joins the candidates back and exact-cosine-reranks just
    those rows. This is how FAISS-style IVFPQ deployments serve:
    nprobe/n_cells of M-byte codes + n_candidates float vectors per
    query. Committed batches only; the tombstone kill rule applies
    to both stages (the shared _ivf_live view).

    All double math mirrors queries/vectors.embedding_pq_adc_topk's
    fold order (sequential over sub dims and over m), so the DuckDB
    oracle can replay codebook, codes, LUT, candidate boundary, and
    rerank bit-for-bit. Requires a pq-carrying store
    (write_ivf_index(pq=True))."""
    from pyspark.sql import functions as F

    recover_compacting(spark, index_path)
    fs_pq, pq_p = _hadoop_path(spark, f"{index_path}/pq")
    if not fs_pq.exists(pq_p):
        raise ValueError(
            f"IVF index at {index_path} carries no PQ codes — build "
            "it with write_ivf_index(pq=True) for the ADC funnel"
        )
    # ONE fused prologue job (r13): pq meta + frozen codebook +
    # centroids + committed high-water mark — previously four
    # separate bounded collects per funnel call
    pro = _ivf_prologue(spark, index_path, need_pq=True)
    m, sub, _k = pro["meta"]
    cb = pro["cb"]
    cells = _probe_cells(
        spark, index_path, q_vec, nprobe, cents=pro["cents"]
    )
    # LUT[mi][ki] = ||q_sub[mi] - codeword[ki, mi]||^2, driver-side
    # over the bounded codebook; sequential fold over the sub dims —
    # the oracle's list_sum order
    lut = [
        [
            sum(
                (float(q_vec[mi * sub + i]) - ck[mi * sub + i]) ** 2
                for i in range(sub)
            )
            for ck in cb
        ]
        for mi in range(m)
    ]
    lut_lit = F.array(
        *[
            F.array(*[F.lit(float(d)) for d in row])
            for row in lut
        ]
    )
    probed = _ivf_live(spark, index_path, cells, hw=pro["hw"])
    # stage 1: the ADC cut — vec_id + pq_code only (column pruning
    # keeps embedding AND the 8-byte sign code on disk)
    est = F.aggregate(
        F.zip_with(
            lut_lit,
            F.col("pq_code"),
            lambda l, c: F.element_at(l, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        probed.select("vec_id", est.alias("est_dist"))
        .orderBy(F.asc("est_dist"), F.asc("vec_id"))
        .limit(n_candidates)
    )
    # stage 2: exact rerank of the candidates' float vectors
    return (
        probed.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .select(
            "vec_id",
            F.round("est_dist", 6).alias("est_dist"),
            _cos_sim_expr(q_vec).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(n)
        .select(
            "vec_id",
            "est_dist",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def ivf_filtered_topk(
    spark: SparkSession,
    index_path: str,
    q_vec: list,
    where: str,
    nprobe: int = 1,
    n: int = 10,
    mode: str = "prefilter",
    overfetch: int = 4,
    state: dict | None = None,
) -> DataFrame:
    """Top-n ANN under a metadata predicate served from the IVF store
    (r12, VERDICT r11 next #2) — the dial every production vector
    store exposes. `where` is a SQL boolean expression over the cells
    rows' attribute columns (write_ivf_index(attr_cols=...)).

    ``mode='prefilter'``: the predicate cuts INSIDE the probed cells
    BEFORE ranking — a pushed parquet data filter on the pruned
    partition read, so the exact cosine top-n always returns the n
    best matching rows within the probed cells regardless of
    selectivity. The right shape when the attribute is stored in the
    index.

    ``mode='postfilter'``: rank n x overfetch candidates WITHOUT the
    predicate, then filter and keep n — the only shape available
    when the predicate cannot be pushed to the index (a joined or
    computed attribute). Under selective predicates the candidate
    set may contain fewer than n matches; recall vs the filtered
    truth degrades with selectivity, which is exactly what the
    over-fetch factor trades (measured per selectivity in
    tests/test_layout.py and monitored by ivf_filtered_recall)."""
    from pyspark.sql import functions as F

    if mode not in ("prefilter", "postfilter"):
        raise ValueError("mode must be 'prefilter' or 'postfilter'")
    if state is None:
        state = ivf_serve_state(spark, index_path)
    cells = _probe_cells(
        spark, index_path, q_vec, nprobe, cents=state["cents"]
    )
    probed = _ivf_live(spark, index_path, cells, hw=state["hw"])
    if mode == "prefilter":
        return (
            probed.filter(F.expr(where))
            .select(
                "vec_id",
                "cell",
                _cos_sim_expr(q_vec).alias("cos_sim"),
            )
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(n)
        )
    cand = (
        probed.select(
            "vec_id",
            "cell",
            _cos_sim_expr(q_vec).alias("cos_sim"),
            F.expr(where).alias("_keep"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(int(n) * int(overfetch))
    )
    return (
        cand.filter(F.col("_keep"))
        .drop("_keep")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(n)
    )


def refresh_ivf_index(
    spark: SparkSession, index_path: str, n_iters: int = 3
) -> None:
    """Re-train the IVF coarse quantizer on the CURRENT store
    contents and re-assign every vector — the offline remedy for the
    two things maintain_ivf_index explicitly cannot do (its frozen-
    quantizer / new-ids-only contract): embedding-distribution DRIFT,
    which unbalances the cells and decays nprobe recall as new mass
    piles into centroids trained on the old distribution, and
    re-emitted ids, whose stale copies may sit in a different cell
    than any read-side dedupe can see (r8 VERDICT missing #3).

    Run while the maintenance stream is stopped (the compact_*
    contract). Steps, all bounded driver-side by the n_cells x dims
    centroid table:

    1. latest-wins dedupe of the cells store (max_by batch_id) — this
       pass IS the documented fix for re-emitted ids;
    2. warm-start Lloyd: `n_iters` k-means steps seeded from the
       LIVE centroid table, so cell identities are stable — on an
       undrifted store the assignments are already the fixed point
       and probe results are bit-identical after refresh (tested).
       Each step is pure Catalyst: row-local argmin against the
       broadcast-literal centroids (_nearest_cell_expr — no UDF, no
       join) + posexplode/avg with map-side combine, shuffling at
       most n_cells x dims partial rows per task. Cells left empty
       keep their previous centroid (the embedding_pq_train_step
       rule);
    3. final assignment + write_ivf_index into a temp sibling of the
       WHOLE index dir, swapped into place by swap_compacted — the
       centroid table and the cell partitions change together
       atomically, so no probe can ever pair new centroids with old
       cell assignments."""
    from pyspark.sql import functions as F

    # a prior refresh may have died between swap_compacted's delete
    # and rename, leaving the whole index at <index_path>.compacting —
    # finish that swap BEFORE the existence pre-checks (which would
    # otherwise raise and make the crash unrecoverable from here)
    recover_compacting(spark, index_path)
    fs, live_cells = _hadoop_path(spark, f"{index_path}/cells")
    if not fs.exists(live_cells):
        raise ValueError(
            f"IVF index at {index_path} has no cells store — build it "
            "with write_ivf_index before refreshing"
        )
    cents = [
        (r["cell"], list(r["centroid"]))
        for r in spark.read.parquet(f"{index_path}/centroids").collect()
    ]
    if not cents:
        raise ValueError(f"{index_path}/centroids is empty")

    # revised/deleted ids are dropped by the shared live view BEFORE
    # the latest-wins fold, so a deleted vector does not resurrect
    # through its surviving old row
    live = _ivf_live(spark, index_path).filter(
        F.col("embedding").isNotNull()
    )
    # attrs ride the fold; code/pq_code/cell are re-derived by the
    # rebuild (write_ivf_index) below
    attr_cols = [
        c
        for c in live.columns
        if c
        not in ("vec_id", "embedding", "code", "pq_code", "cell",
                "batch_id")
    ]
    vecs = (
        live.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("embedding", *attr_cols), "batch_id"
            ).alias("s")
        )
        .select(
            "vec_id",
            F.col("s.embedding").alias("embedding"),
            *[F.col(f"s.{c}").alias(c) for c in attr_cols],
        )
        # iterated n_iters+1 times below — cache the deduped working
        # set instead of re-reading + re-shuffling the store per step
        .cache()
    )
    pq_meta = _pq_store_meta(spark, index_path)
    try:
        for _ in range(max(0, n_iters)):
            new = (
                vecs.select(
                    _nearest_cell_expr(cents, "embedding").alias("cell"),
                    "embedding",
                )
                .select(
                    "cell", F.posexplode("embedding").alias("pos", "v")
                )
                .groupBy("cell", "pos")
                .agg(F.avg(F.col("v").cast("double")).alias("ctr"))
                .groupBy("cell")
                .agg(
                    F.transform(
                        # BOUNDED: one entry per dimension per cell
                        F.sort_array(
                            F.collect_list(F.struct("pos", "ctr"))
                        ),
                        lambda s: s["ctr"],
                    ).alias("centroid")
                )
                .collect()
            )
            moved = {r["cell"]: list(r["centroid"]) for r in new}
            cents = [(c, moved.get(c, v)) for c, v in cents]

        final = vecs.select(
            "vec_id",
            "embedding",
            _nearest_cell_expr(cents, "embedding").alias("label"),
            *attr_cols,
        )

        def _write(tmp: str) -> None:
            # a pq-carrying store re-seeds its codebook from the
            # refreshed contents (refresh IS the full re-index —
            # retraining PQ alongside the coarse quantizer is the
            # standard offline epoch roll); attrs carry through
            if pq_meta is not None:
                m, sub, k = pq_meta
                write_ivf_index(
                    final,
                    tmp,
                    attr_cols=tuple(attr_cols),
                    pq=True,
                    pq_m=m,
                    pq_sub=sub,
                    pq_k=k,
                )
            else:
                write_ivf_index(
                    final, tmp, attr_cols=tuple(attr_cols)
                )

        swap_compacted(spark, index_path, _write, "IVF index")
    finally:
        vecs.unpersist()


def compact_ivf_index(spark: SparkSession, index_path: str) -> None:
    """Fold a stream-maintained IVF cells store (maintain_ivf_index's
    ``cell=C/batch_id=N`` layout) into one ``batch_id=-1`` base
    partition per cell — and fold its TOMBSTONES OUT (rows killed by
    a newer revise_ivf_vectors marker are physically dropped, and
    the rewritten index carries no tombstones, so probes are back on
    the no-join fast path). A long-running maintenance stream grows
    one directory per cell PER MICRO-BATCH — n_cells x n_batches
    leaf dirs whose listing cost every probe pays before pruning;
    after compaction the store is back to n_cells dirs and probes
    list O(n_cells) paths again.

    Streamed ids are unique by maintain_ivf_index's new-ids-only
    HARD precondition; revised ids are reconciled by the tombstone
    filter first and a latest-wins (embedding, cell) fold by
    batch_id second — together they implement exactly the
    revise_ivf_vectors read contract, materialized.

    Crash-safety: the WHOLE index directory (centroids + folded
    cells, sans tombstones) is rewritten to a temp sibling and
    swapped by ONE swap_compacted call — cells and tombstones must
    change together atomically (folding cells to batch_id=-1 while
    live tombstones survive would kill the entire base: -1 < any
    tombstone batch; the refresh_ivf_index whole-dir precedent).
    Same run-only-while-stopped contract as compact_bq_index /
    compact_term_stats: committed batch ids never replay, and a
    restarted stream appends fresh ``batch_id>=0`` partitions next
    to the base."""
    from pyspark.sql import functions as F

    recover_compacting(spark, index_path)
    fs, live_cells = _hadoop_path(spark, f"{index_path}/cells")
    if not fs.exists(live_cells):
        raise ValueError(
            f"no IVF cells store at {index_path} — nothing to "
            "compact (a maintenance stream whose first batches were "
            "all filtered out never creates the store)"
        )
    cells = _ivf_live(spark, index_path)
    from se_data_pipeline_spark.functions.vectors import pack_sign_bits

    # latest-wins fold over ALL data columns (attrs and pq_code ride
    # the same struct — a store with filtered-ANN attributes compacts
    # without losing them); `code` is recomputed rather than carried
    # so a pre-code legacy store compacts into a code-carrying one
    data_cols = [
        c for c in cells.columns
        if c not in ("vec_id", "batch_id", "code")
    ]
    folded = (
        cells.groupBy("vec_id")
        .agg(F.max_by(F.struct(*data_cols), "batch_id").alias("s"))
        .select(
            "vec_id",
            *[F.col(f"s.{c}").alias(c) for c in data_cols],
        )
        .withColumn("code", pack_sign_bits(F.col("embedding")))
        .withColumn("batch_id", F.lit(-1))
    )
    centroids = spark.read.parquet(f"{index_path}/centroids")
    pq_meta = _pq_store_meta(spark, index_path)
    pq_cb = _pq_codebook(spark, index_path) if pq_meta else None

    def _write(tmp: str) -> None:
        folded.write.mode("overwrite").partitionBy(
            "cell", "batch_id"
        ).parquet(f"{tmp}/cells")
        centroids.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/centroids"
        )
        if pq_meta is not None:
            # the frozen codebook survives compaction verbatim —
            # folded pq_codes were encoded under it
            _write_pq_tables(
                spark, tmp, pq_cb, pq_meta[0], pq_meta[1]
            )
        # ledger count from the COMPACTED cells just written (one
        # column-pruned read) instead of re-running the whole
        # latest-wins fold a second time — same value
        (
            spark.read.schema("vec_id bigint")
            .parquet(f"{tmp}/cells")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .withColumn("batch_id", F.lit(-1))
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{tmp}/batches")
        )

    swap_compacted(spark, index_path, _write, "IVF index")


def delete_bq_vectors(
    spark: SparkSession, ids: DataFrame, index_path: str
) -> int:
    """Remove vectors from a delta-layout BQ index (r10, completing
    the tombstone story across all four stores): deletion is an
    IN-BAND marker — a NULL-code row for the id at a fresh batch_id.
    bq_candidates' latest-wins fold picks the newest row per id, so
    the NULL marker knocks out every older code and is itself
    dropped by the final code-IS-NOT-NULL cut; a vector re-emitted
    by the maintenance stream in a still-later batch simply wins
    again. No sibling tombstone table means no cross-directory crash
    window: the marker rides the same dynamic-partition-overwrite
    protocol as every other delta (an interrupted delete re-runs
    with the same batch id and overwrites its own partition).

    Requires the batch_id delta layout (maintain_bq_index / a
    compacted store); a flat write_bq_index store has no batch
    dimension to version against — rebuild it without the rows
    instead. Returns the batch id used."""
    from pyspark.sql import functions as F

    idx = spark.read.parquet(index_path)
    if "batch_id" not in idx.columns:
        raise ValueError(
            f"BQ index at {index_path} is a flat rebuild store "
            "(no batch_id layout) — deletes need the delta layout; "
            "rebuild with write_bq_index minus the rows instead"
        )
    mx = idx.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
    next_b = max(0, (mx if mx is not None else -1) + 1)
    # the BQ index IS a parquet dir (no subdirectory namespace), so
    # its fence lives at a sibling path — compact_bq_index drops it
    claim_offline_batch(spark, _bq_fence_dir(index_path), next_b)
    (
        ids.select("vec_id")
        .distinct()
        .select(
            "vec_id",
            F.lit(None).cast("long").alias("code"),
            F.lit(next_b).alias("batch_id"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(index_path)
    )
    return next_b


def _bq_fence_dir(index_path: str) -> str:
    """The BQ store's offline-fence location: a SIBLING of the flat
    index dir (a subdir would break spark.read.parquet's partition
    discovery on the index itself)."""
    return index_path.rstrip("/") + ".fence"


def compact_bq_index(spark: SparkSession, index_path: str) -> None:
    """Fold a stream-maintained BQ index (maintain_bq_index's
    one-partition-per-micro-batch layout) into a single
    ``batch_id=-1`` base partition, keeping ONLY the latest code per
    vec_id (max_by batch_id) — stale codes from re-emitted vectors
    are physically dropped, ids whose latest row is a NULL-code
    delete marker (delete_bq_vectors) are dropped ENTIRELY (marker
    and history fold away together — no tombstone survives
    compaction), and the partition count stops growing
    one-per-batch. Same contract as streaming/jobs.compact_term_stats:
    run ONLY while the stream is stopped (committed batch ids never
    replay, so folding them cannot duplicate; a restarted stream
    appends fresh ``batch_id>=0`` partitions next to the base and
    bq_candidates' latest-wins read stays correct). Crash-safe via
    swap_compacted: the folded base goes to a temp sibling first, so
    the live index survives a failed write (ADVICE r8)."""
    from pyspark.sql import functions as F

    def _write(tmp: str) -> None:
        (
            spark.read.parquet(index_path)
            .groupBy("vec_id")
            # struct-wrapped: max_by must return the NEWEST row even
            # when its code is NULL (a delete marker) — the struct is
            # never null, so null-code rows can win the fold
            .agg(
                F.max_by(F.struct("code"), "batch_id").alias("s")
            )
            .select("vec_id", F.col("s.code").alias("code"))
            .filter(F.col("code").isNotNull())  # folded-out deletes
            .withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )

    # the fence (a SIBLING dir the whole-dir swap cannot drop for us)
    # is removed inside the swap's commit window — after the fold is
    # durable at the sibling, before the live delete (ADVICE r11:
    # dropping it after the swap left a crash window whose stale
    # claimed ids spuriously fence a fresh-checkpoint stream at those
    # ids with a misleading 'compact the store' remedy). Narrowed
    # contract: an interrupted compaction must be re-run before any
    # stream restarts (the next compact/recover call completes the
    # swap; every claimed batch is in the durable fold).
    swap_compacted(
        spark,
        index_path,
        _write,
        "BQ index",
        pre_commit=lambda: drop_offline_fence(
            spark, _bq_fence_dir(index_path)
        ),
    )


def bq_candidates(
    spark: SparkSession,
    index_path: str,
    q_code: int,
    n: int = 100,
    id_col: str = "vec_id",
) -> DataFrame:
    """Stage-1 ANN candidate cut over a materialized BQ index:
    Hamming distance = bit_count(code ^ q_code) over the 8-byte code
    column, top-n via TakeOrderedAndProject (per-partition heap).
    Selects ONLY (id, code) so the scan never touches the vector
    column; rerank the returned ids against full vectors afterwards
    (see queries/vectors.py embedding_binary_quant_rerank for the
    inline twin of the full two-stage shape).

    A stream-maintained index (batch_id column present) is deduped
    on read — latest batch_id wins per id — so an updated embedding
    re-emitted in a later micro-batch cannot rank both its stale and
    fresh codes (ADVICE r7); compact_bq_index folds the partitions
    to keep that dedupe cheap."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.vectors import hamming_codes

    idx = spark.read.parquet(index_path)
    sel = idx.select(id_col, "code", *(
        ["batch_id"] if "batch_id" in idx.columns else []
    ))
    if "batch_id" in idx.columns:
        # stream-maintained index (maintain_bq_index): a vec re-emitted
        # with an updated embedding lands a NEW code in a LATER
        # batch_id partition while the stale one survives in the old
        # partition — rank only the latest code per id (ADVICE r7),
        # matching the batch write_bq_index rebuild semantics. One
        # extra 16-byte-row shuffle on the index, never the vectors;
        # fold old partitions with compact_bq_index to drop it.
        # struct-wrapped max_by so a NULL-code DELETE marker
        # (delete_bq_vectors) can win the fold and knock out older
        # codes; the notNull cut below then drops the deleted id.
        sel = sel.groupBy(id_col).agg(
            F.max_by(F.struct("code"), "batch_id")["code"].alias(
                "code"
            )
        )
    # drops delete markers that won the fold — and, defensively, a
    # foreign index's NULL codes, which must not rank unsearchable
    # rows first (Spark sorts NULLS FIRST ascending)
    sel = sel.filter(F.col("code").isNotNull())
    return (
        sel
        .withColumn(
            "hamming",
            hamming_codes(F.col("code"), F.lit(q_code).cast("long")),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(n)
    )


# Explicit store schemas (data + partition columns) — same rationale
# as streaming/jobs._TERM_STATS_SCHEMA: no footer-inference job on a
# many-partition store, and an empty-delta dir reads as a zero-row
# frame instead of UNABLE_TO_INFER_SCHEMA.
_POSTINGS_SCHEMA = (
    "doc_id bigint, dl int, c bigint, tok string, "
    "batch_id int, tok_bucket bigint"
)
_POSTINGS_TOTALS_SCHEMA = "n_docs bigint, n_tokens bigint, batch_id int"
_POSTINGS_META_SCHEMA = "n_buckets int"
# revision ledger: one (doc_id, dl) row per document per batch that
# (re)wrote it — O(n_docs) rows of 2 columns, the bounded thing a
# revision consults instead of scanning the postings themselves
_DOCLENS_SCHEMA = "doc_id bigint, dl int, batch_id int"
# delete markers: a tombstone at batch B kills every row of that
# doc_id written at batch < B (the doc's replacement rows, written
# AT B, survive). Readers consult the max tombstone per doc.
_TOMBSTONES_SCHEMA = "doc_id bigint, batch_id int"

# Bucket-count default for the postings layout. Why buckets and not
# one directory per term (the r9 layout, adjudicated WEAK): on the
# Zipfian vocabulary of a 100 TB corpus, partition-per-term writes
# millions of directories, most holding one tiny file — an
# object-store/namenode metadata explosion plus a write-side shuffle
# into millions of output partitions. Bucketing by
# pmod(xxhash64(tok), 4096) BOUNDS the partition key space (the same
# lesson as the r9 phash redesign: bucket KEY SPACE, not row caps,
# is what bounds growth); a K-term query prunes to <=K bucket
# directories and filters tok within them — same pruned-scan
# contract, O(1/4096) of the store read per term.
POSTINGS_TOK_BUCKETS = 4096


def _tok_bucket_col(n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("tok"), F.lit(int(n_buckets)))


def _term_buckets(
    spark: SparkSession, terms: list, n_buckets: int
) -> list:
    """Bucket ids for the K query terms: one bounded K-row local job
    evaluating the SAME Catalyst expression the writer used (Spark's
    xxhash64 has no public driver-side twin). Built with
    range+explode(array(lit...)), not createDataFrame — the
    claim_offline_batch 1-row rule: python-list local relations pay
    a multi-second RDD round-trip per job on this runtime."""
    from pyspark.sql import functions as F

    rows = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(str(t)) for t in terms])
            ).alias("tok")
        )
        .select(_tok_bucket_col(n_buckets).alias("b"))
        .collect()
    )
    return sorted({r["b"] for r in rows})


def _require_postings_meta(spark: SparkSession, out_dir: str) -> None:
    """Raise the shared no-meta-table error when the store lacks its
    meta dir — one copy of the existence check + message for
    _serve_prologue and _postings_meta_buckets (ADVICE r12: the two
    verbatim copies could drift)."""
    fs, meta_p = _hadoop_path(spark, f"{out_dir}/meta")
    if not fs.exists(meta_p):
        raise ValueError(
            f"posting-list store at {out_dir} has no meta table — "
            "build it with write_posting_lists / "
            "maintain_posting_lists"
        )


def _serve_prologue(
    spark: SparkSession, out_dir: str, terms: list, spec: _DeltaStore
) -> tuple[int, int, list]:
    """The per-serve prologue reads — bucket modulus (meta),
    committed high-water mark (the store's commit-point table), and
    the query terms' bucket ids — fused into ONE bounded Spark job
    (r12 "protocol floor": the three separate collects cost a driver
    job round-trip each, several times per lifecycle query). The
    K-row term frame cross-joins the 1-row meta read and the 1-row
    high-water aggregate, so one collect returns all three answers;
    no state is cached across calls — every serve still reads the
    store's live commit point. The term rows carry RAW xxhash64
    values and the pmod lands driver-side: for int64 h and positive
    modulus n, Python's ``h % n`` equals Spark's ``pmod(h, n)``
    (both are the floored/positive remainder), so the bucket ids are
    bit-identical to the writer's _tok_bucket_col. A store without
    its commit table is refused (_require_commit). Returns
    (n_buckets, hw, sorted bucket ids)."""
    from pyspark.sql import functions as F

    _require_postings_meta(spark, out_dir)
    _require_commit(spark, out_dir, spec)
    uniq = sorted({str(t) for t in terms})
    if not uniq:
        # explode of an empty term array yields zero rows and would
        # annihilate the cross-joined meta/hw answers — the resulting
        # "meta is empty" error names the wrong cause (ADVICE r12).
        # No public caller can reach this (phrase/AND require >= 2
        # terms, bm25's isin(*terms) fails earlier), but fail with
        # the real reason for future internal callers.
        raise ValueError("at least one query term required")
    rows = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(t) for t in uniq])).alias(
                "tok"
            )
        )
        .select(F.xxhash64("tok").alias("h"))
        .crossJoin(
            spark.read.schema(_POSTINGS_META_SCHEMA).parquet(
                f"{out_dir}/meta"
            )
        )
        .crossJoin(
            spark.read.schema(spec.commit_schema)
            .parquet(f"{out_dir}/{spec.commit}")
            .agg(F.max("batch_id").alias("mx"))
        )
        .collect()
    )
    if not rows:
        raise ValueError(f"{out_dir}/meta is empty")
    n_buckets = int(rows[0]["n_buckets"])
    mx = rows[0]["mx"]
    hw = max(0, (mx if mx is not None else -1) + 1)
    buckets = sorted({int(r["h"]) % n_buckets for r in rows})
    return n_buckets, hw, buckets


def _posting_frames(docs: DataFrame, batch_id: int, n_buckets: int):
    """postings + doclens delta frames for one document set — the
    frequency store's frame builder (every writer, one codepath)."""
    from pyspark.sql import functions as F

    # Split ONCE into a carried array, then size()/explode() the
    # array in a second select: size(split)+explode(split) in one
    # projection re-runs the regex split per exploded OUTPUT row
    # (O(tokens^2) per doc — measured 1.5s -> 0.17s on the sf0.1
    # corpus), the same CollapseProject trap text.py documents for
    # UDF arrays.
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("tok"),
    )
    tf = (
        toks.groupBy("tok", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("tok_bucket", _tok_bucket_col(n_buckets))
        # co-locate each bucket's rows in ONE task before the
        # partitioned write: without this every shuffle task holding
        # any of a bucket's rows emits its own file into that
        # bucket's directory — files = O(buckets x tasks) instead of
        # O(buckets) (measured 2048 -> 64 in the SCALE_CHECK store).
        # One bounded extra shuffle of the (already term-aggregated)
        # postings rows buys a store whose file count equals its
        # directory count.
        .repartition(F.col("tok_bucket"))
    )
    return {"postings": tf, "doclens": _doclens_frame(docs, batch_id)}


def _postings_meta_buckets(
    spark: SparkSession, out_dir: str, default: int | None = None
) -> int:
    """The store's bucket modulus, from its one-row meta table. Write
    and read MUST agree on the modulus or pruning reads the wrong
    buckets — which is why it is recorded in the store itself rather
    than trusted to call-site defaults. `default` (when given) covers
    a store created before the meta table existed."""
    fs, meta = _hadoop_path(spark, f"{out_dir}/meta")
    if not fs.exists(meta):
        if default is not None:
            return int(default)
        _require_postings_meta(spark, out_dir)
    rows = (
        spark.read.schema(_POSTINGS_META_SCHEMA)
        .parquet(f"{out_dir}/meta")
        .collect()
    )
    if not rows:
        raise ValueError(f"{out_dir}/meta is empty")
    return int(rows[0]["n_buckets"])


def _write_postings_meta(
    spark: SparkSession, out_dir: str, n_buckets: int
) -> None:
    from pyspark.sql import functions as F

    (
        spark.range(1)
        .select(F.lit(int(n_buckets)).cast("int").alias("n_buckets"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/meta")
    )


def _doclens_frame(docs: DataFrame, batch_id: int) -> DataFrame:
    """(doc_id, dl, batch_id) ledger rows — dl is the SAME expression
    _posting_frames uses, so ledger and postings can never disagree
    on a document's length."""
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.lit(batch_id).alias("batch_id"),
    )


def _live_doclens(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> DataFrame:
    """The store's CURRENT (doc_id, dl) view: latest ledger row per
    doc, minus docs whose newest tombstone post-dates their newest
    ledger row (deleted). One fold over the O(n_docs) ledger — never
    the postings."""
    from pyspark.sql import functions as F

    dl = spark.read.schema(_DOCLENS_SCHEMA).parquet(
        f"{out_dir}/doclens"
    )
    if before_batch is not None:
        dl = dl.filter(F.col("batch_id") < before_batch)
    latest = dl.groupBy("doc_id").agg(
        F.max_by("dl", "batch_id").alias("dl"),
        F.max("batch_id").alias("b"),
    )
    tomb = _tombstones_view(spark, out_dir, "doc_id", before_batch)
    if tomb is not None:
        latest = (
            latest.join(tomb, "doc_id", "left")
            .filter(
                F.col("tomb_b").isNull()
                | (F.col("b") >= F.col("tomb_b"))
            )
            .drop("tomb_b")
        )
    return latest.select("doc_id", "dl")


def write_posting_lists(
    docs: DataFrame, out_dir: str, n_buckets: int = POSTINGS_TOK_BUCKETS
) -> None:
    """Materialize the BM25 serving layout that doc_bm25_search's
    docstring promises ("at 100 TB the tf table IS the posting list —
    materialize it partitioned by term and this query becomes a
    posting-list lookup"): the (term, doc_id, tf, dl) table written
    PARTITIONED BY (batch_id, tok_bucket) — tok_bucket =
    pmod(xxhash64(tok), n_buckets), `tok` itself a DATA column — with
    a ``batch_id=-1`` base partition, plus a corpus-totals table
    (n_docs, n_tokens) in the same delta layout and a one-row meta
    table recording the bucket modulus. A query for K terms prunes to
    at most K bucket directories per batch partition (parquet
    partition pruning — executed-plan-asserted in the test) and
    filters tok WITHIN them (parquet data-filter pushdown); document
    frequency per query term falls out of the pruned read itself, so
    no global vocabulary table is consulted at serve time. The
    bounded bucket key space is the point: directory count is
    O(n_buckets), never O(vocabulary) — partition-per-term on a
    Zipfian 100 TB vocabulary is millions of near-empty directories
    (r9 VERDICT). The layout is IDENTICAL to what
    streaming/jobs.maintain_posting_lists appends (``batch_id>=0``
    deltas), so batch-built and stream-maintained stores serve
    through the same reader."""
    _store_write(_FREQUENCY, docs, out_dir, n_buckets)


def _totals_from_doclens(
    spark: SparkSession, out_dir: str, batch_id: int
) -> DataFrame:
    """The (n_docs, n_tokens, batch_id) totals row for one batch,
    aggregated from that batch's doclens partition instead of a
    second tokenize pass over the input corpus (r13; the
    compact-count readback precedent): the ledger carries one row
    per document of the batch with dl = size(split(text)) — the
    exact expression the totals aggregate used — so COUNT(*) and
    SUM(dl) reproduce the old values bit-for-bit (integer sums are
    order-independent; SUM skips the NULL dl a NULL-text document
    writes, exactly as SUM(size(split(NULL))) did). Callers must
    have written the batch's doclens partition first."""
    from pyspark.sql import functions as F

    fs, p = _hadoop_path(spark, f"{out_dir}/doclens")
    if not fs.exists(p):
        # zero-row build: the partitioned write of an empty frame may
        # not materialize the directory — the old aggregate produced
        # (0, NULL) for an empty corpus; reproduce it literally
        return spark.range(1).select(
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("n_tokens"),
            F.lit(int(batch_id)).alias("batch_id"),
        )
    return (
        spark.read.schema(_DOCLENS_SCHEMA)
        .parquet(f"{out_dir}/doclens")
        .filter(F.col("batch_id") == int(batch_id))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("n_tokens"),
        )
        .withColumn("batch_id", F.lit(int(batch_id)))
    )


def _corrected_totals(
    spark: SparkSession,
    out_dir: str,
    ids: DataFrame,
    next_b: int,
    totals_new: DataFrame | None,
) -> DataFrame:
    """Totals CORRECTION delta for a revision/delete batch, built as
    ONE lazy plan (r10 perf pass: the first cut collected the old
    and new 1-row aggregates to the driver — two whole Spark jobs —
    then re-uploaded a literal; the store write executes the same
    arithmetic in one job). `totals_new` is None for pure deletes."""
    from pyspark.sql import functions as F

    old = (
        _live_doclens(spark, out_dir, before_batch=next_b)
        .join(ids, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_old"),
            F.coalesce(F.sum("dl"), F.lit(0))
            .cast("long")
            .alias("old_tokens"),
        )
    )
    if totals_new is None:
        totals_new = spark.range(1).select(
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_tokens"),
        )
    return (
        totals_new.crossJoin(F.broadcast(old))  # 1-row x 1-row
        .select(
            (F.col("n_docs") - F.col("n_old"))
            .cast("long")
            .alias("n_docs"),
            (
                F.coalesce(F.col("n_tokens"), F.lit(0))
                - F.col("old_tokens")
            )
            .cast("long")
            .alias("n_tokens"),
            F.lit(next_b).alias("batch_id"),
        )
    )


def _totals_row(spark, out_dir, docs, ids, batch_id) -> DataFrame:
    """Commit row of the frequency store: the batch's (n_docs,
    n_tokens) totals delta, read back from the doclens partition the
    batch just wrote (_totals_from_doclens). With revisions (``ids``)
    on a store that has committed totals, a CORRECTION: new counts
    minus the replaced versions' (_corrected_totals), so n_docs/avgdl
    fold additively to the rebuilt-corpus values; a delete is the
    negative correction alone."""
    new = None
    if docs is not None:
        new = _totals_from_doclens(spark, out_dir, batch_id)
    fs, p = _hadoop_path(spark, f"{out_dir}/totals")
    if ids is None or not fs.exists(p):  # nothing committed to replace
        return new
    return _corrected_totals(
        spark,
        out_dir,
        ids,
        batch_id,
        None if new is None else new.drop("batch_id"),
    )


_FREQUENCY = _DeltaStore(
    what="posting-list store",
    schema=_POSTINGS_SCHEMA,
    parts=("batch_id", "tok_bucket"),
    frames=_posting_frames,
    commit="totals",
    commit_schema=_POSTINGS_TOTALS_SCHEMA,
    commit_row=_totals_row,
    bucketed=True,
    deltas=("postings", "doclens"),
)


def revise_posting_lists(
    spark: SparkSession, docs_v2: DataFrame, out_dir: str
) -> int:
    """UPSERT re-ingested documents into a posting-list store — the
    path the r9 stores lacked (VERDICT missing #2): the reference's
    own workflow re-probes and re-ingests channels (its ledger exists
    precisely because reruns happen, data_pipeline.py:559-577), and
    a re-crawled CHANGED document under the append-only contract
    double-counts in postings and totals. One revision batch N: new
    postings/doclens rows AT N, a tombstone (doc_id, N) per revised
    id, and the totals correction (old dl from the O(n_docs) doclens
    ledger — the postings are never scanned) as the commit row."""
    return _store_revise(
        _FREQUENCY, spark, docs_v2, out_dir, "revise_posting_lists"
    )


def delete_posting_docs(
    spark: SparkSession, doc_ids: DataFrame, out_dir: str
) -> int:
    """Remove documents from a posting-list store: tombstones plus
    the negative totals correction from the doclens ledger."""
    return _store_delete(
        _FREQUENCY, spark, doc_ids, out_dir, "delete_posting_docs"
    )


# positional postings: the phrase/proximity-query layout (positions
# array kept per (doc, term); same bucket-sharded partition scheme).
# Full lifecycle since r11: revise/delete tombstones, a `batches`
# commit ledger, a streaming maintainer
# (streaming/jobs.maintain_positional_postings) and whole-store
# compaction — the reference's re-ingest semantics
# (data_pipeline.py:559-577) apply to phrase indexes exactly as they
# did to the frequency store r10 fixed: a re-crawled CHANGED document
# changes its positions.
_POS_POSTINGS_SCHEMA = (
    "doc_id bigint, pos array<int>, tok string, "
    "batch_id int, tok_bucket bigint"
)
# commit ledger: one row per committed batch, written LAST — the
# totals-table commit-point role for stores that need no corpus
# statistics (positional postings, shingle index); the ledger carries
# only the commit marker + an informational doc count
_LEDGER_SCHEMA = "n_docs bigint, batch_id int"


def _positional_frames(
    docs: DataFrame, batch_id: int, n_buckets: int
):
    """The positional store's postings delta frame for one document
    set."""
    from pyspark.sql import functions as F

    # ONE exchange where the groupBy→repartition form cost two (r12):
    # hash-partitioning on tok_bucket already satisfies the
    # clustered distribution of a groupBy whose keys INCLUDE
    # tok_bucket (partition keys ⊆ group keys), so the aggregate
    # runs in the repartitioned tasks with no second shuffle —
    # collect_list has no byte-reducing map-side combine (every
    # position travels either way), so nothing is lost by shuffling
    # the raw occurrence rows. File layout unchanged: each bucket
    # still lands whole in one task → one file per bucket dir.
    rows = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "tok"),
        )
        .withColumn("tok_bucket", _tok_bucket_col(n_buckets))
        .repartition(F.col("tok_bucket"))
        .groupBy("tok_bucket", "tok", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("pos"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    return {"postings": rows}


_POSITIONAL = _DeltaStore(
    what="positional posting store",
    schema=_POS_POSTINGS_SCHEMA,
    parts=("batch_id", "tok_bucket"),
    frames=_positional_frames,
    commit="batches",
    commit_schema=_LEDGER_SCHEMA,
    commit_row=_ledger_count,
    bucketed=True,
)


def write_positional_postings(
    docs: DataFrame, out_dir: str, n_buckets: int = POSTINGS_TOK_BUCKETS
) -> None:
    """Materialize a POSITIONAL posting-list store: per (doc, term)
    one row carrying the sorted array of the term's token positions
    — the layout phrase/proximity queries need (a frequency-only
    posting list cannot answer "are these terms ADJACENT"). Same
    bounded bucket-sharded partition scheme as write_posting_lists
    (``batch_id/tok_bucket``, modulus in the meta table), so a
    K-term phrase prunes to <=K bucket dirs and directory count is
    O(buckets), never O(vocabulary). Positions are a separate
    parquet column: frequency-style readers that prune columns never
    pay for them. The ``batches`` commit ledger (one row per batch,
    written last) is what revision/serve paths derive the committed
    high-water mark from — the totals table's role in the frequency
    store, without corpus statistics phrase scoring doesn't need."""
    _store_write(_POSITIONAL, docs, out_dir, n_buckets)


def revise_positional_postings(
    spark: SparkSession, docs_v2: DataFrame, out_dir: str
) -> int:
    """UPSERT re-ingested documents into a positional posting store —
    a re-crawled CHANGED document changes its token POSITIONS, so
    under the append-only contract a phrase query would see both the
    stale and the fresh arrays (phantom/lost phrase hits). Fresh rows
    AT batch N, tombstone (doc_id, N); no totals correction — phrase
    scoring consults no corpus statistics. Returns the batch id."""
    return _store_revise(
        _POSITIONAL, spark, docs_v2, out_dir, "revise_positional_postings"
    )


def delete_positional_docs(
    spark: SparkSession, doc_ids: DataFrame, out_dir: str
) -> int:
    """Remove documents from a positional posting store."""
    return _store_delete(
        _POSITIONAL, spark, doc_ids, out_dir, "delete_positional_docs"
    )


def _pivot_positions(p: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """One row per doc with each term's position array in its own
    column (p0..pK-1) — ONE shuffle; rows are unique per (doc, term)
    by the store contract, so the conditional first() is exact. The
    K-way self-join of the textbook algorithm is replaced by this
    pivot: a K-leg self-join of one frame trips Spark's
    shared-lineage ambiguity, and the pivot is the better plan anyway
    (one exchange, no join)."""
    from pyspark.sql import functions as F

    return p.groupBy("doc_id").agg(
        *[
            F.first(
                F.when(F.col("tok") == t, F.col("pos")),
                ignorenulls=True,
            ).alias(f"p{i}")
            for i, t in enumerate(terms)
        ]
    )


def _pivot_live_positions(
    spark: SparkSession, out_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """The LIVE pivoted view every positional serve path reads: one
    row per doc with each term's committed, tombstone-live position
    array in its own column (p0..pK-1) — shared by phrase / proximity
    / ordered-near / AND-ranked so the lifecycle semantics cannot
    drift between query classes. Committed batches only (high-water
    mark from the batches ledger), <=K bucket-dir partition filter +
    in-bucket term cut.

    The tombstone kill rule is FUSED INTO the pivot (r13, guide §2.4
    one-exchange-satisfies-both): the tombstone markers are unioned
    with the pruned rows and the ONE groupBy(doc_id) takes, per term,
    the newest committed row (max_by over batch_id — max_by skips
    rows whose ordering expression is NULL, pinned by test) and nulls
    it out when the doc's newest tombstone post-dates it. Previously
    the kill rule was a separate aggregate + broadcast join of the
    revised-id map BEFORE the pivot exchange — at 100 TB that map is
    O(all revised ids), and broadcasting it was the unbounded piece;
    now those markers ride the same single exchange as the data rows.

    Equivalence with the old kill-join + first()-pivot: among rows of
    one (doc, term), the kill rule keeps exactly those with batch_id
    >= the doc's newest tombstone, and the store contract (each batch
    writes one row per (doc, term); a tombstone at B kills rows below
    B while replacement rows AT B survive) makes the survivor unique —
    it is necessarily the NEWEST row, so max_by-then-null-check picks
    the identical array. A doc whose every pivoted column nulls out
    (deleted, or tombstoned with no replacement in these buckets)
    yields an all-NULL row that every consumer already filters (NULL
    start set / NULL window fold / has_all=false), exactly as its
    absence did. A never-revised store (no tombstones dir) keeps the
    identical no-union single-exchange fast-path plan."""
    from pyspark.sql import functions as F

    recover_compacting(spark, out_dir)
    # ONE fused prologue job: bucket modulus + committed high-water
    # mark + term bucket ids
    n_buckets, hw, buckets = _serve_prologue(
        spark, out_dir, list(terms), _POSITIONAL
    )
    p = (
        spark.read.schema(_POS_POSTINGS_SCHEMA)
        .parquet(f"{out_dir}/postings")
        .filter(F.col("tok_bucket").isin(buckets))
        .filter(F.col("tok").isin(sorted(set(terms))))
        .filter(F.col("batch_id") < hw)  # committed only
    )
    fs, tp = _hadoop_path(spark, f"{out_dir}/tombstones")
    if not fs.exists(tp):
        # append-only fast path: the plain pivot, no union
        return _pivot_positions(p, terms)
    t = (
        spark.read.schema("doc_id bigint, batch_id int")
        .parquet(f"{out_dir}/tombstones")
        .filter(F.col("batch_id") < hw)  # committed only
    )
    u = p.select(
        "doc_id", "tok", "pos", "batch_id", F.lit(False).alias("tomb")
    ).unionByName(
        t.select(
            "doc_id",
            F.lit(None).cast("string").alias("tok"),
            F.lit(None).cast("array<int>").alias("pos"),
            "batch_id",
            F.lit(True).alias("tomb"),
        )
    )
    agg = u.groupBy("doc_id").agg(
        F.max(F.when(F.col("tomb"), F.col("batch_id"))).alias(
            "tomb_b"
        ),
        *[
            F.max_by(
                F.struct(
                    F.col("batch_id").alias("b"),
                    F.col("pos").alias("v"),
                ),
                # NULL ordering for tombstone markers and other
                # terms' rows — max_by skips those rows entirely
                F.when(
                    (~F.col("tomb")) & (F.col("tok") == term),
                    F.col("batch_id"),
                ),
            ).alias(f"s{i}")
            for i, term in enumerate(terms)
        ],
    )
    return agg.select(
        "doc_id",
        *[
            F.when(
                F.col("tomb_b").isNull()
                | (F.col(f"s{i}.b") >= F.col("tomb_b")),
                F.col(f"s{i}.v"),
            ).alias(f"p{i}")
            for i in range(len(terms))
        ],
    )


def phrase_from_postings(
    spark: SparkSession,
    out_dir: str,
    phrase: tuple[str, ...],
    limit: int | None = 10,
) -> DataFrame:
    """Exact-phrase search served from a write_positional_postings
    store: prune to the phrase terms' <=K bucket dirs (committed,
    tombstone-live arrays only, pivoted in one exchange —
    _pivot_live_positions), then fold the start set row-locally:
    after term i, `starts` holds every position s where tokens
    s..s+i match the phrase prefix, via
    array_intersect(starts, pos_i - i). The classic positional-index
    phrase algorithm (Manning et al. IIR ch.2) with the K-way
    self-join replaced by a pivot. Docs missing ANY term fold to a
    NULL start set (coalesced to 0 hits); corpus text is never
    touched at serve time."""
    from pyspark.sql import functions as F

    if len(phrase) < 2:
        raise ValueError("a phrase needs at least two terms")
    byd = _pivot_live_positions(spark, out_dir, phrase)
    def _shifted(col_name: str, k: int):
        # NB: the lambda must stay SINGLE-argument — F.transform
        # dispatches on lambda arity, and a second parameter (even a
        # defaulted one) makes it the ARRAY INDEX, silently replacing
        # the intended shift (found the hard way: `lambda x, _i=k`
        # computed x - position_in_array)
        return F.transform(F.col(col_name), lambda x: x - F.lit(k))

    starts = F.col("p0")
    for i in range(1, len(phrase)):
        starts = F.array_intersect(starts, _shifted(f"p{i}", i))
    hits = byd.select(
        "doc_id",
        F.coalesce(F.size(starts), F.lit(0)).alias("n_hits"),
    ).filter(F.col("n_hits") > 0)
    if limit is None:
        # ALL matching docs, UNRANKED — for join consumers (e.g. the
        # bm25_phrase_boost rescorer). Callers must pass None here,
        # never a huge sentinel limit: orderBy().limit(K) sizes its
        # top-k machinery by K, and a 1e9 sentinel OOMed the plain
        # 1 GB driver session in the r12 gate on a 3k-doc corpus.
        return hits
    return hits.orderBy(F.desc("n_hits"), F.asc("doc_id")).limit(
        limit
    )


def phrase_matches_from_postings(
    spark: SparkSession,
    out_dir: str,
    phrase: tuple,
    limit: int = 10,
) -> DataFrame:
    """phrase_from_postings returning the FIRST match position too:
    (doc_id, n_hits, first_pos) — what snippet/highlight generation
    needs (the store's position arrays already hold the answer, so
    no text is touched at ranking time). first_pos is the 0-based
    token index of the phrase's first occurrence."""
    from pyspark.sql import functions as F

    if len(phrase) < 2:
        raise ValueError("a phrase needs at least two terms")
    byd = _pivot_live_positions(spark, out_dir, phrase)

    def _shifted(col_name: str, k: int):
        # single-argument lambda (the F.transform arity rule)
        return F.transform(F.col(col_name), lambda x: x - F.lit(k))

    starts = F.col("p0")
    for i in range(1, len(phrase)):
        starts = F.array_intersect(starts, _shifted(f"p{i}", i))
    return (
        byd.select(
            "doc_id",
            F.coalesce(F.size(starts), F.lit(0)).alias("n_hits"),
            F.array_min(starts).alias("first_pos"),
        )
        .filter(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(limit)
    )


def proximity_from_postings(
    spark: SparkSession,
    out_dir: str,
    t1: str,
    t2: str,
    k: int,
    limit: int = 10,
) -> DataFrame:
    """Within-k proximity retrieval from a positional store — the
    query class between exact-phrase and bag-of-words (IIR ch.2
    POSITIONALINTERSECT): docs ranked by the number of position
    pairs (x ∈ positions(t1), y ∈ positions(t2)) with
    |y − x| <= k (and x != y, so a shared position of identical
    terms never self-matches). Two-bucket pruned read, one pivot,
    then a row-local fold: for each x, count p1's positions within
    the window — per-doc work bounded by |p0|·|p1| of the TWO terms'
    lists, never the document or the corpus."""
    from pyspark.sql import functions as F

    if t1 == t2:
        raise ValueError(
            "proximity needs two distinct terms (a single term's "
            "self-distances are not a retrieval signal)"
        )
    if k < 1:
        raise ValueError("window k must be >= 1")
    byd = _pivot_live_positions(spark, out_dir, (t1, t2))
    n_hits = F.aggregate(
        F.col("p0"),
        F.lit(0),
        lambda acc, x: acc
        + F.size(
            F.filter(
                F.col("p1"),
                lambda y: (F.abs(y - x) <= F.lit(int(k)))
                & (y != x),
            )
        ),
    )
    return (
        byd.select(
            "doc_id",
            F.coalesce(n_hits, F.lit(0)).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(limit)
    )


def ordered_near_from_postings(
    spark: SparkSession,
    out_dir: str,
    t1: str,
    t2: str,
    k: int,
    limit: int = 10,
) -> DataFrame:
    """ORDERED within-k proximity from a positional store: docs
    ranked by the number of position pairs with t1 BEFORE t2 and
    0 < y − x <= k — the directional operator between exact-phrase
    (y − x == i exactly) and unordered proximity (|y − x| <= k,
    proximity_from_postings). This is Lucene's ordered SpanNear /
    the IIR positional-intersect with a one-sided window; "new york"
    style queries where order carries meaning but adjacency is too
    strict. Identical pruned-read + pivot machinery; only the
    row-local window predicate differs."""
    from pyspark.sql import functions as F

    if t1 == t2:
        raise ValueError(
            "ordered proximity needs two distinct terms"
        )
    if k < 1:
        raise ValueError("window k must be >= 1")
    byd = _pivot_live_positions(spark, out_dir, (t1, t2))
    n_hits = F.aggregate(
        F.col("p0"),
        F.lit(0),
        lambda acc, x: acc
        + F.size(
            F.filter(
                F.col("p1"),
                lambda y: (y > x) & (y - x <= F.lit(int(k))),
            )
        ),
    )
    return (
        byd.select(
            "doc_id",
            F.coalesce(n_hits, F.lit(0)).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(limit)
    )


def and_ranked_from_postings(
    spark: SparkSession,
    out_dir: str,
    terms: tuple[str, ...],
    limit: int = 10,
) -> DataFrame:
    """Multi-term AND-ranked retrieval from a positional store: docs
    containing ALL query terms, ranked by total term frequency (the
    conjunctive boolean-retrieval head posting lists classically
    serve, IIR ch.1 INTERSECT — here with tf ranking on top). tf per
    term is just size(positions), so the positional store serves
    this without a frequency twin; the pruned read and pivot are the
    phrase machinery verbatim, the fold is a null-check + size sum
    instead of a start-set intersection."""
    from pyspark.sql import functions as F

    if len(terms) < 2:
        raise ValueError("an AND query needs at least two terms")
    if len(set(terms)) != len(terms):
        raise ValueError("AND query terms must be distinct")
    byd = _pivot_live_positions(spark, out_dir, terms)
    cols = [F.col(f"p{i}") for i in range(len(terms))]
    has_all = cols[0].isNotNull()
    for c in cols[1:]:
        has_all = has_all & c.isNotNull()
    total_tf = F.lit(0)
    for c in cols:
        total_tf = total_tf + F.size(c)
    return (
        byd.filter(has_all)
        .select("doc_id", total_tf.alias("total_tf"))
        .orderBy(F.desc("total_tf"), F.asc("doc_id"))
        .limit(limit)
    )


def compact_positional_postings(
    spark: SparkSession, out_dir: str
) -> None:
    """Fold a positional posting store's committed deltas into one
    ``batch_id=-1`` base, tombstones folded out (_store_compact)."""
    _store_compact(_POSITIONAL, spark, out_dir)


# shingle (near-dup screening) index store: the materialized corpus
# side of dedup_incremental_new_shard — continuous ingest probes each
# NEW batch's shingles against this index instead of re-running the
# Arrow shingle pass over the whole corpus per screen (at 100 TB the
# corpus-side shingle recompute IS the cost; the index read is 8-byte
# hashes + two ints). Same lifecycle contracts as the other stores:
# batches commit ledger, tombstone kill rule, offline fence,
# whole-dir compaction swaps.
_SHINGLE_INDEX_SCHEMA = "doc_id bigint, m int, h bigint, batch_id int"


def _shingle_frames(docs: DataFrame, batch_id: int, n_buckets=None):
    """The shingle index's rows delta for one document set: (doc_id,
    m, h) with h the xxhash64 of each distinct 5-token shingle and m
    the doc's distinct-shingle count carried alongside (so Jaccard
    needs no join back to the documents — the
    queries/text._shingle_index convention). Also the probe side of
    near_dups_from_index. Short docs (no shingles) contribute no rows
    but still count in the ledger."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.text import word_shingles_udf

    sets = docs.select(
        "doc_id",
        F.transform(
            word_shingles_udf(5)(F.col("text")),
            lambda x: F.xxhash64(x),
        ).alias("hset"),
    )
    rows = (
        sets.filter(F.size("hset") > 0)
        .select(
            "doc_id",
            F.size("hset").alias("m"),
            F.explode("hset").alias("h"),
        )
        .withColumn("batch_id", F.lit(batch_id))
    )
    return {"postings": rows}


_SHINGLE = _DeltaStore(
    what="shingle index",
    schema=_SHINGLE_INDEX_SCHEMA,
    parts=("batch_id",),
    frames=_shingle_frames,
    commit="batches",
    commit_schema=_LEDGER_SCHEMA,
    commit_row=_ledger_count,
)


def write_shingle_index(docs: DataFrame, out_dir: str) -> None:
    """Materialize the near-dup screening index: one (doc_id, m, h)
    row per distinct 5-token shingle hash, ``batch_id=-1`` base +
    the batches commit ledger. The 8-byte hash column is the join
    key (never the ~40-byte shingle string — the _shingle_index
    rationale); the shingle pass over the corpus text runs ONCE
    here, and every later ingest screen reads this instead."""
    _store_write(_SHINGLE, docs, out_dir)


def revise_shingle_docs(
    spark: SparkSession, docs_v2: DataFrame, out_dir: str
) -> int:
    """UPSERT re-ingested documents into the shingle index: a
    re-crawled CHANGED document changes both its shingle set and its
    m, so stale rows make every Jaccard involving the doc wrong (and
    split its pair groups in two)."""
    return _store_revise(
        _SHINGLE, spark, docs_v2, out_dir, "revise_shingle_docs"
    )


def delete_shingle_docs(
    spark: SparkSession, doc_ids: DataFrame, out_dir: str
) -> int:
    """Remove documents from the shingle index."""
    return _store_delete(
        _SHINGLE, spark, doc_ids, out_dir, "delete_shingle_docs"
    )


def near_dups_from_index(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Screen a NEW document batch for near-duplicates against the
    materialized corpus index: shingle the new docs (the only text
    pass — batch-sized, not corpus-sized), equi-join their 8-byte
    hashes against the index's committed, tombstone-live rows, count
    collisions per (new, corpus) pair, and keep pairs with Jaccard
    >= threshold. The asymmetric-join incremental-dedup shape of
    dedup_incremental_new_shard with the corpus side read from the
    store instead of recomputed — at 100 TB the difference is an
    Arrow UDF pass over the full corpus text per screen vs a
    columnar read of (doc_id, m, h).

    Callers screen batches whose doc_ids are NOT in the index (the
    ingest-order contract); a doc probed against its own indexed
    version reports itself at Jaccard 1."""
    from pyspark.sql import functions as F

    idx = _store_live(_SHINGLE, spark, out_dir)
    probe = _shingle_frames(new_docs, -1)["postings"].select(
        F.col("doc_id").alias("new_doc"),
        F.col("m").alias("ma"),
        "h",
    )
    p = (
        probe.join(
            idx.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("m").alias("mb"),
                "h",
            ),
            "h",
        )
        .groupBy("new_doc", "corpus_doc", "ma", "mb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("ma") + F.col("mb") - F.col("n_common")
    )
    return (
        p.filter(jac >= float(threshold))
        .select(
            "new_doc",
            "corpus_doc",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("new_doc", "corpus_doc")
    )


def compact_shingle_index(spark: SparkSession, out_dir: str) -> None:
    """Fold the shingle index's committed deltas into one
    ``batch_id=-1`` base, tombstones folded out (_store_compact)."""
    _store_compact(_SHINGLE, spark, out_dir)


# MinHash-LSH band-index store (r12 — store #6, built ENTIRELY on the
# shared lifecycle machinery above; it adds no protocol code of its
# own, which is the point of the r12 factoring): the banded-signature
# side of minhash_lsh_candidates MATERIALIZED for continuous-ingest
# screening. Where the shingle index stores one row per distinct
# shingle hash (O(doc tokens) rows/doc), this store keeps 4 rows/doc
# of (band, sig) — 16 longs of signature regardless of document size
# — so the index read AND the candidate join shuffle ~100x fewer
# bytes; the trade is LSH's probabilistic recall (tuned by k/bands),
# monitored by dedup_method_recall_report. Probe batches are banded
# with the SAME kernel as the batch query (queries/text._mh_band_rows)
# and equi-joined on (band, sig) against the live index rows.
_MINHASH_INDEX_SCHEMA = (
    "doc_id bigint, band bigint, sig string, batch_id int"
)


def _minhash_frames(docs: DataFrame, batch_id: int, n_buckets=None):
    """The band index's rows delta for one document set — one
    Arrow-batched signature pass (the minhash_lsh_candidates kernel),
    also the probe side of lsh_candidates_from_index. Docs with <5
    tokens contribute no band rows but still count in the ledger."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.queries.text import _mh_band_rows

    rows = docs.select("doc_id", "text").mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    ).withColumn("batch_id", F.lit(batch_id))
    return {"postings": rows}


_MINHASH = _DeltaStore(
    what="minhash band index",
    schema=_MINHASH_INDEX_SCHEMA,
    parts=("batch_id",),
    frames=_minhash_frames,
    commit="batches",
    commit_schema=_LEDGER_SCHEMA,
    commit_row=_ledger_count,
)


def write_minhash_index(docs: DataFrame, out_dir: str) -> None:
    """Materialize the LSH band index: ``batch_id=-1`` base + the
    batches commit ledger (written LAST)."""
    _store_write(_MINHASH, docs, out_dir)


def revise_minhash_docs(
    spark: SparkSession, docs_v2: DataFrame, out_dir: str
) -> int:
    """UPSERT re-ingested documents (a changed document changes its
    signature, so stale band rows produce phantom/lost candidates)."""
    return _store_revise(
        _MINHASH, spark, docs_v2, out_dir, "revise_minhash_docs"
    )


def delete_minhash_docs(
    spark: SparkSession, doc_ids: DataFrame, out_dir: str
) -> int:
    """Remove documents from the band index."""
    return _store_delete(
        _MINHASH, spark, doc_ids, out_dir, "delete_minhash_docs"
    )


def lsh_candidates_from_index(
    spark: SparkSession, out_dir: str, new_docs: DataFrame
) -> DataFrame:
    """Screen a NEW document batch for near-dup CANDIDATES against
    the materialized band index: band the new docs (one batch-sized
    Arrow pass — the only text touched), equi-join (band, sig)
    against the live index, emit distinct (new_doc, corpus_doc)
    pairs for downstream exact verification (ngram_jaccard-style).
    The asymmetric continuous-ingest shape of near_dups_from_index
    with a ~100x smaller index payload (16 longs/doc vs one row per
    distinct shingle); recall is LSH-probabilistic by design."""
    from pyspark.sql import functions as F

    idx = _store_live(_MINHASH, spark, out_dir)
    return (
        _minhash_frames(new_docs, -1)["postings"]
        .select(
            F.col("doc_id").alias("new_doc"), "band", "sig"
        )
        .join(
            idx.select(
                F.col("doc_id").alias("corpus_doc"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .select("new_doc", "corpus_doc")
        .distinct()
        .orderBy("new_doc", "corpus_doc")
    )


def compact_minhash_index(spark: SparkSession, out_dir: str) -> None:
    """Fold the band index's committed deltas into one ``batch_id=-1``
    base, tombstones folded out (_store_compact)."""
    _store_compact(_MINHASH, spark, out_dir)


def compact_posting_lists(spark: SparkSession, out_dir: str) -> None:
    """Fold a posting-list store's per-batch deltas back into a
    single ``batch_id=-1`` base — and fold its TOMBSTONES OUT:
    postings/doclens rows killed by a newer tombstone are physically
    dropped, totals deltas (including revision corrections) sum into
    one row, and the rewritten store carries no tombstones at all,
    so serve-time reads are back on the no-join fast path.

    The WHOLE store directory (postings + doclens + totals + meta,
    sans tombstones) is rewritten to a temp sibling and swapped into
    place by ONE swap_compacted call — tombstones and the rows they
    kill must change together atomically: swapping postings and
    tombstones separately has a crash window where live tombstones
    point at the already-folded base (batch_id=-1 < tomb batch) and
    would delete every revised document from reads (the
    refresh_ivf_index whole-dir-swap precedent). Run ONLY while the
    maintenance stream is stopped; committed batch ids never replay,
    and a restarted stream appends fresh ``batch_id>=0`` deltas next
    to the folded base."""
    from pyspark.sql import functions as F

    # a prior compaction may have died between delete and rename,
    # leaving the store only at <out_dir>.compacting — recover BEFORE
    # the meta read raises 'has no meta table' (whose advice to
    # rebuild would overwrite the only surviving copy; ADVICE r10).
    # swap_compacted's own recovery runs too late for that read.
    recover_compacting(spark, out_dir)
    nb = _postings_meta_buckets(spark, out_dir)
    # fold the COMMITTED state only: a crashed revision's partial
    # postings/tombstones (its totals commit point never landed) must
    # not be folded into the base with their correction missing
    hw = _committed_hw(spark, out_dir, _FREQUENCY)
    p = (
        spark.read.schema(_POSTINGS_SCHEMA)
        .parquet(f"{out_dir}/postings")
        .filter(F.col("batch_id") < hw)
    )
    p = _kill_tombstoned(spark, p, out_dir, "doc_id", hw)
    live_dl = _live_doclens(spark, out_dir, before_batch=hw)
    totals = (
        spark.read.schema(_POSTINGS_TOTALS_SCHEMA)
        .parquet(f"{out_dir}/totals")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )

    def _write(tmp: str) -> None:
        (
            p.withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id", "tok_bucket")
            .parquet(f"{tmp}/postings")
        )
        (
            live_dl.withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{tmp}/doclens")
        )
        (
            totals.withColumn("batch_id", F.lit(-1))
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{tmp}/totals")
        )
        _write_postings_meta(spark, tmp, nb)

    swap_compacted(spark, out_dir, _write, "posting-list store")


def bm25_from_postings(
    spark: SparkSession,
    out_dir: str,
    terms: tuple[str, ...],
    limit: int = 20,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """Serve Okapi BM25 top-`limit` from a write_posting_lists store:
    the query terms' bucket ids (pmod(xxhash64(tok), n_buckets), the
    modulus read from the store's meta table) become a PARTITION
    FILTER on the postings layout — the scan touches at most K bucket
    directories for a K-term query — and the tok equality filter cuts
    within them as a pushed parquet data filter; df per term is a
    tiny aggregate over the pruned rows, corpus totals ride a 1-row
    broadcast. Exactly doc_bm25_search's scoring math — the parity
    test pins score-for-score equality against the inline query —
    with corpus-scan work replaced by an O(matching-postings) lookup.

    avgdl is computed as n_tokens/n_docs from the additively-folded
    totals deltas, which is bit-identical to the inline query's
    AVG(size(split(text))) (Spark's AVG is the same long-sum /
    long-count double divide). Works unchanged on a batch-built
    store (one batch_id=-1 partition) and a stream-maintained one
    (many deltas): postings rows are unique per (doc, term) by the
    append-only-unique-docs contract, and totals fold by sum."""
    from pyspark.sql import functions as F

    from se_data_pipeline_spark.functions.text import BM25_B, BM25_K1

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    # a compact_posting_lists swap may have died between delete and
    # rename — finish it before the meta read raises (same entry
    # protocol as refresh_ivf_index)
    recover_compacting(spark, out_dir)
    # ONE fused prologue job (bucket modulus + committed high-water
    # mark + term bucket ids). The hw serves the COMMITTED state
    # only (ADVICE r10): totals is every writer's LAST write, so
    # max(totals batch_id)+1 is the committed high-water mark — a
    # revision that crashed after its tombstone write but before its
    # totals correction must stay invisible (its tombstones would
    # otherwise drop the old rows while totals still count them)
    # until its re-run lands the commit point.
    n_buckets, hw, buckets = _serve_prologue(
        spark, out_dir, list(terms), _FREQUENCY
    )
    p = (
        spark.read.schema(_POSTINGS_SCHEMA)
        .parquet(f"{out_dir}/postings")
        .filter(F.col("batch_id") < hw)  # committed batches only
        # partition pruning to <=K bucket dirs ...
        .filter(F.col("tok_bucket").isin(buckets))
        # ... then the exact-term cut within them (pushed data filter)
        .filter(F.col("tok").isin(*terms))
    )
    # revised/deleted docs: drop rows a newer COMMITTED tombstone
    # kills. The join runs over the already-PRUNED postings, and a
    # store with no revisions has no tombstones table — zero cost on
    # the append-only fast path (compaction folds tombstones out).
    p = _kill_tombstoned(spark, p, out_dir, "doc_id", hw)
    # postings rows are unique per (doc, term) by the store contract,
    # so df is a plain count — no countDistinct expand (r9 VERDICT)
    dfreq = p.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    totals = (
        spark.read.schema(_POSTINGS_TOTALS_SCHEMA)
        .parquet(f"{out_dir}/totals")
        # the SAME committed prefix as the postings read (r12,
        # VERDICT r11 next #3): this aggregate runs as a separate
        # job, so a micro-batch committing mid-serve would otherwise
        # pair batch-N totals with batch-<N postings — a mixed-state
        # avgdl/n_docs no committed prefix ever had. With the filter,
        # every serve is a consistent snapshot at the hw it read
        # first, even while a maintenance stream is appending.
        .filter(F.col("batch_id") < hw)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "n_docs",
            (F.col("n_tokens") / F.col("n_docs")).alias("avgdl"),
        )
    )
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("c") * (k1 + 1)) / (
        F.col("c") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        p.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * sat), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(limit)
    )
