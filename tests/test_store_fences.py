"""Offline-revision batch-id fencing + committed-high-water reads
(ADVICE r10): a store's streaming maintainer numbers writes with
CHECKPOINT-scoped micro-batch ids, while offline revise/delete
derives its id from the store's committed high-water mark — for a
stream-maintained store those collide the moment the old checkpoint
resumes. The fence makes that collision a loud error instead of
silent document loss; the committed-high-water serve reads keep a
crashed revision's partial tombstones invisible until its totals
commit point lands.
"""

from __future__ import annotations

import glob
import os
import time as _time

import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table


def _two_file_source(docs, src: str, split: str = "doc_id % 2 = 0"):
    """Two parquet files with staggered mtimes so maxFilesPerTrigger=1
    yields two deterministic micro-batches."""
    os.makedirs(src, exist_ok=True)
    docs.filter(split).coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(os.path.join(src, "part-*.parquet")))
    docs.filter(f"NOT ({split})").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )


def test_offline_revision_fences_resumed_stream(
    spark, sf_dir, tmp_path
):
    """The ADVICE r10 high scenario end-to-end: stream one micro-batch
    (id 0), stop, revise offline (claims id 1 = the resumed stream's
    next id), then resume the old checkpoint — the maintainer must
    FAIL LOUDLY on the claimed id instead of clobbering the
    revision's partitions, and the revision must still serve."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        offline_claimed_ids,
        revise_posting_lists,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    docs.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "store")
    chk = str(tmp_path / "chk")

    def run_stream():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return maintain_posting_lists(
            stream, out, chk, n_buckets=32, allow_revisions=True
        )

    q = run_stream()
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None

    # stream stopped — offline revision claims the NEXT committed id,
    # which is exactly the resumed stream's next micro-batch id (1)
    revised = docs.filter("doc_id % 3 = 0").withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzrevised"))
    )
    b = revise_posting_lists(spark, revised, out)
    assert b == 1
    assert offline_claimed_ids(
        spark, os.path.join(out, "offline_fence")
    ) == {1}
    before = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS
        ).collect()
    ]

    # new file arrives; resuming the OLD checkpoint would write
    # micro-batch 1 — the fence must fail it loudly
    extra = spark.createDataFrame(
        [(10_000_000, "fence probe document")], "doc_id long, text string"
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    q2 = run_stream()
    with pytest.raises(Exception, match="collides with an offline"):
        q2.awaitTermination(120)

    # the revision's partitions survived the failed resume intact
    after = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS
        ).collect()
    ]
    assert after == before
    assert (
        bm25_from_postings(spark, out, ("zzrevised",)).count() > 0
    )


def test_compaction_clears_fence_for_fresh_checkpoint(
    spark, sf_dir, tmp_path
):
    """compact_posting_lists swaps the whole store dir, folding the
    claimed batches into the base and dropping the fence — after it,
    a fresh-checkpoint stream legitimately restarts at id 0."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
        offline_claimed_ids,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    v1 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzv1junk")),
        ).otherwise(F.col("text")),
    )
    write_posting_lists(v1, out, n_buckets=32)
    revise_posting_lists(spark, docs.filter("doc_id % 3 = 0"), out)
    fence = os.path.join(out, "offline_fence")
    assert offline_claimed_ids(spark, fence) == {0}

    compact_posting_lists(spark, out)
    assert offline_claimed_ids(spark, fence) == frozenset()
    inline = [
        tuple(r) for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    served = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]
    assert served == inline


def test_uncommitted_revision_invisible_to_serve(
    spark, sf_dir, tmp_path
):
    """A revision that crashed AFTER its tombstone write but BEFORE
    its totals commit point must be invisible to serve-time readers
    (ADVICE r10 low: tombstones would otherwise drop the old rows
    while totals still count them); the re-run then converges."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=32)
    committed = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]

    # simulate the crash window FAITHFULLY to the revision's write
    # order: the fence claim lands first (claim_offline_batch is
    # every offline writer's first write — and since r12 it also
    # marks these partials as offline-owned so the re-run's
    # partial-batch guard lets it converge), then tombstones (and
    # partial postings) at batch 0; totals never lands
    from se_data_pipeline_spark.sources.layout import (
        claim_offline_batch,
    )

    claim_offline_batch(
        spark, os.path.join(out, "offline_fence"), 0
    )
    ids = docs.filter("doc_id % 3 = 0").select("doc_id")
    (
        ids.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "tombstones"))
    )
    served = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]
    assert served == committed, (
        "uncommitted tombstones leaked into the served state"
    )

    # the re-run reuses batch 0 (totals never committed), overwrites
    # the partials, and lands the commit point — now it serves
    v2 = docs.filter("doc_id % 3 = 0").withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzrevised"))
    )
    assert revise_posting_lists(spark, v2, out) == 0
    truth_docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzrevised")),
        ).otherwise(F.col("text")),
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_posting_lists(truth_docs, rebuilt, n_buckets=32)
    assert [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ] == [
        tuple(r)
        for r in bm25_from_postings(
            spark, rebuilt, SEARCH_TERMS, limit=20
        ).collect()
    ]


def test_maintainer_writes_meta_once(spark, sf_dir, tmp_path):
    """Steady-state micro-batches must leave the meta dir untouched
    (ADVICE r10 low: a per-batch delete+write of the one-row table
    opens a 'has no meta table' window for concurrent serves) — the
    meta parquet file written by batch 0 must survive batch 1
    byte-identically (parquet part files get fresh UUID names on any
    rewrite, so stable names prove no rewrite happened)."""
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    _two_file_source(docs, src)
    out = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_posting_lists(stream, out, str(tmp_path / "chk"), n_buckets=32)
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "expected two micro-batches"

    meta_files = sorted(
        glob.glob(os.path.join(out, "meta", "part-*.parquet"))
    )
    assert len(meta_files) == 1
    # third batch over the same checkpoint: meta must not be rewritten
    extra = spark.createDataFrame(
        [(10_000_001, "steady state probe")], "doc_id long, text string"
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = maintain_posting_lists(
        stream2, out, str(tmp_path / "chk"), n_buckets=32
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert (
        sorted(glob.glob(os.path.join(out, "meta", "part-*.parquet")))
        == meta_files
    )


def test_compact_posting_lists_recovers_crashed_swap(
    spark, sf_dir, tmp_path
):
    """A compaction that died between delete and rename leaves the
    store ONLY at <out>.compacting; re-running compact_posting_lists
    must recover it FIRST (ADVICE r10 medium: its meta pre-check used
    to raise 'has no meta table', whose advice to rebuild would
    overwrite the only surviving copy)."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=32)
    expect = [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ]
    # the exact crash-window state: live dir gone, sibling complete
    os.rename(out, out + ".compacting")
    compact_posting_lists(spark, out)
    assert [
        tuple(r)
        for r in bm25_from_postings(
            spark, out, SEARCH_TERMS, limit=20
        ).collect()
    ] == expect


def test_bq_and_term_stats_fences_claimed(spark, tmp_path):
    """delete_bq_vectors and revise_term_stats claim their batch ids
    (BQ's fence at a SIBLING path — the flat index dir cannot hold a
    subdir), guard_stream_batch raises on the claimed id, and
    compact_bq_index / compact_term_stats clear the fences."""
    from se_data_pipeline_spark.sources.layout import (
        _bq_fence_dir,
        compact_bq_index,
        delete_bq_vectors,
        guard_stream_batch,
        offline_claimed_ids,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        compact_term_stats,
        revise_term_stats,
    )

    # BQ: delta-layout store, one delete
    idx = str(tmp_path / "bq_idx")
    vecs = spark.createDataFrame(
        [(i, [float(i), -1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    from se_data_pipeline_spark.functions.vectors import pack_sign_bits

    (
        vecs.select(
            "vec_id",
            pack_sign_bits(F.col("embedding")).alias("code"),
            F.lit(-1).alias("batch_id"),
        )
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(idx)
    )
    b = delete_bq_vectors(
        spark, vecs.filter("vec_id = 3").select("vec_id"), idx
    )
    fence = _bq_fence_dir(idx)
    assert offline_claimed_ids(spark, fence) == {b}
    with pytest.raises(RuntimeError, match="collides with an offline"):
        guard_stream_batch(spark, fence, b, "BQ index")
    guard_stream_batch(spark, fence, b + 1, "BQ index")  # free id: ok
    compact_bq_index(spark, idx)
    assert offline_claimed_ids(spark, fence) == frozenset()

    # term stats: build a tiny store via revise (insert-only), then
    # a second revise claims the next id; compaction clears it
    ts = str(tmp_path / "ts")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    empty = docs.limit(0)
    (
        spark.createDataFrame([(2, 4, 0)], "n_docs long, n_tokens long, batch_id int")
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(os.path.join(ts, "corpus_totals"))
    )
    (
        spark.createDataFrame(
            [("a", 1, 1, 0, 0), ("b", 2, 2, 1, 0), ("c", 1, 1, 2, 0)],
            "tok string, doc_freq long, coll_freq long, bucket long, batch_id int",
        )
        .write.mode("overwrite")
        .partitionBy("batch_id", "bucket")
        .parquet(os.path.join(ts, "term_stats"))
    )
    b2 = revise_term_stats(
        spark, ts, old_docs=empty, new_docs=docs.filter("doc_id = 9")
    )
    assert offline_claimed_ids(
        spark, os.path.join(ts, "offline_fence")
    ) == {b2}
    compact_term_stats(spark, ts)
    assert offline_claimed_ids(
        spark, os.path.join(ts, "offline_fence")
    ) == frozenset()


def _tiny_docs(spark):
    return spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta alpha beta gamma doc"),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def test_offline_revision_refuses_stream_partials(spark, tmp_path):
    """ADVICE r11 medium: rows a crashed STREAM left at/above the
    committed high-water mark (postings written, ledger row not) must
    make the next offline revision REFUSE — committing a new offline
    batch would make those partials serve without their tombstones.
    A crashed OFFLINE revision's own partials (fence-claimed id) stay
    exempt: its re-run converges by overwriting its own partitions.
    Compaction (committed fold + whole-dir swap) drops the partials
    and unblocks the revision."""
    from se_data_pipeline_spark.sources.layout import (
        _positional_frames,
        claim_offline_batch,
        compact_positional_postings,
        phrase_from_postings,
        revise_positional_postings,
        write_positional_postings,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "pos_store")
    write_positional_postings(docs, out, n_buckets=8)

    # simulate the crashed stream micro-batch: rows at id 0, NO ledger
    stray_rows = _positional_frames(
        docs.filter("doc_id = 0").withColumn(
            "text", F.lit("alpha beta stray")
        ),
        0,
        8,
    )["postings"]
    (
        stray_rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "tok_bucket")
        .parquet(os.path.join(out, "postings"))
    )
    revised = docs.filter("doc_id = 1").withColumn(
        "text", F.lit("alpha beta revised")
    )
    with pytest.raises(RuntimeError, match="uncommitted rows"):
        revise_positional_postings(spark, revised, out)

    # compaction folds committed state only and physically drops the
    # stray batch — the revision then proceeds at a fresh id
    compact_positional_postings(spark, out)
    b = revise_positional_postings(spark, revised, out)
    served = {
        r["doc_id"]: r["n_hits"]
        for r in phrase_from_postings(
            spark, out, ("alpha", "beta"), limit=10
        ).collect()
    }
    assert served[1] == 1  # revised doc: one adjacency
    assert served[0] == 2  # stray batch dropped: original text serves
    assert b == 0

    # a crashed OFFLINE revision's partials are exempt: claim the id
    # first, leave partial rows, re-run with the same input
    stray2 = _positional_frames(revised, 1, 8)["postings"]
    claim_offline_batch(spark, os.path.join(out, "offline_fence"), 1)
    (
        stray2.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "tok_bucket")
        .parquet(os.path.join(out, "postings"))
    )
    assert revise_positional_postings(spark, revised, out) == 1


def test_postings_revision_refuses_stream_partials(spark, tmp_path):
    """The same partial-batch guard on the frequency store (totals is
    the commit point): stray doclens rows at the high-water mark make
    revise_posting_lists refuse."""
    from se_data_pipeline_spark.sources.layout import (
        _doclens_frame,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "bm25_store")
    write_posting_lists(docs, out, n_buckets=8)
    (
        _doclens_frame(docs.filter("doc_id = 0"), 0)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "doclens"))
    )
    with pytest.raises(RuntimeError, match="uncommitted rows"):
        revise_posting_lists(spark, docs.filter("doc_id = 1"), out)


def test_ivf_revision_refuses_stream_partials(spark, tmp_path):
    """The guard on the IVF store's NESTED cells layout
    (cell=C/batch_id=N): a stray cells partition at the committed
    high-water mark makes revise_ivf_vectors refuse."""
    from se_data_pipeline_spark.sources.layout import (
        revise_ivf_vectors,
        write_ivf_index,
    )

    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 2).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    idx = str(tmp_path / "ivf")
    write_ivf_index(vecs, idx, cell_col="label")
    # stray stream rows at the hw id (0), no ledger row
    (
        vecs.filter("vec_id = 0")
        .select(
            "vec_id",
            "embedding",
            F.lit(0).cast("long").alias("code"),
            F.lit(0).alias("cell"),
            F.lit(0).alias("batch_id"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(os.path.join(idx, "cells"))
    )
    with pytest.raises(RuntimeError, match="uncommitted rows"):
        revise_ivf_vectors(
            spark, vecs.filter("vec_id = 1"), idx
        )


def test_ledgerless_positional_store_is_rejected(spark, tmp_path):
    """A positional store with rows but no batches ledger has no
    committed batch: serving, revising and compacting it raise an
    error naming the remedy (restart the stream or rebuild) instead
    of serving the uncommitted rows append-only."""
    import shutil

    from se_data_pipeline_spark.sources.layout import (
        compact_positional_postings,
        phrase_from_postings,
        revise_positional_postings,
        write_positional_postings,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "ledgerless_pos")
    write_positional_postings(docs, out, n_buckets=8)
    shutil.rmtree(os.path.join(out, "batches"))

    for op in (
        lambda: phrase_from_postings(spark, out, ("alpha", "beta")),
        lambda: revise_positional_postings(spark, docs, out),
        lambda: compact_positional_postings(spark, out),
    ):
        with pytest.raises(ValueError, match="no batches commit table"):
            op()
    assert not os.path.exists(os.path.join(out, "offline_fence"))


def test_crashed_build_meta_and_partial_rows_is_rejected(
    spark, tmp_path
):
    """ADVICE r13 medium: the positional build writes meta beside the
    rows, so a crash can leave meta plus PARTIAL postings and no
    ledger. That store must fail loudly, never serve the partial
    rows."""
    from se_data_pipeline_spark.sources.layout import (
        _positional_frames,
        _write_postings_meta,
        phrase_from_postings,
    )

    docs = _tiny_docs(spark)
    out = str(tmp_path / "crashed_build")
    _write_postings_meta(spark, out, 8)
    (
        _positional_frames(docs.filter("doc_id < 2"), -1, 8)["postings"]
        .write.mode("overwrite")
        .partitionBy("batch_id", "tok_bucket")
        .parquet(os.path.join(out, "postings"))
    )
    with pytest.raises(ValueError, match="rebuild the store"):
        phrase_from_postings(spark, out, ("alpha", "beta")).collect()
