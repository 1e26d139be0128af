"""The shared delta-store protocol (sources/layout._DeltaStore):

- crash-at-commit matrix: for every store x {revise, delete, one
  stream batch with revisions}, a crash at the commit-row write
  leaves a store that serves exactly the pre-operation state, and
  re-running the operation yields a store that serves the same as a
  fresh build of the final corpus — under both
  partitionOverwriteMode settings;
- job-count pins: no store operation runs more Spark jobs than the
  pinned counts (counted by job group, overlapped writes included);
- overlapped thunks run under the caller's job group;
- the IVF build's ledger count reads only the partition it wrote."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.sources import layout as L
from se_data_pipeline_spark.streaming import jobs as J

_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"

BASE = {
    0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    1: "alpha beta one two three four five six seven eight",
    2: "gamma delta alpha beta nine ten eleven twelve thirteen fourteen",
    3: "the quick brown fox jumps over the lazy dog today",
    4: "alpha beta gamma delta epsilon zeta eta theta iota lambda",
    5: "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
}
# the revise op and the stream batch carry the same upsert: a changed
# document (new positions, shingles, signature) plus a new one
REVISE = STREAM = {
    1: "one two three alpha beta four five six seven eight",
    7: "a quick brown fox jumps over a sleeping cat now",
}
DELETE = [2]
# every text version of the touched documents, as a probe batch for
# the near-dup screens
PROBE = {
    100 + i: t
    for i, t in enumerate(
        sorted({BASE[1], BASE[2], *REVISE.values()})
    )
}


def _final(op: str) -> dict:
    out = dict(BASE)
    if op == "delete":
        for i in DELETE:
            out.pop(i)
    else:
        out.update(REVISE)
    return out


def _docs(spark, rows: dict):
    return spark.createDataFrame(
        sorted(rows.items()), "doc_id bigint, text string"
    )


def _serve_frequency(spark, store):
    return sorted(
        tuple(r)
        for r in L.bm25_from_postings(
            spark, store, ("alpha", "beta", "fox", "one"), limit=50
        ).collect()
    )


def _serve_positional(spark, store):
    return sorted(
        tuple(r)
        for r in L.phrase_from_postings(
            spark, store, ("alpha", "beta"), limit=None
        ).collect()
    )


def _serve_shingle(spark, store):
    return sorted(
        tuple(r)
        for r in L.near_dups_from_index(
            spark, store, _docs(spark, PROBE), threshold=0.3
        ).collect()
    )


def _serve_minhash(spark, store):
    return sorted(
        tuple(r)
        for r in L.lsh_candidates_from_index(
            spark, store, _docs(spark, PROBE)
        ).collect()
    )


STORES = {
    "frequency": (
        lambda d, o: L.write_posting_lists(d, o, n_buckets=8),
        L.revise_posting_lists,
        L.delete_posting_docs,
        J.maintain_posting_lists,
        L.compact_posting_lists,
        _serve_frequency,
    ),
    "positional": (
        lambda d, o: L.write_positional_postings(d, o, n_buckets=8),
        L.revise_positional_postings,
        L.delete_positional_docs,
        J.maintain_positional_postings,
        L.compact_positional_postings,
        _serve_positional,
    ),
    "shingle": (
        L.write_shingle_index,
        L.revise_shingle_docs,
        L.delete_shingle_docs,
        J.maintain_shingle_index,
        L.compact_shingle_index,
        _serve_shingle,
    ),
    "minhash": (
        L.write_minhash_index,
        L.revise_minhash_docs,
        L.delete_minhash_docs,
        J.maintain_minhash_index,
        L.compact_minhash_index,
        _serve_minhash,
    ),
}

@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """(serve, store path) of a fresh build of the base corpus
    (op None — each case copies that store instead of rebuilding) or
    of an operation's final corpus, built once per store and corpus."""
    root = tmp_path_factory.mktemp("delta_ref")
    serves: dict = {}

    def _get(kind: str, op: str | None):
        rows = BASE if op is None else _final(op)
        key = (kind, tuple(sorted(rows.items())))
        if key not in serves:
            write, *_, serve = STORES[kind]
            store = str(root / f"{kind}_{len(serves)}")
            write(_docs(spark, rows), store)
            serves[key] = (serve(spark, store), store)
        return serves[key]

    return _get


def _run_op(spark, kind, op, store, src, ckpt):
    _, revise, delete, maintain, _, _ = STORES[kind]
    if op == "revise":
        revise(spark, _docs(spark, REVISE), store)
    elif op == "delete":
        delete(
            spark,
            spark.range(1).select(F.lit(DELETE[0]).cast("long").alias("doc_id")),
            store,
        )
    else:
        q = maintain(
            spark.readStream.schema("doc_id bigint, text string").parquet(src),
            store,
            ckpt,
            allow_revisions=True,
        )
        q.awaitTermination(120)  # raises the batch's failure
        assert not q.isActive


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)


def _crash(*args, **kwargs):
    raise RuntimeError("injected crash at the commit-row write")


@pytest.mark.parametrize("mode", ["static", "dynamic"])
@pytest.mark.parametrize("op", ["revise", "delete", "stream"])
@pytest.mark.parametrize("kind", list(STORES))
def test_crash_at_commit_serves_prior_state_and_rerun_converges(
    spark, tmp_path, monkeypatch, reference, kind, op, mode
):
    serve = STORES[kind][-1]
    before, template = reference(kind, None)
    final, _ = reference(kind, op)
    store = str(tmp_path / "store")
    shutil.copytree(template, store)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    pd.DataFrame(sorted(STREAM.items()), columns=["doc_id", "text"]).to_parquet(
        os.path.join(src, "batch.parquet")
    )
    prior = spark.conf.get(_MODE_KEY)
    spark.conf.set(_MODE_KEY, mode)
    try:
        with monkeypatch.context() as m:
            m.setattr(L, "_commit", _crash)
            with pytest.raises(Exception, match="injected crash"):
                _run_op(spark, kind, op, store, src, ckpt)
        assert serve(spark, store) == before
        _run_op(spark, kind, op, store, src, ckpt)  # re-run / replay
        assert serve(spark, store) == final
    finally:
        spark.conf.set(_MODE_KEY, prior)


# Spark jobs per store operation on the six-document corpus above,
# counted by job group (overlapped writes included); a later change
# must not add driver round-trips. Order: write, one stream batch with
# revisions, revise, delete, compact.
_JOB_PINS = {
    "frequency": {"write": 7, "stream": 16, "revise": 19, "delete": 10, "compact": 13},
    "positional": {"write": 5, "stream": 9, "revise": 10, "delete": 5, "compact": 11},
    "shingle": {"write": 3, "stream": 7, "revise": 8, "delete": 5, "compact": 8},
    "minhash": {"write": 3, "stream": 7, "revise": 8, "delete": 5, "compact": 10},
}


@pytest.mark.parametrize("kind", list(STORES))
def test_store_operation_job_counts_do_not_grow(spark, tmp_path, kind):
    write, revise, delete, maintain, compact, _ = STORES[kind]
    sc = spark.sparkContext
    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame(sorted(STREAM.items()), columns=["doc_id", "text"]).to_parquet(
        os.path.join(src, "batch.parquet")
    )
    base = _docs(spark, BASE).localCheckpoint()
    rev = _docs(spark, REVISE).localCheckpoint()
    dels = spark.range(1).select(F.lit(DELETE[0]).cast("long").alias("doc_id"))
    got = {}

    def _count(op, fn):
        group = f"pin-{kind}-{op}"
        sc.setJobGroup(group, group)
        try:
            q = fn()
        finally:
            _clear_job_group(sc)
        if op == "stream":
            q.awaitTermination(120)
            assert q.exception() is None
            group = str(q.runId)
        got[op] = len(sc.statusTracker().getJobIdsForGroup(group))

    _count("write", lambda: write(base, store))
    _count(
        "stream",
        lambda: maintain(
            spark.readStream.schema("doc_id bigint, text string").parquet(src),
            store,
            str(tmp_path / "ckpt"),
            allow_revisions=True,
        ),
    )
    _count("revise", lambda: revise(spark, rev, store))
    _count("delete", lambda: delete(spark, dels, store))
    _count("compact", lambda: compact(spark, store))
    over = {
        op: (n, _JOB_PINS[kind][op])
        for op, n in got.items()
        if n > _JOB_PINS[kind][op]
    }
    assert not over, f"{kind}: jobs (got, pinned) {over}"


def test_overlapped_jobs_run_in_callers_job_group(spark):
    sc = spark.sparkContext
    group = "overlap-inherits-group"
    sc.setJobGroup(group, "overlapped thunks")
    try:
        got = L._overlap_writes(
            lambda: spark.range(10).count(),
            lambda: spark.range(5).count(),
        )
    finally:
        _clear_job_group(sc)
    assert got == [10, 5]
    # the caller ran no job itself: both come from the thunks' threads
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_ivf_rebuild_ledger_counts_only_the_build_partition(
    spark, tmp_path
):
    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 2).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    idx = str(tmp_path / "ivf")
    L.write_ivf_index(vecs, idx, cell_col="label")
    # a stream-maintained store's leftover delta partition
    (
        vecs.filter("vec_id < 3")
        .select(
            "vec_id",
            "embedding",
            F.lit(0).cast("long").alias("code"),
            F.col("label").alias("cell"),
            F.lit(0).alias("batch_id"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(os.path.join(idx, "cells"))
    )
    prior = spark.conf.get(_MODE_KEY)
    spark.conf.set(_MODE_KEY, "dynamic")
    try:
        L.write_ivf_index(vecs, idx, cell_col="label")
    finally:
        spark.conf.set(_MODE_KEY, prior)
    ledger = (
        spark.read.schema(L._LEDGER_SCHEMA)
        .parquet(os.path.join(idx, "batches"))
        .filter("batch_id = -1")
        .collect()
    )
    assert [r["n_docs"] for r in ledger] == [8]
