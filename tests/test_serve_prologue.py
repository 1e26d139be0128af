"""The fused serve prologue (r12 optimization) must return exactly
what the three separate reads it replaced returned — bucket modulus,
committed high-water mark, and term bucket ids — on every store
state a serve can meet: fresh batch-built, revised (ledger advanced),
and the frequency store's totals-derived high-water mark; a store
with no commit-point dir is refused. The bucket ids additionally pin the
driver-side pmod: Python's ``h % n`` on the collected raw xxhash64
values must equal the writer's Catalyst pmod(xxhash64(tok), n) for
negative hashes too."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.sources import layout as L

TERMS = ["the", "quality", "pipeline", "zz-unseen-term"]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the data pipeline checks quality"),
            (2, "quality gates guard the pipeline"),
            (3, "a third document about nothing"),
        ],
        "doc_id bigint, text string",
    )


def _old_triple_positional(spark, store, terms):
    nb = L._postings_meta_buckets(spark, store)
    hw = L._committed_hw(spark, store, L._POSITIONAL)
    return nb, hw, L._term_buckets(spark, sorted(set(terms)), nb)


def _old_triple_frequency(spark, store, terms):
    nb = L._postings_meta_buckets(spark, store)
    hw = L._committed_hw(spark, store, L._FREQUENCY)
    return nb, hw, L._term_buckets(spark, list(terms), nb)


def test_fused_equals_triple_positional(spark, docs, tmp_path):
    store = str(tmp_path / "pos_store")
    L.write_positional_postings(docs, store)
    assert L._serve_prologue(
        spark, store, TERMS, L._POSITIONAL
    ) == _old_triple_positional(spark, store, TERMS)
    # after a revision the ledger high-water mark moves — the fused
    # read must see the new commit point, not a cached one
    L.revise_positional_postings(
        spark, docs.filter(F.col("doc_id") == 2), store
    )
    got = L._serve_prologue(spark, store, TERMS, L._POSITIONAL)
    assert got == _old_triple_positional(spark, store, TERMS)
    # the batch build writes at batch_id=-1; the revision claims 0,
    # so the committed high-water mark is 1
    assert got[1] == 1


def test_fused_equals_triple_frequency(spark, docs, tmp_path):
    store = str(tmp_path / "freq_store")
    L.write_posting_lists(docs, store)
    assert L._serve_prologue(
        spark, store, TERMS, L._FREQUENCY
    ) == _old_triple_frequency(spark, store, TERMS)


def test_fused_ledgerless_store_is_rejected(spark, docs, tmp_path):
    # a positional store with meta and rows but no batches dir has no
    # committed batch: the prologue refuses it, naming the remedy,
    # instead of serving the uncommitted rows append-only
    store = str(tmp_path / "ledgerless_store")
    L.write_positional_postings(docs, store)
    shutil.rmtree(f"{store}/batches")
    with pytest.raises(ValueError, match="restart the maintenance"):
        L._serve_prologue(spark, store, TERMS, L._POSITIONAL)


def test_fused_missing_meta_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no meta table"):
        L._serve_prologue(
            spark, str(tmp_path / "absent"), TERMS, L._POSITIONAL
        )


def test_driver_pmod_matches_catalyst_on_negative_hashes(spark):
    # find tokens whose xxhash64 is negative and assert the Python %
    # equals Catalyst pmod for them (the fused prologue's driver-side
    # bucket computation)
    toks = [f"tok{i}" for i in range(64)]
    rows = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(t) for t in toks])).alias("tok")
        )
        .select(
            "tok",
            F.xxhash64("tok").alias("h"),
            L._tok_bucket_col(4096).alias("b"),
        )
        .collect()
    )
    assert any(r["h"] < 0 for r in rows)  # the case that matters
    for r in rows:
        assert int(r["h"]) % 4096 == int(r["b"])
