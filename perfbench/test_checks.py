"""Tests of the benchmark's own output checks: a correct result passes,
a corrupted served row or a wrong split is caught.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import pandas as pd

from perfbench import checks, inputs

DOCS = pd.DataFrame(
    {
        "doc_id": [0, 1, 2, 3, 4],
        "text": [
            "the cat sat on the mat",
            "a cat and a dog",
            "the dog sat",
            "cat sat cat sat",
            "nothing here",
        ],
    }
)


def _served(scores: dict, k: int) -> list[tuple]:
    return checks.top_k(scores, k)


def test_recount_counts_phrases_and_proximity():
    rc = checks.Recount(DOCS)
    assert rc.phrase(("cat", "sat")) == {0: 1, 3: 2}
    assert rc.proximity("cat", "dog", 3) == {1: 1}
    assert rc.and_tf(("the", "sat")) == {0: 3, 2: 2}


def test_correct_reads_pass():
    rc = checks.Recount(DOCS)
    for q in (("bm25", ("cat", "sat")), ("phrase", ("cat", "sat")), ("and", ("the", "sat"))):
        scores = {"bm25": rc.bm25, "phrase": rc.phrase, "and": rc.and_tf}[q[0]](q[1])
        served = _served(scores, 20 if q[0] == "bm25" else 10)
        assert checks.check_read(rc, q, served) == []


def test_corrupted_served_row_is_caught():
    rc = checks.Recount(DOCS)
    served = _served(rc.bm25(("cat", "sat")), 20)
    bad_score = [served[0][:1] + (served[0][1] + 0.01,)] + served[1:]
    assert checks.check_read(rc, ("bm25", ("cat", "sat")), bad_score)
    wrong_doc = [(4, served[0][1])] + served[1:]
    assert checks.check_read(rc, ("bm25", ("cat", "sat")), wrong_doc)
    hits = _served(rc.phrase(("cat", "sat")), 10)
    assert checks.check_read(rc, ("phrase", ("cat", "sat")), hits[:-1])
    assert checks.check_read(rc, ("phrase", ("cat", "sat")), [(d, n + 1) for d, n in hits])


def _curate_case():
    verdicts = pd.DataFrame({"doc_id": [0, 1, 2, 3], "selected": [True, False, True, True]})
    splits = pd.DataFrame({"doc_id": [0, 1, 2, 3], "split": ["train", "train", "val", "test"]})
    return verdicts, splits


def test_curate_check_passes_on_matching_outputs():
    v, s = _curate_case()
    assert checks.check_curate(v, s, v.copy(), s.copy()) == []


def test_wrong_split_or_verdict_is_caught():
    v, s = _curate_case()
    assert checks.check_curate(v, s, v, s.assign(split=["train", "val", "val", "test"]))
    assert checks.check_curate(v, s, v.assign(selected=[True, True, True, True]), s)


def test_ingest_check():
    planned, bad = {"a", "b", "c"}, {"c"}
    assert checks.check_ingest(planned, bad, {"a", "b"}, {"c"}, True) == []
    assert checks.check_ingest(planned, bad, {"a"}, {"c"}, True)
    assert checks.check_ingest(planned, bad, {"a", "b"}, set(), True)
    assert checks.check_ingest(planned, bad, {"a", "b"}, {"c"}, False)


def test_generators_are_seed_deterministic():
    a = inputs.corpus(7, 200, 500, 0.2, 10)
    b = inputs.corpus(7, 200, 500, 0.2, 10)
    c = inputs.corpus(8, 200, 500, 0.2, 10)
    assert a[0].equals(b[0]) and not a[0].equals(c[0])
    assert inputs.synth_recording(7, "UC0000v00001", (16_000, 5.0)) == inputs.synth_recording(
        7, "UC0000v00001", (16_000, 5.0)
    )
    texts = a[0]["text"]
    assert texts.duplicated().sum() > 0  # exact duplicates are present
