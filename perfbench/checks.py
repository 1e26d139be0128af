"""Output checks, run after the timed region.

Each check returns a list of failure strings (empty = pass). They are
plain pandas/numpy recounts over the generated inputs, so they share
no code with the library they check.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pandas as pd

BM25_K1 = 1.2
BM25_B = 0.75
SCORE_TOL = 1e-5


def frame_hash(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-insensitive hash of the given columns' rows."""
    rows = sorted(tuple(str(v) for v in r) for r in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


# ----------------------------------------------------------- curate


def check_curate(oracle_verdicts: pd.DataFrame, oracle_splits: pd.DataFrame,
                 verdicts: pd.DataFrame, splits: pd.DataFrame) -> list[str]:
    """Spark's curation verdicts and splits must hash-equal the
    registry's DuckDB oracles on the same generated tables."""
    fails = []
    if frame_hash(verdicts, ["doc_id", "selected"]) != frame_hash(oracle_verdicts, ["doc_id", "selected"]):
        fails.append("curate: corpus_joint_curation verdicts differ from the oracle")
    if frame_hash(splits, ["doc_id", "split"]) != frame_hash(oracle_splits, ["doc_id", "split"]):
        fails.append("curate: leakage_safe_splits differ from the oracle")
    return fails


# ------------------------------------------------------------ serve


class Recount:
    """Positional index of a raw corpus, built in plain Python, for
    recounting served results."""

    def __init__(self, docs: pd.DataFrame):
        self.pos: dict[str, dict[int, list[int]]] = defaultdict(dict)
        self.dl: dict[int, int] = {}
        for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
            toks = text.split(" ")
            self.dl[doc_id] = len(toks)
            for i, t in enumerate(toks):
                self.pos[t].setdefault(doc_id, []).append(i)
        self.n_docs = len(self.dl)
        self.avgdl = sum(self.dl.values()) / max(self.n_docs, 1)

    def bm25(self, terms) -> dict[int, float]:
        score: dict[int, float] = defaultdict(float)
        for t in terms:
            posting = self.pos.get(t, {})
            df = len(posting)
            idf = math.log(1 + (self.n_docs - df + 0.5) / (df + 0.5))
            for d, p in posting.items():
                c = len(p)
                score[d] += idf * (c * (BM25_K1 + 1)) / (
                    c + BM25_K1 * (1 - BM25_B + BM25_B * self.dl[d] / self.avgdl)
                )
        return {d: round(s, 6) for d, s in score.items()}

    def _docs_with(self, terms) -> list[int]:
        sets = [set(self.pos.get(t, {})) for t in terms]
        return sorted(set.intersection(*sets)) if sets else []

    def phrase(self, phrase) -> dict[int, int]:
        out = {}
        for d in self._docs_with(phrase):
            starts = set(self.pos[phrase[0]][d])
            for i, t in enumerate(phrase[1:], 1):
                starts &= {p - i for p in self.pos[t][d]}
            if starts:
                out[d] = len(starts)
        return out

    def proximity(self, a: str, b: str, k: int) -> dict[int, int]:
        out = {}
        for d in self._docs_with((a, b)):
            pb = self.pos[b][d]
            n = sum(1 for x in self.pos[a][d] for y in pb if abs(y - x) <= k and y != x)
            if n:
                out[d] = n
        return out

    def and_tf(self, terms) -> dict[int, int]:
        return {d: sum(len(self.pos[t][d]) for t in terms) for d in self._docs_with(terms)}


def top_k(scores: dict, k: int) -> list[tuple]:
    """Ranked (doc, score): score descending, doc ascending."""
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_exact(name: str, served: list[tuple], scores: dict, k: int) -> list[str]:
    """Integer-scored results must equal the recount's top-k exactly."""
    want = top_k(scores, k)
    got = [(int(d), int(s)) for d, s in served]
    return [] if got == want else [f"{name}: served {got[:3]}... != recount {want[:3]}..."]


def check_ranked(name: str, served: list[tuple], scores: dict, k: int) -> list[str]:
    """Float-scored top-k: every served score equals the recount's for
    that doc within ``SCORE_TOL``, the list is ordered, it is as long as the
    recount allows, and no unserved doc beats the last served one."""
    fails = []
    got = [(int(d), float(s)) for d, s in served]
    if len(got) != min(k, len(scores)):
        fails.append(f"{name}: served {len(got)} rows, recount has {min(k, len(scores))}")
    for d, s in got:
        if d not in scores or abs(scores[d] - s) > SCORE_TOL:
            fails.append(f"{name}: doc {d} served score {s} != recount {scores.get(d)}")
    if any(a[1] < b[1] - SCORE_TOL for a, b in zip(got, got[1:])):
        fails.append(f"{name}: served list is not ordered by score")
    if got:
        served_ids = {d for d, _ in got}
        best_rest = max((s for d, s in scores.items() if d not in served_ids), default=-math.inf)
        if best_rest > got[-1][1] + SCORE_TOL:
            fails.append(f"{name}: unserved doc scores {best_rest} > last served {got[-1][1]}")
    return fails


def check_read(recount: Recount, query: tuple, served: list[tuple]) -> list[str]:
    """Dispatch one served read to its recount. ``served`` is the
    read's (doc_id, score) rows in served order."""
    kind = query[0]
    if kind == "bm25":
        return check_ranked(f"bm25{query[1]}", served, recount.bm25(query[1]), 20)
    if kind == "phrase":
        return check_exact(f"phrase{query[1]}", served, recount.phrase(query[1]), 10)
    if kind == "proximity":
        a, b = query[1]
        return check_exact(f"proximity{query[1]}", served, recount.proximity(a, b, query[2]), 10)
    if kind == "and":
        return check_exact(f"and{query[1]}", served, recount.and_tf(query[1]), 10)
    return [f"unknown read kind {kind}"]


# ---------------------------------------------------------- maintain


def check_same(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: maintained {str(got)[:80]} != fresh build {str(want)[:80]}"]


# ------------------------------------------------------------ ingest


def check_ingest(planned: set, bad: set, documented: set, dead: set,
                 republish_refused: bool) -> list[str]:
    """Every planned video with a decodable download has a metadata
    entry; every injected bad payload is in the dead letter and in no
    document; re-publishing a committed batch is refused."""
    fails = []
    want_docs, want_dead = planned - bad, planned & bad
    if documented != want_docs:
        fails.append(
            f"ingest: {len(want_docs - documented)} planned videos lack a metadata entry, "
            f"{len(documented - want_docs)} entries were not planned or are bad payloads"
        )
    if dead != want_dead:
        fails.append(f"ingest: dead letter holds {len(dead)} videos, expected the {len(want_dead)} bad payloads")
    if not republish_refused:
        fails.append("ingest: re-publishing a committed batch was not refused")
    return fails
