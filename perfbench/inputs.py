"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of ``seed`` (plus fixed sizes), so
the same seed always yields byte-identical inputs. Tables are written
as ``<name>.parquet`` files in an sf-style directory, which is exactly
what ``catalog.load_table`` and the registry queries read, so the
library receives only generated inputs.

The dimensions each workload varies are listed in ``metric_map.json``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The registry's quality score rewards these English markers
# (queries.text.doc_quality_score); ranking them at the head of the
# vocabulary gives the quality gate a realistic pass/fail mix.
STOPWORDS = ("the", "a", "of", "and", "to")
EMBED_DIM = 64
# semantic_dedup_keep buckets vectors by the signs of these dimensions
# (embedding[1], [14], [28], [42] in its 1-based oracle), so a
# near-duplicate vector must keep them to meet its original.
BUCKET_DIMS = (0, 13, 27, 41)


def _rng(seed: int, *salt) -> np.random.Generator:
    """Independent stream per (seed, purpose) so adding a draw to one
    generator never shifts another's inputs."""
    key = hashlib.sha256(repr((seed,) + salt).encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


# ------------------------------------------------------------ text


def vocabulary(size: int) -> np.ndarray:
    """Zipf-ranked vocabulary: the stopwords first, then synthetic
    words of varied length."""
    words = list(STOPWORDS)
    i = 0
    while len(words) < size:
        words.append(f"w{i:x}")
        i += 1
    return np.array(words, dtype=object)


def zipf_probs(size: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def _texts(rng, vocab, probs, n, lo, hi) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    out, at = [], 0
    for n_tok in lens:
        out.append(" ".join(vocab[toks[at : at + n_tok]]))
        at += n_tok
    return out


def _perturb(rng, text: str, vocab) -> str:
    """One token replaced: 5-shingle Jaccard stays well above the
    registry's 0.8 near-dup threshold for docs of 40+ tokens."""
    toks = text.split(" ")
    toks[int(rng.integers(len(toks)))] = str(vocab[int(rng.integers(len(vocab)))])
    return " ".join(toks)


def cluster_sizes(rng, n_docs: int, dup_share: float, giant: int) -> list[int]:
    """Duplicate-cluster sizes with a skewed tail: one giant cluster,
    the rest Zipf-distributed sizes 2..12, until ``dup_share`` of the
    documents are copies of a cluster head."""
    sizes = [giant]
    copies = giant - 1
    while copies < dup_share * n_docs:
        s = min(12, 1 + int(rng.zipf(1.8)))
        sizes.append(s)
        copies += s - 1
    return sizes


def corpus(seed: int, n_docs: int, vocab_size: int, dup_share: float,
           giant: int, exact_share: float = 0.4, lo: int = 40,
           hi: int = 140) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(documents, embeddings) aligned on doc_id == vec_id.

    Duplicate structure: clusters from ``cluster_sizes``; each member
    after the head is an exact copy (``exact_share``) or a one-token
    edit of the head, and its embedding is the head's plus small noise
    with the bucket-sign dimensions kept."""
    rng = _rng(seed, "corpus")
    vocab = vocabulary(vocab_size)
    probs = zipf_probs(vocab_size)
    texts = _texts(rng, vocab, probs, n_docs, lo, hi)
    emb = rng.normal(0.0, 0.125, size=(n_docs, EMBED_DIM)).astype(np.float32)

    order = rng.permutation(n_docs)
    at = 0
    for size in cluster_sizes(rng, n_docs, dup_share, giant):
        members = order[at : at + size]
        at += size
        if len(members) < 2:
            break
        head = int(members[0])
        for m in members[1:]:
            m = int(m)
            exact = rng.random() < exact_share
            texts[m] = texts[head] if exact else _perturb(rng, texts[head], vocab)
            noise = rng.normal(0.0, 0.01, EMBED_DIM).astype(np.float32)
            v = emb[head] + noise
            v[list(BUCKET_DIMS)] = emb[head][list(BUCKET_DIMS)]
            emb[m] = v

    ids = np.arange(n_docs, dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": "en",
            "source": [f"src{int(i) % 7}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 16, size=n_docs).astype(np.int32)
    embs = pd.DataFrame({"vec_id": ids, "embedding": list(emb), "label": labels})
    return docs, embs


def write_sf_dir(path: str, docs: pd.DataFrame, embs: pd.DataFrame | None) -> None:
    """Write tables with the physical types ``catalog`` declares."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        os.path.join(path, "documents.parquet"),
    )
    if embs is not None:
        schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(embs, schema=schema, preserve_index=False),
            os.path.join(path, "embeddings.parquet"),
        )


# ----------------------------------------------------------- serve


def query_mix(seed: int, docs: pd.DataFrame, vocab_size: int, n: int) -> list[tuple]:
    """Closed-loop read mix. Terms come from the corpus itself:
    bm25 on head terms (vocabulary rank < 50) and on tail terms
    (rank >= 500), phrase on 2-3 consecutive tokens, proximity and
    AND on token pairs of one document."""
    rng = _rng(seed, "queries")
    vocab = vocabulary(vocab_size)
    texts = docs["text"].tolist()
    present = set(" ".join(texts).split(" "))
    head = [w for w in vocab[:50] if w in present]
    tail = [w for w in vocab[500:] if w in present]
    kinds = ("bm25_head", "bm25_tail", "phrase", "proximity", "and")
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        toks = texts[int(rng.integers(len(texts)))].split(" ")
        if kind == "bm25_head":
            out.append(("bm25", tuple(rng.choice(head, 2, replace=False))))
        elif kind == "bm25_tail":
            out.append(("bm25", tuple(rng.choice(tail, 2, replace=False))))
        elif kind == "phrase":
            k = int(rng.integers(2, 4))
            s = int(rng.integers(len(toks) - k))
            out.append(("phrase", tuple(toks[s : s + k])))
        else:
            s = int(rng.integers(len(toks) - 1))
            a = toks[s]
            b = next(t for t in toks[s + 1 :] + toks if t != a)
            out.append(("proximity", (a, b), 3) if kind == "proximity" else ("and", (a, b)))
    return out


# -------------------------------------------------------- maintain


def revision_batches(seed: int, base: pd.DataFrame, vocab_size: int,
                     n_epochs: int, batches_per_epoch: int, new_per_batch: int,
                     revised_per_batch: int, deletes_per_epoch: int):
    """Per epoch: ``batches_per_epoch`` batch frames (new doc_ids plus
    re-emitted live doc_ids with new text) and one delete-id list.
    Delta depth = batches landed before each compaction."""
    rng = _rng(seed, "revisions")
    vocab = vocabulary(vocab_size)
    probs = zipf_probs(vocab_size)
    live = dict(zip(base["doc_id"].tolist(), base["text"].tolist()))
    next_id = int(base["doc_id"].max()) + 1
    epochs = []
    for _ in range(n_epochs):
        batches = []
        for _ in range(batches_per_epoch):
            new_ids = list(range(next_id, next_id + new_per_batch))
            next_id += new_per_batch
            keys = sorted(live)
            revised = [int(x) for x in rng.choice(keys, revised_per_batch, replace=False)]
            ids = new_ids + revised
            texts = _texts(rng, vocab, probs, len(ids), 40, 140)
            frame = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
            live.update(zip(ids, texts))
            batches.append(frame)
        keys = sorted(live)
        deletes = sorted(int(x) for x in rng.choice(keys, deletes_per_epoch, replace=False))
        for d in deletes:
            del live[d]
        epochs.append((batches, deletes))
    return epochs


# ---------------------------------------------------------- ingest


def _vid_int(seed: int, video_id: str, salt: str, mod: int) -> int:
    h = hashlib.md5(f"{seed}:{salt}:{video_id}".encode()).digest()
    return int.from_bytes(h[:8], "big") % mod


# Per round, the planned videos get exactly these recordings in a seeded
# order: two undecodable payloads (None) and 5-9 s of audio at 16 kHz
# (60%), 48 kHz and 22.05 kHz (resampled by the VAD stage), so every
# seed gives every round the same audio to process.
def _round_audio(rng, videos: list[str]) -> dict:
    n = len(videos)
    good = n - 2
    rates = [16_000] * (good - 2 * (good // 5)) + [48_000] * (good // 5) + [22_050] * (good // 5)
    durs = np.round(np.linspace(5.0, 9.0, good), 1).tolist()
    recs = [None, None] + list(zip(rng.permutation(rates).tolist(), rng.permutation(durs).tolist()))
    return dict(zip(videos, [recs[i] for i in rng.permutation(n)]))


def audio_seconds(rec) -> float:
    """Decodable audio in a recording spec, 0 for a bad payload."""
    if rec is None:
        return 0.0
    sr, dur = rec
    return int(sr * dur) / sr


def synth_recording(seed: int, video_id: str, rec) -> bytes:
    """Deterministic WAV bytes for one planned video with recording
    spec ``rec`` ((sample rate, seconds), or None for an undecodable
    payload). The layout is fixed, 1.5 s bursts after 0.6 s pauses, so
    a recording's length alone sets its segment count; the seed picks
    each burst's content: a low-frequency tone (speech-like to
    FakeAcClassifier) or broadband noise (music-like), some with added
    hiss so SNR straddles the selection gate."""
    from se_data_pipeline_spark.operators.audio import encode_wav

    if rec is None:
        return b"RIFF\x00\x00not-a-wave-file"
    sr, dur = rec
    rng = np.random.default_rng(_vid_int(seed, video_id, "pcm", 2**32))
    x = np.zeros(int(sr * dur), dtype=np.float32)
    burst, gap = int(1.5 * sr), int(0.6 * sr)
    t = np.arange(burst) / sr
    for at in range(gap, len(x) - burst + 1, burst + gap):
        if rng.random() < 0.7:
            seg = 0.5 * np.sin(2 * np.pi * rng.uniform(120.0, 400.0) * t)
        else:
            seg = 0.3 * rng.standard_normal(burst)
        if rng.random() < 0.3:
            seg = seg + 0.05 * rng.standard_normal(burst)
        x[at : at + burst] = seg
    return encode_wav(x, sr)


def video_budget(n_subs: int) -> int:
    """The reference's subscriber-tier video budget."""
    for bound, budget in ((10_000, 10), (30_000, 20), (50_000, 30), (100_000, 40), (200_000, 50)):
        if n_subs < bound:
            return budget
    return 60


def planned_videos(channels: list[tuple], ledger: set, backend) -> set:
    """Videos an ingest plan must schedule, by the reference's rules:
    channels with at least 5 videos; playlist order; minus
    already-ingested and unfetchable videos; the first ``video_budget``
    of the rest. Rows follow catalog.CHANNELS (n_videos, n_subs and
    url at 2, 4 and 7)."""
    out = set()
    for row in channels:
        n_videos, n_subs, url = row[2], row[4], row[7]
        if n_videos is None or n_videos < 5:
            continue
        fresh = [
            v
            for v in backend.playlist_ids(url)
            if v not in ledger and backend.error_class(f"https://www.youtube.com/watch?v={v}") is None
        ]
        out.update(fresh[: video_budget(n_subs)])
    return out


def _channel(rng, seed: int, r: int, j: int, n_videos: int) -> tuple:
    # FakeAcquireBackend derives video ids from the first six
    # characters, so those carry (round, index): unique per run
    cid = f"UC{r:02x}{j:02x}" + hashlib.md5(f"{seed}:{r}:{j}".encode()).hexdigest()[:18]
    return (
        f"Channel {r}-{j}",
        cid,
        n_videos,
        int(10 ** rng.uniform(4, 8)),
        int(10 ** rng.uniform(3.0, 6.0)),
        None,
        None,
        f"https://www.youtube.com/channel/{cid}",
    )


def ledger_ids(seed: int, rows: list[tuple], backend) -> list[str]:
    """~50% of each channel's playlist already ingested."""
    out = []
    for row in rows:
        for vid in backend.playlist_ids(row[7]):
            if _vid_int(seed, vid, "ledger", 2) == 0:
                out.append(vid)
    return out


def ingest_rounds(seed: int, n_rounds: int, videos_per_round: int, backend) -> list[dict]:
    """Per ingest round: ``channels`` (rows in catalog.CHANNELS order),
    ``ledger`` (already-ingested video ids) and ``audio`` (recording
    spec per planned video). Each round holds one channel below the 5-video
    minimum (the side output) and eligible channels drawn until exactly
    ``videos_per_round`` videos are planned, so every seed gives every
    round the same amount of work. n_subs is log-uniform over
    10^3..10^6, so every budget tier occurs."""
    rng = _rng(seed, "channels")
    rounds = []
    for r in range(n_rounds):
        rows = [_channel(rng, seed, r, 0, int(rng.integers(0, 5)))]
        ledger: list[str] = []
        total = 0
        for j in range(1, 256):
            if total == videos_per_round:
                break
            row = _channel(rng, seed, r, j, int(rng.integers(5, 3000)))
            led = ledger_ids(seed, [row], backend)
            n = len(planned_videos([row], set(led), backend))
            if 0 < n <= videos_per_round - total:
                rows.append(row)
                ledger += led
                total += n
        planned = sorted(planned_videos(rows, set(ledger), backend))
        rounds.append({"channels": rows, "ledger": ledger, "audio": _round_audio(rng, planned)})
    return rounds
