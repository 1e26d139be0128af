"""The benchmark workloads: ``ingest`` (speech) and ``curate`` (the
text corpus lifecycle: curate, index, serve, keep fresh).

Each workload owns its inputs (generated from the seed into its work
directory), an untimed ``setup``, a ``measure`` loop, a ``check`` of
the outputs run after the timed region, and the per-layer figures its
traced run yields.

Traced ops wrap each call into a library layer in a ``Tracer`` span;
in ``ingest`` and ``curate`` the intermediate result at each layer
boundary is materialized with ``localCheckpoint(eager=True)`` so every
layer's self time exists to be measured.
"""

from __future__ import annotations

import importlib
import os
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.tracing import plan_ms

# Posting-store bucket modulus: the library default (4096) is sized
# for a web-scale vocabulary; on these few-thousand-document corpora
# it would make every store thousands of near-empty directories.
N_BUCKETS = 32
DOC_SCHEMA = "doc_id bigint, text string"


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's hidden/CRC files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def warm_python_workers(spark, modules: tuple[str, ...]) -> None:
    """Start one Python worker per core and import the Arrow stack and
    ``modules`` in it, so the first timed op does not pay for
    interpreter start-up."""
    n = spark.sparkContext.defaultParallelism

    def load(batches):
        for m in modules:
            importlib.import_module(m)
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(load, "id long").collect()


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""
    unit = ""
    MIN_OPS = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.layer: dict[str, float] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, traced: bool) -> float:
        """Run one operation; returns its work units."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def measure(self, seconds: float, trace: bool) -> dict:
        """Repeat ``op`` until ``seconds`` have passed and ``MIN_OPS``
        ran. In a traced run every other op is traced (and at least two
        run), so the untraced ones give the tracing overhead."""
        res = {"lat": [], "traced": [], "work": 0.0, "start": time.time()}
        while len(res["lat"]) < max(self.MIN_OPS, 1 + trace) or time.time() - res["start"] < seconds:
            traced = trace and len(res["lat"]) % 2 == 0
            t0 = time.perf_counter()
            res["work"] += self.op(len(res["lat"]), traced)
            res["lat"].append(time.perf_counter() - t0)
            res["traced"].append(traced)
        res["end"] = time.time()
        return res

    def passes(self, res: dict) -> tuple[int, int]:
        """(passes, traced passes) in the measured window: the divisors
        of the per-layer counts. One pass per op unless a workload says
        otherwise."""
        return len(res["lat"]), sum(res["traced"])

    def _span(self, traced: bool, name: str):
        return self.tracer.span(name) if traced else nullcontext()

    def add_layer(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + value


# ============================================================ ingest


class Ingest(Workload):
    """The reference pipeline's probe-and-ingest flow: plan → synthetic
    download → VAD → SNR → classification → selection → metadata
    document → publish. One op is one round of channels."""

    name = "ingest"
    unit = "audio_s"
    ROUNDS = 24
    VIDEOS_PER_ROUND = 40
    # a round takes ~5 s; one alone reads 20% apart between runs
    MIN_OPS = 2

    def setup(self) -> None:
        from se_data_pipeline_spark.catalog import CHANNELS, VIDEO_LEDGER
        from se_data_pipeline_spark.sources.acquire import FakeAcquireBackend

        self.backend = FakeAcquireBackend(max_videos=30)
        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf)
        # one more round, from another seed, is the untimed warm-up: the
        # first round in a fresh JVM pays JIT, codegen and worker start-up
        self.rounds = inputs.ingest_rounds(self.seed, self.ROUNDS, self.VIDEOS_PER_ROUND, self.backend)
        self.rounds += inputs.ingest_rounds(self.seed + 1, 1, self.VIDEOS_PER_ROUND, self.backend)
        for r, rnd in enumerate(self.rounds):
            self._write_table(rnd["channels"], CHANNELS, f"channels_{r}")
            self._write_table([(v,) for v in rnd["ledger"]], VIDEO_LEDGER, f"video_ledger_{r}")
        self.done: list[dict] = []
        warm_python_workers(
            self.spark, ("se_data_pipeline_spark.operators.audio", "se_data_pipeline_spark.operators.classify")
        )
        self.op(-1, traced=False)
        self.done.clear()

    def _write_table(self, rows, schema, name: str) -> None:
        """Rows of a catalog schema (string and long columns) as parquet."""
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows],
            schema=pa.schema(
                [(f.name, pa.string() if f.dataType.simpleString() == "string" else pa.int64()) for f in schema.fields]
            ),
        )
        pq.write_table(table, os.path.join(self.sf, f"{name}.parquet"))

    def _read(self, name: str, schema):
        return self.spark.read.schema(schema).parquet(os.path.join(self.sf, f"{name}.parquet"))

    def _acquire_udf(self, audio: dict):
        """The fake downloader: the round's recording per video id."""
        from pyspark.sql.functions import pandas_udf

        seed = self.seed

        @pandas_udf("binary")
        def download(video_ids: pd.Series) -> pd.Series:
            from perfbench.inputs import synth_recording

            return pd.Series([synth_recording(seed, v, audio[v]) for v in video_ids])

        return download

    def op(self, i: int, traced: bool) -> float:
        from pyspark.sql import functions as F

        from se_data_pipeline_spark.catalog import CHANNELS, VIDEO_LEDGER
        from se_data_pipeline_spark.functions.arrays import speech_prob
        from se_data_pipeline_spark.operators.audio import snr_from_wav, vad_split_segments
        from se_data_pipeline_spark.operators.classify import classify_segments
        from se_data_pipeline_spark.plans.ingest import (
            channel_metadata_document,
            ingest_relational_plan,
            select_segments,
        )
        from se_data_pipeline_spark.sources.acquire import split_dead_letter
        from se_data_pipeline_spark.sources.publish import (
            CheckpointedPublisher,
            LocalDirPublisher,
            publish_metadata_json,
        )

        r = self.ROUNDS if i < 0 else i % self.ROUNDS
        mat = (lambda df: df.localCheckpoint(eager=True)) if traced else (lambda df: df)
        channels = self._read(f"channels_{r}", CHANNELS)
        ledger = self._read(f"video_ledger_{r}", VIDEO_LEDGER)
        with self._span(traced, "plans.ingest_relational_plan"):
            planned = mat(ingest_relational_plan(channels, ledger, self.backend, self.backend)["videos"])
        with self._span(traced, "bench.acquire_audio"):
            recordings = mat(
                planned.select("channel_id", "video_id", self._acquire_udf(self.rounds[r]["audio"])("video_id").alias("audio"))
            )
        with self._span(traced, "operators.vad_split_segments"):
            # two sinks (documents, dead letter) read the segments
            segs = vad_split_segments(recordings).localCheckpoint(eager=traced)
        ok, dead = split_dead_letter(segs)
        with self._span(traced, "operators.snr_from_wav"):
            with_snr = mat(ok.withColumn("snr", snr_from_wav("audio")))
        with self._span(traced, "operators.classify_segments"):
            scored = mat(classify_segments(with_snr).withColumn("speech_prob", speech_prob(F.col("preds"))))
        with self._span(traced, "plans.select_segments"):
            selected = mat(select_segments(scored.drop("audio", "preds")))
        with self._span(traced, "plans.channel_metadata_document"):
            docs = channel_metadata_document(selected).collect()
        with self._span(traced, "sources.split_dead_letter"):
            dead_ids = {row["video_id"] for row in dead.select("video_id").collect()}
        pub_dir = os.path.join(self.work, "publish", f"op{i}")
        pub = CheckpointedPublisher(LocalDirPublisher(pub_dir), pub_dir + ".ledger")
        with self._span(traced, "sources.publish"):
            for d in docs:
                body = d.asDict(recursive=True)
                pub.publish(f"chan-{d['channel_id']}", [publish_metadata_json(body).decode()])

        documented, n_seg, n_kept = set(), 0, 0
        for d in docs:
            for vid, segments in d["videos"].items():
                documented.add(vid)
                n_seg += len(segments)
                n_kept += sum(1 for s in segments if s["selected"])
        if traced:
            self.add_layer("operators.segments", n_seg)
            self.add_layer("plans.segments_kept", n_kept)
        self.done.append(
            {"round": r, "documented": documented, "dead": dead_ids, "pub": pub, "docs": docs, "traced": traced}
        )
        return sum(inputs.audio_seconds(self.rounds[r]["audio"][v]) for v in documented)

    def check(self) -> list[str]:
        from se_data_pipeline_spark.sources.publish import publish_metadata_json

        fails = []
        for run in self.done:
            r = run["round"]
            rnd = self.rounds[r]
            planned = inputs.planned_videos(rnd["channels"], set(rnd["ledger"]), self.backend)
            bad = {v for v, rec in rnd["audio"].items() if rec is None}
            d = run["docs"][0] if run["docs"] else None
            refused = d is None or not run["pub"].publish(
                f"chan-{d['channel_id']}", [publish_metadata_json(d.asDict(recursive=True)).decode()]
            )
            fails += checks.check_ingest(planned, bad, run["documented"], run["dead"], refused)
        return fails

    def layer_metrics(self) -> dict:
        n = max(sum(1 for run in self.done if run["traced"]), 1)
        segs = self.layer.get("operators.segments", 0.0)
        return {
            "operators.segments": segs / n,
            "plans.segments_kept_ratio": self.layer.get("plans.segments_kept", 0.0) / segs if segs else 0.0,
        }


# ============================================================ curate

# Library functions the curation queries call internally; a traced run
# wraps them in spans. The queries look these up as module attributes
# at call time, so replacing the attribute routes their calls through
# the span and the localCheckpoint that materializes the result.
CURATE_LAYERS = (
    ("se_data_pipeline_spark.queries.text", "doc_quality_score", "queries.doc_quality_score"),
    ("se_data_pipeline_spark.queries.vectors", "semantic_dedup_keep", "queries.semantic_dedup_keep"),
    ("se_data_pipeline_spark.queries.text", "dedup_connected_components", "queries.dedup_connected_components"),
)
READ_LAYER = {
    "bm25": "layout.bm25_from_postings",
    "phrase": "layout.phrase_from_postings",
    "proximity": "layout.proximity_from_postings",
    "and": "layout.and_ranked_from_postings",
}


class Curate(Workload):
    """The text corpus lifecycle. Curate a Zipfian document table with
    a controlled share of exact and near duplicates in skewed clusters
    through the registry's curation queries (joint quality + semantic
    dedup verdicts, leakage-safe splits by iterative near-dup
    components), index the curated train split as standing posting and
    positional stores, then keep them fresh: each epoch lands a
    revision batch as a file (new doc_ids and re-emitted ones) that the
    streaming maintainers commit, then lands deletes and compacts, with
    one client reading between the steps in a closed loop.

    The work is the documents curated plus those committed; an op is
    one read."""

    name = "curate"
    unit = "docs"
    N_DOCS = 500
    VOCAB = 20_000
    DUP_SHARE = 0.2
    GIANT = 30
    EPOCHS = 8
    NEW_PER_BATCH = 40
    REVISED_PER_BATCH = 20
    DELETES_PER_EPOCH = 15
    # reads after each maintenance step of an epoch
    READS = (
        ("batch", ("bm25",)),
        ("delete", ("phrase",)),
        ("compact", ("bm25", "phrase", "and", "proximity")),
    )

    def setup(self) -> None:
        # No warm-up: most of the curation queries' first run in a fresh
        # JVM is one-off JIT and codegen cost that warming would pay
        # twice, and curation is a batch job users start in a fresh JVM.
        self.sf = os.path.join(self.work, "sf")
        self.docs, embs = inputs.corpus(self.seed, self.N_DOCS, self.VOCAB, self.DUP_SHARE, self.GIANT)
        inputs.write_sf_dir(self.sf, self.docs, embs)
        self.epochs = inputs.revision_batches(
            self.seed, self.docs, self.VOCAB, self.EPOCHS, 1,
            self.NEW_PER_BATCH, self.REVISED_PER_BATCH, self.DELETES_PER_EPOCH,
        )
        self.queries: dict[str, list] = {}
        for q in inputs.query_mix(self.seed, self.docs, self.VOCAB, 120):
            self.queries.setdefault(q[0], []).append(q)
        self.lat: dict[str, list[float]] = {}
        self.batch_s: dict[str, list[float]] = {}
        self.compact_s: list[float] = []
        self.n_reads = 0
        self.epochs_done = 0

    # ----------------------------------------------------- curate

    def _install(self) -> list:
        saved = []
        for mod_name, attr, span in CURATE_LAYERS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, span))
        return saved

    def _wrap(self, fn, span: str):
        def traced(*args, **kwargs):
            with self.tracer.span(span):
                return fn(*args, **kwargs).localCheckpoint(eager=True)

        return traced

    def curate(self, traced: bool):
        """Verdicts and splits, each materialized once; returns the
        curated train split (doc_id, text)."""
        from pyspark.sql import functions as F

        from se_data_pipeline_spark.catalog import load_table
        from se_data_pipeline_spark.queries.curation import corpus_joint_curation
        from se_data_pipeline_spark.queries.text import leakage_safe_splits

        saved = self._install() if traced else []
        try:
            with self._span(traced, "queries.corpus_joint_curation"):
                self.verdicts = corpus_joint_curation(self.spark, self.sf).select("doc_id", "selected").localCheckpoint(eager=True)
            with self._span(traced, "queries.leakage_safe_splits"):
                self.splits = leakage_safe_splits(self.spark, self.sf).select("doc_id", "split").localCheckpoint(eager=True)
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
        return (
            load_table(self.spark, self.sf, "documents")
            .join(self.verdicts.filter("selected"), "doc_id")
            .join(self.splits.filter(F.col("split") == "train"), "doc_id")
            .select("doc_id", "text")
        )

    def index(self, docs, traced: bool) -> None:
        """Posting and positional stores over the curated documents."""
        from se_data_pipeline_spark.sources import layout

        self.post = os.path.join(self.work, "stores", "postings")
        self.pos = os.path.join(self.work, "stores", "positional")
        for name, fn in (
            ("layout.write_posting_lists", lambda: layout.write_posting_lists(docs, self.post, n_buckets=N_BUCKETS)),
            ("layout.write_positional_postings", lambda: layout.write_positional_postings(docs, self.pos, n_buckets=N_BUCKETS)),
        ):
            t0 = time.perf_counter()
            with self._span(traced, name):
                fn()
            self.layer[f"{name}.s"] = time.perf_counter() - t0

    # ------------------------------------------------------ serve

    def read(self, q: tuple, traced: bool) -> list[tuple]:
        from se_data_pipeline_spark.sources import layout

        kind = q[0]
        with self._span(traced, READ_LAYER[kind]) as span:
            if kind == "bm25":
                df = layout.bm25_from_postings(self.spark, self.post, q[1])
            elif kind == "phrase":
                df = layout.phrase_from_postings(self.spark, self.pos, q[1])
            elif kind == "proximity":
                df = layout.proximity_from_postings(self.spark, self.pos, q[1][0], q[1][1], q[2])
            else:
                df = layout.and_ranked_from_postings(self.spark, self.pos, q[1])
            rows = df.collect()
            if span is not None:
                span["attrs"]["plan_ms"] = plan_ms(df)
                span["attrs"]["results"] = len(rows)
        return [(r[0], r[-1]) for r in rows]

    def _reads(self, step: str, res: dict) -> list[tuple]:
        """The step's reads, timed as ops; returns (query, rows). A
        traced run makes every read twice, traced and untraced in
        alternating order, so each read kind gets traced and the
        untraced twins give the tracing overhead."""
        out = []
        for kind in dict(self.READS)[step]:
            pool = self.queries[kind]
            q = pool[self.n_reads % len(pool)]
            self.n_reads += 1
            modes = (False,) if not self.tracer.enabled else ((True, False) if len(res["lat"]) % 4 == 0 else (False, True))
            for traced in modes:
                t0 = time.perf_counter()
                rows = self.read(q, traced)
                res["lat"].append(time.perf_counter() - t0)
                res["traced"].append(traced)
                if traced:
                    self.lat.setdefault(READ_LAYER[kind], []).append(res["lat"][-1])
            out.append((q, rows))
        return out

    # --------------------------------------------------- maintain

    def _land(self, frame: pd.DataFrame, dirname: str, name: str) -> None:
        """Write a batch file where a stream sees it only once complete."""
        os.makedirs(dirname, exist_ok=True)
        tmp = os.path.join(self.work, f".landing-{name}")
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), tmp)
        os.replace(tmp, os.path.join(dirname, name))

    def _stores_du(self) -> tuple[int, int]:
        a, b = du(self.post), du(self.pos)
        return a[0] + b[0], a[1] + b[1]

    def run_epoch(self, e: int, res: dict) -> float:
        """Land the epoch's batch, delete, compact, reading between the
        steps; returns the documents committed."""
        from se_data_pipeline_spark.sources import layout
        from se_data_pipeline_spark.streaming.jobs import (
            maintain_positional_postings,
            maintain_posting_lists,
        )

        traced = self.tracer.enabled
        batches, deletes = self.epochs[e]
        src = os.path.join(self.work, f"landing_{e}")
        docs = 0.0
        for b, frame in enumerate(batches):
            before = self._stores_du()
            self._land(frame, src, f"batch-{b}.parquet")
            for name, fn, store in (
                ("streaming.maintain_posting_lists", maintain_posting_lists, self.post),
                ("streaming.maintain_positional_postings", maintain_positional_postings, self.pos),
            ):
                t0 = time.perf_counter()
                with self._span(traced, name):
                    stream = self.spark.readStream.schema(DOC_SCHEMA).parquet(src)
                    q = fn(stream, store, os.path.join(self.work, f"ckpt_{e}_{name}"), allow_revisions=True)
                    q.awaitTermination()
                    if q.exception() is not None:
                        raise RuntimeError(f"{name}: {q.exception()}")
                self.batch_s.setdefault(name, []).append(time.perf_counter() - t0)
            after = self._stores_du()
            self.add_layer("layout.mb_written_per_batch", max(after[0] - before[0], 0) / 1e6)
            self.add_layer("layout.files_written_per_batch", max(after[1] - before[1], 0))
            docs += len(frame)
            self._reads("batch", res)
        self._land(pd.DataFrame({"doc_id": np.array(deletes, dtype=np.int64)}), os.path.join(self.work, f"deletes_{e}"), "ids.parquet")
        ids = self.spark.read.schema("doc_id bigint").parquet(os.path.join(self.work, f"deletes_{e}"))
        with self._span(traced, "layout.delete_docs"):
            layout.delete_posting_docs(self.spark, ids, self.post)
            layout.delete_positional_docs(self.spark, ids, self.pos)
        self._reads("delete", res)
        t0 = time.perf_counter()
        with self._span(traced, "layout.compact"):
            layout.compact_posting_lists(self.spark, self.post)
            layout.compact_positional_postings(self.spark, self.pos)
        self.compact_s.append(time.perf_counter() - t0)
        self.add_layer("layout.compact.mb_rewritten", self._stores_du()[0] / 1e6)
        self.final_reads = self._reads("compact", res)
        self.epochs_done = e + 1
        return docs

    def passes(self, res: dict) -> tuple[int, int]:
        return 1, 1

    def measure(self, seconds: float, trace: bool) -> dict:
        """Curate, index, then whole maintenance epochs until
        ``seconds`` have passed (at least one)."""
        res = {"lat": [], "traced": [], "work": float(self.N_DOCS), "start": time.time()}
        self.index(self.curate(trace), trace)
        while self.epochs_done == 0 or time.time() - res["start"] < seconds:
            if self.epochs_done == len(self.epochs):
                raise RuntimeError("curate: ran out of generated revision epochs")
            res["work"] += self.run_epoch(self.epochs_done, res)
        res["end"] = time.time()
        return res

    # ------------------------------------------------------ check

    def live_corpus(self, verdicts: pd.DataFrame, splits: pd.DataFrame) -> pd.DataFrame:
        """The oracle's curated train split, revised by the epochs run."""
        keep = set(verdicts[verdicts["selected"].astype(bool)]["doc_id"]) & set(
            splits[splits["split"] == "train"]["doc_id"]
        )
        live = {d: t for d, t in zip(self.docs["doc_id"].tolist(), self.docs["text"].tolist()) if d in keep}
        for batches, deletes in self.epochs[: self.epochs_done]:
            for frame in batches:
                live.update(zip(frame["doc_id"].tolist(), frame["text"].tolist()))
            for d in deletes:
                live.pop(d, None)
        ids = sorted(live)
        return pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": [live[i] for i in ids]})

    def check(self) -> list[str]:
        """Verdicts and splits must equal the registry's DuckDB oracles.
        After the last compaction the stores must serve and hold exactly
        what a fresh build of the final live corpus would: the reads
        after it are recounted over the live corpus, and the store row
        counts must equal the live (doc, term) pairs and live docs."""
        import duckdb

        from se_data_pipeline_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            verdicts = con.execute(oracles["corpus_joint_curation"]).df()
            splits = con.execute(oracles["leakage_safe_splits"]).df()
        finally:
            con.close()
        fails = checks.check_curate(verdicts, splits, self.verdicts.toPandas(), self.splits.toPandas())
        live = self.live_corpus(verdicts, splits)
        recount = checks.Recount(live)
        for q, rows in self.final_reads:
            fails += checks.check_read(recount, q, rows)
        n_pairs = sum(len(p) for p in recount.pos.values())
        fails += checks.check_same("postings rows", parquet_rows(os.path.join(self.post, "postings")), n_pairs)
        fails += checks.check_same("doclens rows", parquet_rows(os.path.join(self.post, "doclens")), len(live))
        fails += checks.check_same("positional rows", parquet_rows(os.path.join(self.pos, "postings")), n_pairs)
        if self.tracer.enabled:
            self.space_amp = self._stores_du()[0] / max(self._fresh_bytes(live), 1)
        return fails

    def _fresh_bytes(self, live: pd.DataFrame) -> int:
        """On-disk bytes of both stores built fresh from ``live``."""
        from se_data_pipeline_spark.sources import layout

        path = os.path.join(self.work, "fresh_docs")
        self._land(live, path, "docs.parquet")
        docs = self.spark.read.schema(DOC_SCHEMA).parquet(path)
        post, pos = os.path.join(self.work, "fresh", "postings"), os.path.join(self.work, "fresh", "positional")
        layout.write_posting_lists(docs, post, n_buckets=N_BUCKETS)
        layout.write_positional_postings(docs, pos, n_buckets=N_BUCKETS)
        return du(post)[0] + du(pos)[0]

    def layer_metrics(self) -> dict:
        out = dict(self.layer)
        for layer, xs in self.lat.items():
            out[f"{layer}.p50_ms"] = p50(xs) * 1000
        for name, xs in self.batch_s.items():
            out[f"{name}.batch_s"] = p50(xs)
        n = max(len(self.compact_s), 1)
        for name in ("layout.mb_written_per_batch", "layout.files_written_per_batch", "layout.compact.mb_rewritten"):
            out[name] = self.layer.get(name, 0.0) / n
        out["layout.compact.s"] = sum(self.compact_s) / n
        out["layout.space_amp"] = getattr(self, "space_amp", 0.0)
        return out


def parquet_rows(path: str) -> int:
    """Rows in the parquet data files under ``path``, from their footers."""
    n = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return n


WORKLOADS = {w.name: w for w in (Ingest, Curate)}
