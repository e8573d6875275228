"""The benchmark's workloads, each a fixed sequence of legs.

A leg drives one part of the engine through its public functions, always
through the module attribute (``catalog.list_topics(...)``) so a traced run
can wrap the call. ``prepare`` makes the inputs (repeated to time it),
``build`` builds the stores the ops read, ``warm`` makes the first calls,
``op`` is the timed region and ``check`` runs after the timer stops.

Two workloads, not one per leg: every run pays a JVM start and a cold
warm-up, and four separately started legs do not fit the benchmark's
time budget. The message and serving legs share one run; the batch
curation leg, the one dedup work changes, has its own.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

from perfbench import inputs


@dataclass
class LegResult:
    rates: dict  # rate name -> (items, seconds)
    out: object  # what check() needs


class Leg:
    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.layer = defaultdict(list)  # per-layer samples the harness derives
        self.extra = defaultdict(list)  # end-to-end samples only this leg has

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def build(self) -> None:
        pass

    def warm(self) -> None:
        """First calls pay JIT, codegen and Python-worker start."""
        self.check(self.op(0))

    def targets(self):
        """(module, attribute, span name, count hook) this leg calls."""
        return []


# ---------------------------------------------------------------------------

class CaptureReplay(Leg):
    """Capture a namespace backlog to Parquet, restore and replay it, and
    publish one generated emailSend batch as JSON."""

    N_PUBLISH = 10_000

    def prepare(self, rep: int) -> None:
        self.backlogs = inputs.capture_backlogs(self.fresh_dir(f"cap-in-{rep}"), self.seed)
        self.publish_crc = inputs.emailsend_event_crc(self.N_PUBLISH)

    def targets(self):
        from pulsar_replay_spark import catalog, generator
        from pulsar_replay_spark.operators import capture
        from pulsar_replay_spark.sources import jsonio

        def written(rec, out, args):
            files = [os.path.join(d, f) for d, _, fs in os.walk(args[1])
                     for f in fs if f.endswith(".parquet")]
            rec["files_written"] = len(files)
            rec["bytes_written"] = sum(os.path.getsize(f) for f in files)

        return [
            (catalog, "list_topics", "catalog.list_topics", None),
            (capture, "bounded_scan", "capture.bounded_scan", None),
            (jsonio, "write_parquet_capture", "jsonio.write_parquet_capture", written),
            (jsonio, "read_parquet_capture", "jsonio.read_parquet_capture", None),
            (jsonio, "replay_frame", "jsonio.replay_frame", None),
            (generator, "generate_emailsend", "generator.generate_emailsend", None),
        ]

    def op(self, i: int) -> LegResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from pulsar_replay_spark import catalog, envelope, generator
        from pulsar_replay_spark.functions.codecs import is_partition_topic
        from pulsar_replay_spark.operators import capture
        from pulsar_replay_spark.sources import jsonio

        spark = self.spark
        b = self.backlogs[i % len(self.backlogs)]
        cap_dir = os.path.join(self.root, "capture")

        t0 = time.perf_counter()
        ev = spark.read.parquet(b.path)
        listed = catalog.list_topics(ev).collect()
        keep = [r.topic for r in listed if r.tenant not in catalog.SYSTEM_TENANTS]
        msgs = catalog.with_topics(ev).filter(
            ~is_partition_topic(F.col("topic")) & F.col("topic").isin(keep))
        scanned = capture.bounded_scan(msgs)
        env = envelope.with_envelope(scanned).select(
            "topic", "content", "binary_encoded",
            F.create_map(F.lit("seq"), F.col("event_id").cast("string")).alias("properties"),
            F.col("ts").alias("publish_timestamp"),
            envelope.normalize_event_timestamp(F.unix_millis("ts")).alias("event_timestamp"),
            F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("partition_key"),
        )
        jsonio.write_parquet_capture(env, cap_dir)
        t1 = time.perf_counter()

        replay = jsonio.replay_frame(jsonio.read_parquet_capture(spark, cap_dir))
        rep_obs = Observation(f"replay-{i}")
        replay.observe(
            rep_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32("payload")).alias("payload_crc"),
            F.sum(F.crc32(F.encode("topic", "UTF-8"))).alias("topic_crc"),
        ).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()

        pub_obs = Observation(f"publish-{i}")
        generator.generate_emailsend(spark, self.N_PUBLISH).select("json").observe(
            pub_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.encode(F.get_json_object("json", "$.eventId"), "UTF-8"))).alias("crc"),
        ).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()

        return LegResult(
            rates={"capture_msgs": (b.n_msgs, t1 - t0), "replay_msgs": (b.captured, t2 - t1),
                   "publish_msgs": (self.N_PUBLISH, t3 - t2)},
            out=(b, rep_obs.get, pub_obs.get),
        )

    def check(self, res: LegResult) -> bool:
        """Captured count, payload digest and topic digest equal the
        generator's truth; the published batch has every eventId."""
        b, rep, pub = res.out
        return (rep["n"] == b.captured and rep["payload_crc"] == b.payload_crc
                and rep["topic_crc"] == b.topic_crc
                and pub["n"] == self.N_PUBLISH and pub["crc"] == self.publish_crc)


# ---------------------------------------------------------------------------

STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "getBatch"]


class StreamIngest(Leg):
    """Drain newly arrived event files with events_stream -> deduped_stream
    -> foreach_batch_idempotent under AvailableNow, one file per
    micro-batch."""

    FILES_PER_DRAIN = 2

    def prepare(self, rep: int) -> None:
        self.files = inputs.stream_files(self.fresh_dir(f"stream-in-{rep}"), self.seed)
        self.src = self.fresh_dir(f"stream-src-{rep}")
        self.out_dir = os.path.join(self.root, f"stream-sink-{rep}")
        self.ckpt = os.path.join(self.root, f"stream-ckpt-{rep}")
        self.next_file = 0
        self.seen: set = set()  # event ids the sink holds
        self.expected: set = set()  # distinct event ids of the staged files

    def _stage(self, n: int) -> list:
        """Copy the next ``n`` files into the source dir, oldest first."""
        if self.next_file + n > len(self.files.paths):
            raise RuntimeError("stream input exhausted; generate more files")
        staged = list(range(self.next_file, self.next_file + n))
        for f in staged:
            dst = os.path.join(self.src, os.path.basename(self.files.paths[f]))
            shutil.copyfile(self.files.paths[f], dst)
            os.utime(dst, (1_700_000_000 + f, 1_700_000_000 + f))
        self.next_file += n
        return staged

    def op(self, i: int) -> LegResult:
        from pulsar_replay_spark.streaming import pipelines

        staged = self._stage(self.FILES_PER_DRAIN)
        t0 = time.perf_counter()
        stream = pipelines.deduped_stream(pipelines.events_stream(self.spark, self.src))
        q = pipelines.foreach_batch_idempotent(stream, self.out_dir, self.ckpt)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        for f in staged:
            self.expected.update(self.files.ids[f].tolist())
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return LegResult(rates={"stream_rows": (sum(self.files.rows[f] for f in staged), wall)},
                         out=progress)

    def check(self, res: LegResult) -> bool:
        """Every written id is an input id, no id is written twice or by two
        batches, and once drained the sink holds exactly the distinct ids of
        every staged file."""
        import pyarrow.parquet as pq

        ok = len(res.out) == self.FILES_PER_DRAIN
        for p in res.out:
            bid = p["batchId"]
            part = os.path.join(self.out_dir, f"batch_id={bid}")
            files = [os.path.join(part, f) for f in os.listdir(part)
                     if f.endswith(".parquet")] if os.path.isdir(part) else []
            got = [x for f in files
                   for x in pq.read_table(f, columns=["event_id"])["event_id"].to_pylist()]
            ok &= len(set(got)) == len(got) and self.seen.isdisjoint(got)
            self.seen.update(got)
            self.extra["stream_batch_s"].append(p["durationMs"]["triggerExecution"] / 1000)
            for k in STREAM_PHASES:
                self.layer[f"stream.{k}.s"].append(p["durationMs"].get(k, 0) / 1000)
            state = (p.get("stateOperators") or [{}])[0]
            self.layer["stream.state_rows"].append(state.get("numRowsTotal", 0))
            self.layer["stream.state_bytes"].append(state.get("memoryUsedBytes", 0))
            self.layer["stream.dropped_by_watermark"].append(
                state.get("numRowsDroppedByWatermark", 0))
        return ok and self.seen == self.expected


# ---------------------------------------------------------------------------

class CorpusCuration(Leg):
    """One full ``pipeline.curate_corpus`` job, materialised through
    ``packed`` and ``report``."""

    BUDGET = 25_000
    SEQ_LEN = 64  # curate_corpus's default

    def prepare(self, rep: int) -> None:
        self.corpus = inputs.curation_corpus(self.fresh_dir(f"corpus-in-{rep}"), self.seed)

    def targets(self):
        from pulsar_replay_spark import pipeline
        from pulsar_replay_spark.operators import curation, dedup, packing, quality

        def pair_yield(rec, out, args):
            family = self.corpus.family
            pairs = out.collect()
            true = sum(1 for p in pairs
                       if family.get(p.doc_a, p.doc_a) == family.get(p.doc_b, p.doc_b))
            rec["candidate_pairs"] = len(pairs)
            rec["pair_yield"] = true / len(pairs) if pairs else 0.0

        return [
            (pipeline, "curate_corpus", "pipeline.curate_corpus", None),
            (dedup, "minhash_candidate_pairs", "dedup.minhash_candidate_pairs", pair_yield),
            (dedup, "dedup_corpus", "dedup.dedup_corpus", None),
            (dedup, "benchmark_overlap", "dedup.benchmark_overlap", None),
            (quality, "drop_bottom_quantile", "quality.drop_bottom_quantile", None),
            (curation, "dsir_log_weights", "curation.dsir_log_weights", None),
            (curation, "select_within_token_budget", "curation.select_within_token_budget", None),
            (packing, "pack_token_stream", "packing.pack_token_stream", None),
        ]

    def warm(self) -> None:
        self.op(0)  # the check's collects warm nothing the op runs

    def op(self, i: int) -> LegResult:
        from pulsar_replay_spark import pipeline

        spark, c = self.spark, self.corpus
        t0 = time.perf_counter()
        res = pipeline.curate_corpus(
            spark.read.parquet(c.docs_path),
            benchmark=spark.read.parquet(c.bench_path),
            target=spark.read.parquet(c.target_path),
            budget_tokens=self.BUDGET,
        )
        packed = res["packed"].collect()
        report = res["report"].collect()
        return LegResult(rates={"curate_docs": (c.n_docs, time.perf_counter() - t0)},
                         out=(res, packed, report))

    def check(self, r: LegResult) -> bool:
        """Monotone funnel from the full input; no planted exact-duplicate
        loser survives dedup and no planted contaminated doc survives
        decontamination; per-source budget holds; the packed docs are the
        train split and carry exactly its tokens."""
        res, packed, report = r.out
        c = self.corpus
        funnel = [x.n_docs for x in sorted(report, key=lambda x: x.stage_idx)]
        for x in report:
            self.layer[f"pipeline.funnel.{x.stage}_docs"].append(x.n_docs)

        def ids(frame):
            return {x.doc_id for x in res[frame].select("doc_id").collect()}

        selected = res["selected"].select("doc_id", "source", "n_tokens").collect()
        train = {x.doc_id for x in res["split"].filter("split = 'train'").collect()}
        per_source: dict = defaultdict(int)
        for x in selected:
            per_source[x.source] += x.n_tokens
        train_tokens = sum(x.n_tokens for x in selected if x.doc_id in train)
        shard_end: dict = defaultdict(int)
        for x in packed:
            shard_end[x.shard] = max(shard_end[x.shard], x.end_tok)
        seqs = sum(-(-t // self.SEQ_LEN) for t in shard_end.values())
        if seqs:
            self.layer["packing.pack_token_stream.fill_ratio"].append(
                train_tokens / (seqs * self.SEQ_LEN))
        return (
            funnel[0] == c.n_docs
            and all(a >= b for a, b in zip(funnel, funnel[1:]))
            and not ids("deduped") & c.exact_losers
            and not ids("decontaminated") & c.contaminated
            and all(t <= self.BUDGET for t in per_source.values())
            and {x.doc_id for x in packed} == train
            and sum(x.end_tok - x.start_tok for x in packed) == train_tokens
        )


# ---------------------------------------------------------------------------

class IndexServe(Leg):
    """A dense top-10 batch and a BM25 top-10 batch against prebuilt
    stores, then one growth batch into the same IVF store, so writes sit
    beside reads."""

    BATCH = 16
    K = 10
    N_PROBE = 4  # ivf_topk_from_index's default

    def prepare(self, rep: int) -> None:
        self.inp = inputs.serve_inputs(self.fresh_dir(f"serve-in-{rep}"), self.seed)

    def build(self) -> None:
        from pulsar_replay_spark.operators import retrieval, vecstore

        spark = self.spark
        self.ivf_dir = os.path.join(self.root, "ivf")
        self.bm25_dir = os.path.join(self.root, "bm25")
        vecstore.ivf_index_build(spark.read.parquet(self.inp.base_path), self.ivf_dir)
        retrieval.postings_index_build(spark.read.parquet(self.inp.docs_path), self.bm25_dir)
        self.corpus = self.inp.base
        self.grown = 0

    def targets(self):
        from pulsar_replay_spark.operators import retrieval, similarity, vecstore

        spark = self.spark

        def candidates(rec, out, args):
            from pyspark.sql import functions as F

            store_dir, queries = args[1], args[2]
            cents = vecstore.store_centroids(spark, store_dir)
            cells = [r.cell_id for r in similarity.ivf_assign(queries, cents, n_probe=self.N_PROBE)
                     .select("cell_id").distinct().collect()]
            vecs = spark.read.parquet(f"{store_dir}/vectors")
            rec["candidate_fraction"] = (
                vecs.filter(F.col("cell_id").isin(cells)).count() / vecs.count())

        return [
            (vecstore, "ivf_topk_from_index", "vecstore.ivf_topk_from_index", candidates),
            (retrieval, "bm25_topk_from_index", "retrieval.bm25_topk_from_index", None),
            (vecstore, "ivf_index_build", "vecstore.ivf_index_build", None),
            (retrieval, "postings_index_build", "retrieval.postings_index_build", None),
        ]

    def warm(self) -> None:
        """One dense and one BM25 batch; the initial build already ran the
        assign-and-write path a growth batch takes."""
        self.check(self.op(0, grow=False))

    def op(self, i: int, grow: bool = True) -> LegResult:
        from pulsar_replay_spark.operators import retrieval, vecstore

        spark = self.spark
        pick = (np.arange(self.BATCH) + i * self.BATCH) % len(self.inp.queries)
        t0 = time.perf_counter()
        q = spark.createDataFrame(
            [(int(j), self.inp.queries[j].tolist()) for j in pick],
            "vec_id long, embedding array<float>")
        dense = vecstore.ivf_topk_from_index(
            spark, self.ivf_dir, q, k=self.K, n_probe=self.N_PROBE).collect()
        t1 = time.perf_counter()
        tq = spark.createDataFrame(
            [(int(j), self.inp.text_queries[j][1]) for j in pick], "query_id long, query string")
        bm25 = retrieval.bm25_topk_from_index(spark, self.bm25_dir, tq, k=self.K).collect()
        t2 = time.perf_counter()
        # the exact reference is the corpus the dense batch ran against
        exact = inputs.exact_topk(self.corpus, self.inp.queries[pick], self.K)
        n_stored = len(self.corpus)
        rates = {"serve_queries": (2 * self.BATCH, t2 - t0)}
        if grow:
            g = self.grown
            vecstore.ivf_index_build(
                spark.read.parquet(self.inp.growth_paths[g]), self.ivf_dir, batch_id=g)
            rates["ingest_vectors"] = (len(self.inp.growth[g]), time.perf_counter() - t2)
            self.corpus = np.concatenate([self.corpus, self.inp.growth[g]])
            self.grown += 1
        return LegResult(rates=rates, out=(pick, dense, bm25, exact, n_stored))

    def check(self, r: LegResult) -> bool:
        """Dense: ten distinct stored ids per query, recall@10 against the
        exact numpy top-10 at least 0.5 over the batch. BM25: the doc whose
        unique marker token the query carries ranks first."""
        pick, dense, bm25, exact, n_stored = r.out
        got: dict = defaultdict(list)
        for x in dense:
            got[x.q_id].append((x.rk, x.neighbor_id))
        recalls = []
        for row, j in enumerate(pick):
            ids = [n for _, n in sorted(got[int(j)])]
            if len(set(ids)) != self.K or max(ids) >= n_stored:
                return False
            recalls.append(len(set(ids) & set(exact[row].tolist())) / self.K)
        self.extra["recall_at_10"].extend(recalls)
        top: dict = {}
        for x in bm25:
            if x.rk == 1:
                top[x.query_id] = x.doc_id
        return (statistics.mean(recalls) >= 0.5
                and all(top.get(int(j)) == self.inp.text_queries[j][0] for j in pick))


# ---------------------------------------------------------------------------

class Workload:
    """A fixed sequence of legs; every op runs each leg once, in order."""

    def __init__(self, name: str, spark, root: str, seed: int):
        self.name = name
        self.legs = [leg(spark, root, seed) for leg in WORKLOADS[name]]

    def prepare(self, rep: int) -> None:
        for leg in self.legs:
            leg.prepare(rep)

    def build(self) -> None:
        for leg in self.legs:
            leg.build()

    def warm(self) -> None:
        for leg in self.legs:
            leg.warm()

    def targets(self):
        return [t for leg in self.legs for t in leg.targets()]

    def op(self, i: int) -> list:
        return [leg.op(i) for leg in self.legs]

    def check(self, results: list) -> bool:
        return all([leg.check(r) for leg, r in zip(self.legs, results)])

    def samples(self, kind: str) -> dict:
        """Merged ``layer`` or ``extra`` samples of every leg."""
        out: dict = defaultdict(list)
        for leg in self.legs:
            for k, vs in getattr(leg, kind).items():
                out[k] += vs
        return out

    def clear_samples(self) -> None:
        for leg in self.legs:
            leg.layer.clear()
            leg.extra.clear()


# Why each workload is there is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    "ingest_serve": (CaptureReplay, StreamIngest, IndexServe),
    "corpus_curation": (CorpusCuration,),
}
