"""The three workloads: rag_read, memory_write and corpus_batch.

Each workload is one closed-loop client on one SparkSession. Its set-up
(timed into ``setup_s``) is ``generate`` (inputs from the seed; no Spark,
so it runs while the session starts) and ``warm_up``; ``run_loop`` runs
whole cycles of its op schedule until ``seconds`` have passed, and
``verify`` compares what the program returned with the references in
``refs.py``. A wrong result counts as a failed op.

The program is reached only through its public calls: ``session.get_spark``,
``sources.tables.load_table``, ``operators.*``, ``functions.lenient_json``,
``sources.txlog.tx_*``, ``sources.mq.DirectoryQueue`` and
``streaming.pipeline.run_*``.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import refs
from tracing import Tracer


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else 0.0


# The host's speed drifts by 20-30 % over minutes (other tenants share its
# cores), and every op of a run drifts with it. A fixed pure-Python loop
# that uses no code of the program, timed between ops, measures that
# speed; the gated latencies are expressed in its units ("ref"), so the
# drift cancels and a change to the program still shows in full.
REF_ITERS = 80_000


def ref_loop_ms() -> float:
    """Time in ms of the fixed reference loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(REF_ITERS):
        s += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def dir_bytes(path: str) -> int:
    """Bytes of the files under path."""
    return sum(os.lstat(os.path.join(base, f)).st_size
               for base, _, files in os.walk(path) for f in files)


class Workload:
    """Shared op bookkeeping. ``lat`` holds per-kind latencies in ms of the
    calls inside ops; ``op_lat`` the latency of each whole op and
    ``ref_lat`` the reference loop timed before each op and once after the
    last."""

    name = ""

    # verify() reads tables through Spark, so it must run before the
    # session stops; otherwise it overlaps the shutdown
    verify_needs_spark = False

    def __init__(self, seed: int, dirs: dict, trace: bool, scale: float):
        self.spark = None
        self.seed = seed
        self.dirs = dirs
        self.scale = scale
        self.trace = trace
        self.tr = Tracer(None, False)  # replaced after the warm-up
        self.lat: dict[str, list[float]] = {}
        self.op_lat: list[float] = []
        self.ref_lat: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.loop_s = 0.0
        self.rows = 0
        self.props: dict = {}
        self.load_calls = 0
        self.load_ms = 0.0
        self.load_hits = 0
        self.plan_requests = 0
        self.op_kinds: list[str] = []

    # -- calls into the program ---------------------------------------------

    def call(self, name: str, fn, *args, **kw):
        """Time one public call; its latency is recorded under ``name``."""
        t0 = time.perf_counter()
        with self.tr.span(name, "call"):
            out = fn(*args, **kw)
        self.lat.setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
        return out

    def action(self, name: str, fn):
        with self.tr.span(name, "action"):
            return fn()

    def load(self, name: str):
        """``load_table`` with the plan-cache hit read from outside: a call
        is a hit when it adds no entry to the session's plan cache."""
        from pulsar_project_spark.sources import tables

        before = len(tables._PLAN_CACHE.get(self.spark, {})) if self.tr.enabled else 0
        t0 = time.perf_counter()
        with self.tr.span("sources.tables.load_table", "call"):
            df = tables.load_table(self.spark, self.dirs["inputs"], name)
        self.load_ms += (time.perf_counter() - t0) * 1e3
        self.load_calls += 1
        self.plan_requests += 1
        if self.tr.enabled:
            self.load_hits += len(tables._PLAN_CACHE.get(self.spark, {})) == before
        return df

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.failures) < 20:
            self.failures.append(what)

    # -- the loop -------------------------------------------------------------

    def cycle_len(self) -> int:
        raise NotImplementedError

    def kind_of(self, i: int) -> str:
        raise NotImplementedError

    def start_tracing(self) -> None:
        """Called after the warm-up, so its work never reaches the trace."""
        self.tr = Tracer(self.spark, self.trace)

    def before_stop(self) -> None:
        """Anything verify() needs from the live session."""

    def run_loop(self, seconds: float) -> None:
        """Run whole cycles of the schedule until ``seconds`` have passed;
        ``loop_s`` leaves out the reference loops."""
        t0 = time.perf_counter()
        i = 0
        while True:
            self.ref_lat.append(ref_loop_ms())
            kind = self.kind_of(i)
            with self.tr.op(kind, i) as rec:
                self.step(i)
            self.op_lat.append(rec["wall_s"] * 1e3)
            self.op_kinds.append(kind)
            i += 1
            if i % self.cycle_len() == 0 and time.perf_counter() - t0 >= seconds:
                break
        self.ref_lat.append(ref_loop_ms())
        self.loop_s = time.perf_counter() - t0 - sum(self.ref_lat) / 1e3

    def step(self, i: int) -> None:
        raise NotImplementedError

    # -- metrics ---------------------------------------------------------------

    def e2e(self) -> dict:
        """The gated metrics: each op's latency in units of the mean of the
        two reference loops around it, so drift within a run cancels too."""
        r = self.ref_lat
        rel = [2 * x / (r[i] + r[i + 1]) for i, x in enumerate(self.op_lat)]
        return {
            "op_p50_ref": (_pct(rel, 50), "ref"),
            "op_p90_ref": (_pct(rel, 90), "ref"),
            "op_mean_ref": (float(np.mean(rel)), "ref"),
        }

    def raw(self) -> dict:
        """The same figures in wall-clock units, with the reference loop."""
        n = len(self.op_lat)
        return {
            "op_p50_ms": (_pct(self.op_lat, 50), "ms", n),
            "op_p90_ms": (_pct(self.op_lat, 90), "ms", n),
            "ops_per_s": (n / self.loop_s, "1/s", n),
            "ref_ms": (_pct(self.ref_lat, 50), "ms", len(self.ref_lat)),
        }

    def named(self) -> dict:
        """The workload's own end-to-end figures, by their specific names."""
        return {}

    def layer_extra(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# rag_read


WARM_KEYWORD_LOOKUPS = 12
WARM_KNN_LOOKUPS = 3


class RagRead(Workload):
    name = "rag_read"

    def cycle_len(self) -> int:
        return len(gen.RAG_CYCLE)

    def kind_of(self, i: int) -> str:
        return gen.rag_op(self.seed, i)["kind"]

    def generate(self) -> None:
        self.props = gen.write_tables(self.seed, self.dirs["inputs"], self.scale)
        self.props["cycle"] = {k: gen.RAG_CYCLE.count(k) for k in sorted(set(gen.RAG_CYCLE))}
        self.props["oov_query_share"] = gen.OOV_QUERY_SHARE
        self.props["oov_term_share"] = gen.OOV_TERM_SHARE

    def warm_up(self) -> None:
        self.results: list[tuple[dict, list]] = []
        # each kind at least once; the keyword and vector paths (interpreted
        # higher-order functions, so JIT-sensitive) many times, so the JIT
        # has settled before the first timed lookup
        words = ("warm", "keyword", "path", "query")
        warm = [{"kind": "simple_rag", "k": 5, "query": " ".join(words[:2 + j % 3])}
                for j in range(WARM_KEYWORD_LOOKUPS)]
        warm += [{"kind": "knn", "k": 5, "qvec": j} for j in range(WARM_KNN_LOOKUPS)]
        warm += [{"kind": "bm25", "k": 5, "terms": ["table", "key"]},
                 {"kind": "mmr", "k": 5, "qvec": 2}]
        for op in warm:
            self.lookup(op)
        self.lat.clear()
        self.load_calls = self.plan_requests = self.load_hits = 0
        self.load_ms = 0.0

    def _qvec(self, j: int):
        from pyspark.sql import functions as F

        return (self.load("query_vectors").filter(F.col("vec_id") == j)
                .select(F.lit(-1).cast("long").alias("vec_id"), "embedding", "label"))

    def lookup(self, op: dict) -> list:
        from pyspark.sql import functions as F

        from pulsar_project_spark.operators import mmr, retrieval, similarity

        kind, k = op["kind"], op["k"]
        if kind == "simple_rag":
            df = self.call("operators.retrieval.simple_rag", retrieval.simple_rag,
                           self.load("documents"), op["query"], top_k=k)
            rows = self.action("collect", df.collect)
            return [(r.doc_id, r.score) for r in rows]
        if kind == "bm25":
            df = self.call("operators.retrieval.bm25_scores", retrieval.bm25_scores,
                           self.load("documents"), op["terms"])
            df = df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            rows = self.action("collect", df.collect)
            return [(r.doc_id, r.score) for r in rows]
        emb = self.load("embeddings")
        if kind == "knn":
            df = self.call("operators.similarity.knn_cosine", similarity.knn_cosine,
                           emb.unionByName(self._qvec(op["qvec"])), n_queries=0, k=k)
            rows = self.action("collect", df.collect)
            return [(r.vec_id, r.cosine) for r in sorted(rows, key=lambda r: r.rnk)]
        quant = "transform(embedding, v -> cast(floor(cast(v as double) * 1000000) as bigint))"
        q = self._qvec(op["qvec"]).select(F.expr(quant).alias("query_qv"))
        rel = (emb.select(F.col("vec_id").alias("doc_id"), F.expr(quant).alias("qv"))
               .crossJoin(F.broadcast(q))
               .select("doc_id", "qv", F.aggregate(
                   F.zip_with("qv", "query_qv", lambda x, y: x * y),
                   F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias("rel_q")))
        cands = rel.orderBy(F.desc("rel_q"), F.asc("doc_id")).limit(20)
        df = self.call("operators.mmr.mmr_rerank_q", mmr.mmr_rerank_q, cands, k=k)
        rows = self.action("collect", df.collect)
        return sorted((r["rank"], r.doc_id, r.rel_q, r.mmr_q) for r in rows)

    def step(self, i: int) -> None:
        op = gen.rag_op(self.seed, i)
        self.attempted += 1
        try:
            self.results.append((op, self.lookup(op)))
        except Exception as ex:  # noqa: BLE001 - a failed lookup is an op error
            self.fail(f"lookup {i} {op['kind']}: {type(ex).__name__}: {ex}"[:300])

    def verify(self) -> None:
        from pulsar_project_spark.functions.text import COMMON_ENGLISH_WORDS as stop

        d = self.dirs["inputs"]
        texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        vecs = np.asarray(pq.read_table(os.path.join(d, "embeddings.parquet"))
                          .column("embedding").to_pylist(), dtype=np.float32)
        qbank = np.asarray(pq.read_table(os.path.join(d, "query_vectors.parquet"))
                           .column("embedding").to_pylist(), dtype=np.float32)
        cleaned = [refs.clean(t) for t in texts]
        for op, got in self.results:
            kind, k = op["kind"], op["k"]
            ok = True
            if kind == "simple_rag":
                ok = got == refs.rag_topk(cleaned, op["query"], k, stop)
            elif kind == "bm25":
                want = refs.bm25_topk(texts, op["terms"], k, stop)
                ok = ([i for i, _ in got] == [i for i, _ in want]
                      and all(abs(a - b) <= 1e-9 * max(1.0, abs(b))
                              for (_, a), (_, b) in zip(got, want)))
            elif kind == "knn":
                q = qbank[op["qvec"]]
                want = refs.cosine_topk(vecs, q, k)
                ok = [v for v, _ in got] == [v for v, _ in want] and all(
                    abs(c - refs.cosine(vecs[v], q)) <= 1e-9 for v, c in got)
            else:
                ok = got == refs.mmr_q(vecs, qbank[op["qvec"]], k, 20)
            if not ok:
                self.fail(f"wrong {kind} result for {op}")

    def named(self) -> dict:
        n = len(self.op_lat)
        return {
            "lookup_p50_ms": (_pct(self.op_lat, 50), "ms", n),
            "lookup_p95_ms": (_pct(self.op_lat, 95), "ms", n),
            "lookups_per_s": (n / self.loop_s, "1/s", n),
        }


# ---------------------------------------------------------------------------
# memory_write

_MEM_COLS = ("rec_id", "user_id", "topic_id", "ts_us", "text")
# Ten turns per cycle: drains on turns 2, 5 and 8 (the three slowest turns,
# so p90 falls among them), retention + compaction + vacuum on turn 9, the
# rest plain turns (append, produce, merge, read).
_DRAIN_TURNS = {2: "topic_frequencies", 5: "streaming_tx_sink", 8: "topic_frequencies"}
_MAINT_TURN = 9
_CYCLE_TURNS = len(gen.TURN_ROWS)
_KEEP_RECORDS = 150
COMMITS = ("sources.txlog.tx_append", "sources.txlog.tx_merge",
            "sources.txlog.tx_merge_upsert", "sources.txlog.tx_delete_range",
            "sources.txlog.tx_compact")


class MemoryWrite(Workload):
    name = "memory_write"
    verify_needs_spark = True

    def cycle_len(self) -> int:
        return _CYCLE_TURNS

    def kind_of(self, i: int) -> str:
        return "turn"

    def _schemas(self):
        from pyspark.sql.types import (BinaryType, LongType, StringType,
                                       StructField, StructType)

        self.mem_schema = StructType(
            [StructField(c, LongType()) for c in _MEM_COLS[:4]]
            + [StructField("text", StringType())])
        self.topic_schema = StructType([StructField(c, LongType()) for c in
                                        ("topic_id", "frequency", "last_ts_us")])
        self.msg_schema = StructType([
            StructField("key", BinaryType()), StructField("value", BinaryType()),
            StructField("publish_ts_us", LongType()), StructField("seq", LongType())])

    def _fresh(self, tag: str) -> None:
        from pulsar_project_spark.sources.mq import DirectoryQueue
        from pulsar_project_spark.sources.txlog import tx_init

        base = os.path.join(self.dirs["work"], tag)
        self.mem = os.path.join(base, "memory")
        self.topics = os.path.join(base, "topics")
        tx_init(self.mem)
        tx_init(self.topics)
        self.queue = DirectoryQueue(os.path.join(base, "queue"))
        self.replay = refs.MemoryReplay()
        self.next_rec = 0
        self.evicted = 0
        self.produced: list[int] = []
        self.commit_ops: dict[str, int] = {}
        self.snap_diffs: list[dict] = []

    def generate(self) -> None:
        stream = os.path.join(self.dirs["inputs"], "stream")
        self.props = gen.write_stream_source(self.seed, stream, self.scale)
        ev = pq.read_table(os.path.join(stream, "events.parquet"))
        self.want_freq = refs.topic_frequencies(ev)
        self.want_sink = refs.tx_sink_census(ev)
        self.props.update({"topics": gen.N_TOPICS, "topic_zipf_s": gen.TOPIC_ZIPF_S,
                           "keep_records": _KEEP_RECORDS, "cycle_turns": _CYCLE_TURNS})

    def warm_up(self) -> None:
        self._schemas()
        self._fresh("warm")
        for i in (0, 1, 2, 5, 9):
            self.step(i)
        self._fresh("run")
        self.lat.clear()
        self.attempted = self.failed = 0
        self.failures.clear()
        self.rows = 0
        self.plan_requests = 0

    def frame(self, rows: list[tuple], schema):
        """The client's rows as a DataFrame. Built from pandas so Arrow
        ships them to the JVM once; a list of tuples would become a Python
        RDD that starts Python workers on every action over it."""
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=schema.fieldNames()), schema)

    def _commit(self, name: str, table: str, fn, *args, **kw):
        from pulsar_project_spark.sources.txlog import tx_snapshot

        before = tx_snapshot(table)["files"] if self.tr.enabled else None
        out = self.call(name, fn, *args, **kw)
        self.commit_ops[name] = self.commit_ops.get(name, 0) + 1
        if before is not None:
            after = tx_snapshot(table)["files"]
            added = set(after) - set(before)
            removed = set(before) - set(after)
            size = lambda fs: sum(os.path.getsize(os.path.join(table, f)) for f in fs)  # noqa: E731
            self.snap_diffs.append({"op": name, "added": len(added),
                                    "bytes_added": size(added),
                                    "removed": len(removed),
                                    "bytes_removed": size(removed)})
        return out

    def step(self, i: int) -> None:
        from pyspark.sql import functions as F

        from pulsar_project_spark.sources import txlog

        spark = self.spark
        turn = gen.memory_turn(self.seed, i, self.next_rec)
        rows = turn["rows"]
        self.next_rec += len(rows)
        deltas = refs.MemoryReplay.deltas(rows)
        self.attempted += 4
        records = self.frame(rows, self.mem_schema)
        msgs = self.frame(
            [(str(r[1]).encode(), json.dumps({"rec_id": r[0], "topic": r[2]}).encode(),
              r[3], r[0]) for r in rows], self.msg_schema)
        self._commit("sources.txlog.tx_append", self.mem, txlog.tx_append,
                     records, self.mem, n_files=1)
        self.replay.append(rows)
        self.call("sources.mq.DirectoryQueue.produce", self.queue.produce, msgs, "turns")
        self.produced.extend(r[0] for r in rows)
        if i % 2 == 0:
            src = self.frame(
                [(k, n, ts) for k, (n, ts) in sorted(deltas.items())], self.topic_schema)
            self._commit("sources.txlog.tx_merge", self.topics, txlog.tx_merge,
                         spark, self.topics, src, "topic_id",
                         when_matched_set={
                             "frequency": "frequency + __s_frequency",
                             "last_ts_us": "greatest(last_ts_us, __s_last_ts_us)"})
            self.replay.merge(deltas)
        else:
            self.replay.merge(deltas)
            src = self.frame(
                [(k, *self.replay.topics[k]) for k in sorted(deltas)], self.topic_schema)
            self._commit("sources.txlog.tx_merge_upsert", self.topics,
                         txlog.tx_merge_upsert, spark, self.topics, src, "topic_id")
        self.rows += 2 * len(rows) + len(deltas)
        key = min(deltas, key=lambda k: (-deltas[k][0], k))
        t0 = time.perf_counter()
        df = self.call("sources.txlog.tx_read", txlog.tx_read, spark, self.topics)
        self.plan_requests += 1
        got = self.action("collect", df.filter(F.col("topic_id") == key).collect)
        self.lat.setdefault("fresh_read", []).append((time.perf_counter() - t0) * 1e3)
        want = self.replay.topics[key]
        if [(r.frequency, r.last_ts_us) for r in got] != [tuple(want)]:
            self.fail(f"fresh read of topic {key} after turn {i}: {got} != {want}")
        slot = i % _CYCLE_TURNS
        if slot in _DRAIN_TURNS:
            self.attempted += 1
            self.drain(_DRAIN_TURNS[slot])
        if slot == _MAINT_TURN:
            self.attempted += 4
            cutoff = self.next_rec - _KEEP_RECORDS
            if cutoff > self.evicted:
                self._commit("sources.txlog.tx_delete_range", self.mem,
                             txlog.tx_delete_range, spark, self.mem, "rec_id",
                             self.evicted, cutoff - 1)
                self.replay.delete_range(self.evicted, cutoff - 1)
                self.evicted = cutoff
            self._commit("sources.txlog.tx_compact", self.mem, txlog.tx_compact,
                         spark, self.mem, 8 << 20)
            self.call("sources.txlog.tx_vacuum", txlog.tx_vacuum, self.mem, 0.0)
            self.call("sources.txlog.tx_vacuum", txlog.tx_vacuum, self.topics, 0.0)

    def drain(self, which: str) -> None:
        from pulsar_project_spark.streaming import pipeline

        stream = os.path.join(self.dirs["inputs"], "stream")
        if which == "topic_frequencies":
            df = self.call("streaming.pipeline.run_topic_frequencies",
                           pipeline.run_topic_frequencies, self.spark, stream)
            got = {r.topic: (r.frequency, r.last_updated_us)
                   for r in self.action("collect", df.collect)}
            want = self.want_freq
        else:
            df = self.call("streaming.pipeline.run_streaming_tx_sink",
                           pipeline.run_streaming_tx_sink, self.spark, stream)
            got = {r.event_type: (r.n_events, r.total_cents, r.last_us)
                   for r in self.action("collect", df.collect)}
            want = self.want_sink
        self.rows += self.props["stream_events"]
        if got != want:
            self.fail(f"{which} drain result differs from the replay")

    def verify(self) -> None:
        from pulsar_project_spark.sources.txlog import tx_read

        mem = [tuple(r) for r in tx_read(self.spark, self.mem).collect()]
        if refs.rows_digest(mem) != refs.rows_digest(self.replay.records.values()):
            self.fail("memory table differs from the replay",
                      sum(v for k, v in self.commit_ops.items() if "merge" not in k))
        top = [tuple(r) for r in tx_read(self.spark, self.topics).collect()]
        want = [(k, *v) for k, v in self.replay.topics.items()]
        if refs.rows_digest(top) != refs.rows_digest(want):
            self.fail("topics table differs from the replay",
                      sum(v for k, v in self.commit_ops.items() if "merge" in k))
        seqs = sorted(r.seq for r in self.queue.read_batch(self.spark, "turns").collect())
        if seqs != sorted(self.produced):
            self.fail("queue differs from what was produced",
                      len(self.lat.get("sources.mq.DirectoryQueue.produce", [])))
        self.stored_bytes = sum(dir_bytes(t) for t in (self.mem, self.topics))
        self.user_bytes = self.replay.user_bytes()

    def named(self) -> dict:
        commits = [x for k in COMMITS for x in self.lat.get(k, [])]
        drains = [x for k, v in self.lat.items() if k.startswith("streaming.") for x in v]
        reads = self.lat.get("fresh_read", [])
        return {
            "commit_p50_ms": (_pct(commits, 50), "ms", len(commits)),
            "commit_p95_ms": (_pct(commits, 95), "ms", len(commits)),
            "drain_p50_ms": (_pct(drains, 50), "ms", len(drains)),
            "fresh_read_p50_ms": (_pct(reads, 50), "ms", len(reads)),
            "ingest_rows_per_s": (self.rows / self.loop_s, "rows/s", self.rows),
            "bytes_stored_per_user_byte": (self.stored_bytes / self.user_bytes,
                                           "ratio", self.user_bytes),
        }

    def layer_extra(self) -> dict:
        from pulsar_project_spark.sources.txlog import tx_snapshot

        snaps = [tx_snapshot(t) for t in (self.mem, self.topics)]
        diffs = self.snap_diffs
        merges = [d for d in diffs if "merge" in d["op"]]
        return {
            "txlog.versions": (sum(s["version"] for s in snaps), "count"),
            "txlog.files_live": (sum(len(s["files"]) for s in snaps), "count"),
            "txlog.files_written": (np.mean([d["added"] for d in diffs]) if diffs else 0.0, "count"),
            "txlog.bytes_written": (np.mean([d["bytes_added"] for d in diffs]) if diffs else 0.0, "bytes"),
            "txlog.bytes_rewritten_per_merge": (
                np.mean([d["bytes_removed"] for d in merges]) if merges else 0.0, "bytes"),
            "mq.files": (sum(1 for f in os.listdir(self.queue.topic_path("turns"))
                             if f.endswith(".parquet")), "count"),
        }


# ---------------------------------------------------------------------------
# corpus_batch


def _jobs():
    """(name, input table, build(w) -> DataFrame, reference)."""
    from pyspark.sql import functions as F

    from pulsar_project_spark.functions.lenient_json import lenient_json_canonical
    from pulsar_project_spark.operators import dedup, multimodal, similarity, text_analysis

    def docs(w):
        return w.load("documents")

    def emb(w):
        return w.load("embeddings")

    def lenient(w):
        ev = w.load("events").select("event_id", "props").repartition(
            w.spark.sparkContext.defaultParallelism)
        return w.call("functions.lenient_json.lenient_json_canonical",
                      lambda: ev.select("event_id", lenient_json_canonical(
                          F.col("props")).alias("canonical")))

    def op(name, fn, inputs, **kw):
        return lambda w: w.call(name, fn, *inputs(w), **kw)

    return [
        ("minhash_candidates", "documents",
         op("operators.dedup.minhash_candidates", dedup.minhash_candidates,
            lambda w: (docs(w),)), ("oracle", "minhash_candidate_pairs")),
        ("srp_near_pairs", "embeddings",
         op("operators.similarity.srp_near_pairs", similarity.srp_near_pairs,
            lambda w: (emb(w),), threshold=0.2), ("srp", 0.2)),
        ("language_id", "documents",
         op("operators.text_analysis.language_id", text_analysis.language_id,
            lambda w: (docs(w),)), ("oracle", "langid_profile_scores")),
        ("quality_scores", "documents",
         op("operators.text_analysis.quality_scores", text_analysis.quality_scores,
            lambda w: (docs(w),)), ("quality",)),
        ("bpe_token_counts", "documents",
         op("operators.text_analysis.bpe_token_counts", text_analysis.bpe_token_counts,
            lambda w: (docs(w),)), ("oracle", "bpe_token_counts")),
        ("lenient_json_canonical", "events", lenient, ("lenient",)),
        ("wav_synthesize_decode", "documents",
         lambda w: w.call("operators.multimodal.decode_wav_features",
                          multimodal.decode_wav_features,
                          w.call("operators.multimodal.synthesize_wav",
                                 multimodal.synthesize_wav,
                                 docs(w).filter(F.col("doc_id").isNotNull()))),
         ("oracle", "wav_codec_roundtrip_features")),
        ("pgm_synthesize_decode", "documents",
         lambda w: w.call("operators.multimodal.decode_pgm_resize_features",
                          multimodal.decode_pgm_resize_features,
                          w.call("operators.multimodal.synthesize_pgm",
                                 multimodal.synthesize_pgm,
                                 docs(w).filter(F.col("doc_id").isNotNull()))),
         ("oracle", "pgm_resize_features")),
    ]


class CorpusBatch(Workload):
    name = "corpus_batch"

    def cycle_len(self) -> int:
        return len(self.jobs)

    def kind_of(self, i: int) -> str:
        return self.jobs[i % len(self.jobs)][0]

    def generate(self) -> None:
        self.props = gen.write_tables(self.seed, self.dirs["inputs"], self.scale)

    def warm_up(self) -> None:
        self.jobs = _jobs()
        self.props["jobs"] = [j[0] for j in self.jobs]
        # warm-up: every job once, collected; these are the outputs verify()
        # checks, since the timed runs go through the noop sink
        self.outputs = {}
        for name, _, build, _ in self.jobs:
            df = build(self)
            self.outputs[name] = ([r.asDict(recursive=True) for r in df.collect()],
                                  df.columns)
        self.lat.clear()
        self.load_calls = self.plan_requests = self.load_hits = 0
        self.load_ms = 0.0

    def step(self, i: int) -> None:
        name, table, build, _ = self.jobs[i % len(self.jobs)]
        self.attempted += 1
        try:
            df = build(self)
            self.action("noop", lambda: df.write.format("noop").mode("overwrite").save())
            self.rows += self.props[table]
        except Exception as ex:  # noqa: BLE001 - a failed job is an op error
            self.fail(f"job {name}: {type(ex).__name__}: {ex}"[:300])

    def before_stop(self) -> None:
        # importing the declared queries builds Columns, so it needs the session
        from pulsar_project_spark import queries  # noqa: F401 - fills the registry
        from pulsar_project_spark.registry import ORACLES

        self.oracles = {ref[1]: ORACLES[ref[1]] for *_, ref in self.jobs
                        if ref[0] == "oracle"}

    def verify(self) -> None:
        import duckdb

        from pulsar_project_spark.functions.text import COMMON_ENGLISH_WORDS as stop

        d = self.dirs["inputs"]
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(d, t + '.parquet')}')")
        texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        for name, _, _, ref in self.jobs:
            rows, cols = self.outputs[name]
            if ref[0] == "oracle":
                cur = con.execute(self.oracles[ref[1]])
                names = [c[0] for c in cur.description]
                want = [dict(zip(names, r)) for r in cur.fetchall()]
                ok = sorted(names) == sorted(cols) and (
                    refs.rows_digest(rows, cols) == refs.rows_digest(want, names))
            elif ref[0] == "quality":
                ok = refs.rows_digest([tuple(r[c] for c in cols) for r in rows]) == \
                    refs.rows_digest(refs.quality_rows(texts, stop))
            elif ref[0] == "lenient":
                ev = pq.read_table(os.path.join(d, "events.parquet"))
                want = [(i, refs.canonical_props(p)) for i, p in zip(
                    ev.column("event_id").to_pylist(), ev.column("props").to_pylist())]
                ok = refs.rows_digest([(r["event_id"], r["canonical"]) for r in rows]) == \
                    refs.rows_digest(want)
            else:
                vecs = np.asarray(pq.read_table(os.path.join(d, "embeddings.parquet"))
                                  .column("embedding").to_pylist(), dtype=np.float32)
                want = refs.srp_pairs(vecs, ref[1])
                got = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in rows}
                ok = got.keys() == want.keys() and all(
                    abs(got[p] - want[p]) <= 1e-9 for p in got)
            if not ok:
                self.fail(f"{name} output differs from its reference",
                          self.op_kinds.count(name))

    def named(self) -> dict:
        n = len(self.op_lat)
        secs = sum(self.op_lat) / 1e3
        return {
            "job_p50_s": (_pct(self.op_lat, 50) / 1e3, "s", n),
            "corpus_rows_per_s": (self.rows / secs, "rows/s", self.rows),
        }


WORKLOADS = {w.name: w for w in (RagRead, MemoryWrite, CorpusBatch)}
