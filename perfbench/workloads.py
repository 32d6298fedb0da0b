"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned its rows.

A workload object is built once per run. `setup()` and `warm_up()` are the
program-side priming that set-up time covers: `setup()` builds what the
passes use, `warm_up()` runs the pass's code paths once on small inputs so
that the timed passes run warm. `run_pass()` is one timed pass over a fixed
amount of work; `check()` runs after the timed passes and returns (results
checked, failure reasons).

Every call into the engine goes through `self.tr.span(layer, kind)`, which
does nothing when tracing is off.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from tracing import dir_bytes

# batch: settings the benchmark fixes for the dedup pipeline
DEDUP_MIN_QUALITY = 0.1
DEDUP_THRESHOLD = 0.2

# batch: a fixed-order subset of bench.py's HEADLINE keys, held here so an
# edit to bench.py cannot move the workload. They reach what no other
# operation does: operators.temporal (sessionize), the eager localCheckpoint
# chain of transitive_closure (about 60 jobs before its collect()), and the
# TPC-H star join with its fact-fact shuffle.
GATES = ["events_sessionize", "transitive_closure", "tpch_q3_shipping_priority"]


@dataclass
class PassResult:
    wall_s: float = 0.0
    latencies_s: list = field(default_factory=list)
    docs: int = 0
    docs_wall_s: float = 0.0


class Clock:
    """Adds up the wall time of the timed parts of a pass, so that untimed
    bookkeeping between operations does not count."""

    def __init__(self, result: PassResult):
        self.result = result

    def op(self):
        """One operation (a request, a gate): its latency is recorded."""
        return _Timed(self.result, docs=None)

    def docs(self, n: int):
        """Document work that is not an operation (ingest, a dedup
        pipeline): `n` documents fully processed inside it."""
        return _Timed(self.result, docs=n)


class _Timed:
    def __init__(self, result: PassResult, docs: int | None):
        self.result, self.n_docs = result, docs

    def __enter__(self):
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        dt = time.perf_counter() - self.t0
        self.result.wall_s += dt
        if self.n_docs is None:
            self.result.latencies_s.append(dt)
        else:
            self.result.docs += self.n_docs
            self.result.docs_wall_s += dt


class Workload:
    def __init__(self, spark, inputs: str, work: str, tracer):
        self.spark, self.inputs, self.work, self.tr = spark, inputs, work, tracer
        with open(os.path.join(inputs, "plan.json")) as f:
            self.plan = json.load(f)

    def path(self, table: str) -> str:
        return os.path.join(self.inputs, f"{table}.parquet")

    def collect(self, layer: str, df):
        """The action of one operation: return the rows to the caller."""
        with self.tr.span(layer, "exec") as s:
            rows = df.collect()
        self.tr.record_plan(s, df)
        return rows

    def checkpoint(self, layer: str, df):
        """The action of a pipeline stage whose output the next stage reads."""
        with self.tr.span(layer, "exec") as s:
            out = df.localCheckpoint(eager=True)
        self.tr.record_plan(s, df)
        return out


class Serve(Workload):
    """A serving node: top-k, BM25, hybrid and batched requests over the
    resident sf0.1 corpus, while micro-batches of the same corpus stream
    into persisted FTS and IVF indexes that serve reads of their own."""

    def setup(self):
        from pdf_brain_spark.operators.ann import ivf_index
        from pdf_brain_spark.operators.clustering import fit_centroid_matrix
        from pdf_brain_spark.operators.fts import tokenized_corpus

        self.emb = self.spark.read.parquet(self.path("embeddings"))
        self.docs = self.spark.read.parquet(self.path("documents"))
        with self.tr.span("operators.fts", "exec"):
            self.toked = tokenized_corpus(self.docs)
        with self.tr.span("operators.ann", "exec"):
            indexed, self.centroids = ivf_index(self.emb, n_lists=self.plan["ivf_lists"], seed=42)
            self.indexed = indexed.cache()
            self.indexed.count()
        with self.tr.span("operators.clustering", "exec"):
            cmat = fit_centroid_matrix(self.spark, self.emb, k=self.plan["stream_lists"],
                                       dim=64, n_iter=2)
        # the fit returns milli-units; the streaming assigner takes vectors
        self.stream_centroids = [[c / 1000.0 for c in row] for row in cmat]
        self.passes = 0
        self.results, self.consistency = [], []

    def warm_up(self) -> None:
        self.run_pass(Clock(PassResult()), "warmup")
        self.results, self.consistency = [], []

    def run_pass(self, clock: Clock, rounds: str = "rounds") -> None:
        from pdf_brain_spark.streaming.ann_ingest import (
            compact_ann_index, delete_vectors, streaming_ann_ingest)
        from pdf_brain_spark.streaming.events import (
            compact_fts_index, delete_fts_documents, fts_assert_stores_consistent,
            streaming_fts_ingest)

        self.passes += 1
        root = os.path.join(self.work, f"serve-{self.passes}")
        stage_docs, stage_vecs = f"{root}/stage/docs", f"{root}/stage/vecs"
        store = f"{root}/store"
        self.fts_idx, self.ann_idx = f"{store}/fts", f"{store}/ann"
        for d in (stage_docs, stage_vecs, store):
            os.makedirs(d)
        doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        vec_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
        docs_stream = self.spark.readStream.schema("doc_id long, text string").parquet(stage_docs)
        vecs_stream = self.spark.readStream.schema("vec_id long, embedding array<float>").parquet(stage_vecs)
        texts = pq.read_table(self.path("documents")).column("text").to_pylist()
        vectors = pq.read_table(self.path("embeddings")).column("embedding").to_pylist()
        input_bytes = 0
        for r, rnd in enumerate(self.plan[rounds]):
            upd_docs = {int(k): v for k, v in rnd["update_docs"].items()}
            upd_vecs = {int(k): v for k, v in rnd["update_vecs"].items()}
            doc_rows = [(i, texts[i]) for i in rnd["docs"]] + list(upd_docs.items())
            vec_rows = [(i, vectors[i]) for i in rnd["vecs"]] + list(upd_vecs.items())
            input_bytes += sum(len(t.encode()) for _, t in doc_rows) + 4 * 64 * len(vec_rows)
            # the round's arrivals land in the streams' source directories
            pq.write_table(pa.table(list(zip(*doc_rows)), schema=doc_schema), f"{stage_docs}/r{r:04d}.parquet")
            pq.write_table(pa.table(list(zip(*vec_rows)), schema=vec_schema), f"{stage_vecs}/r{r:04d}.parquet")
            self.tr.next_request()
            # a document counts once both indexes have committed its round
            with clock.docs(len(doc_rows) + len(vec_rows)):
                if upd_docs:
                    ids = self.spark.createDataFrame([(i,) for i in upd_docs], "doc_id long")
                    with self.tr.span("streaming.events.ingest", "exec", watch_dir=store):
                        delete_fts_documents(self.spark, self.fts_idx, ids, r - 1)
                if upd_vecs:
                    ids = self.spark.createDataFrame([(i,) for i in upd_vecs], "vec_id long")
                    with self.tr.span("streaming.ann_ingest.ingest", "exec", watch_dir=store):
                        delete_vectors(self.spark, self.ann_idx, ids, r - 1)
                with self.tr.span("streaming.events.ingest", "exec", watch_dir=store):
                    streaming_fts_ingest(self.spark, docs_stream, self.fts_idx,
                                         f"{root}/ckpt/fts").awaitTermination()
                with self.tr.span("streaming.ann_ingest.ingest", "exec", watch_dir=store):
                    streaming_ann_ingest(self.spark, vecs_stream, self.ann_idx, self.stream_centroids,
                                         f"{root}/ckpt/ann").awaitTermination()
                if rnd["compact"]:
                    with self.tr.span("streaming.events.compact", "exec"):
                        compact_fts_index(self.spark, self.fts_idx, upto_batch_id=r)
                    with self.tr.span("streaming.ann_ingest.compact", "exec"):
                        compact_ann_index(self.spark, self.ann_idx, upto_batch_id=r)
            for req in rnd["requests"]:
                self.tr.next_request()
                with clock.op():
                    got = self.request(req)
                self.results.append((r, req, got))
        try:
            fts_assert_stores_consistent(self.spark, self.fts_idx)
            self.consistency.append(None)
        except Exception as e:  # the engine's own consistency report
            self.consistency.append(f"fts_assert_stores_consistent: {e}")
        self.stored_ratio = dir_bytes(store) / input_bytes
        shutil.rmtree(root, ignore_errors=True)

    def request(self, req: dict) -> list:
        from pdf_brain_spark.operators.ann import ivf_search_topk_batch
        from pdf_brain_spark.operators.fts import bm25_scores
        from pdf_brain_spark.operators.hybrid import hybrid_merge
        from pdf_brain_spark.operators.vector_search import similarity_join_topk, topk
        from pdf_brain_spark.streaming.ann_ingest import ivf_search_persisted
        from pdf_brain_spark.streaming.events import fts_search_persisted
        from pyspark.sql import functions as F

        kind, k = req["kind"], req["k"]
        if kind == "topk":
            with self.tr.span("operators.vector_search", "build"):
                df = topk(self.emb, req["vec"], k=k)
            return [(r["vec_id"], r["distance"]) for r in self.collect("operators.vector_search", df)]
        if kind == "bm25":
            with self.tr.span("operators.fts", "build"):
                df = bm25_scores(self.docs, req["terms"], k=k, toked=self.toked)
            return [(r["doc_id"], r["bm25"]) for r in self.collect("operators.fts", df)]
        if kind == "hybrid":
            with self.tr.span("operators.vector_search", "build"):
                vec = topk(self.emb, req["vec"], k=k).select(
                    F.col("vec_id").alias("doc_id"), F.col("score").alias("vec_score"))
            with self.tr.span("operators.fts", "build"):
                fts = bm25_scores(self.docs, req["terms"], k=k, toked=self.toked).select(
                    "doc_id", (F.col("bm25") / 10.0).alias("fts_score"))
            with self.tr.span("operators.hybrid", "build"):
                df = hybrid_merge(vec, fts, ["doc_id"], limit=k)
            rows = self.collect("operators.hybrid", df)
            return [(r["doc_id"], r["score"], r["match_type"]) for r in rows]
        if kind == "fts_read":
            with self.tr.span("streaming.events.search", "build"):
                df = fts_search_persisted(self.spark, self.fts_idx, req["terms"], k=k)
            return [(r["doc_id"], r["bm25"]) for r in self.collect("streaming.events.search", df)]
        if kind == "ann_read":
            with self.tr.span("streaming.ann_ingest.search", "build"):
                df = ivf_search_persisted(self.spark, self.ann_idx, self.stream_centroids, req["vec"],
                                          k=k, n_probes=self.plan["stream_probes"])
            return [(r["vec_id"], r["distance"]) for r in self.collect("streaming.ann_ingest.search", df)]
        layer = "operators.vector_search" if kind == "join_batch" else "operators.ann"
        with self.tr.span(layer, "build"):
            queries = self.spark.createDataFrame(
                list(enumerate(req["vecs"])), "query_id long, query_vec array<double>")
            if kind == "join_batch":
                df = similarity_join_topk(queries, self.emb, k=k)
            else:
                df = ivf_search_topk_batch(self.indexed, self.centroids, queries, k=k,
                                           n_probes=self.plan["ivf_probes"])
        return [(r["query_id"], r["vec_id"], r["distance"]) for r in self.collect(layer, df)]

    def check(self):
        emb = pq.read_table(self.path("embeddings")).to_pydict()
        ids = np.asarray(emb["vec_id"])
        mat = np.asarray(emb["embedding"], dtype=np.float32).astype(np.float64)
        docs = pq.read_table(self.path("documents")).to_pydict()
        con = checks.duck_documents(dict(zip(docs["doc_id"], docs["text"])))
        lists = dict(self.indexed.select("vec_id", "list_id").collect())
        list_of = np.asarray([lists[int(i)] for i in ids])
        # live content of the persisted indexes after each round
        live_docs, live_vecs, states = {}, {}, []
        for rnd in self.plan["rounds"]:
            live_docs.update({i: docs["text"][i] for i in rnd["docs"]})
            live_vecs.update({i: emb["embedding"][i] for i in rnd["vecs"]})
            live_docs.update({int(k): v for k, v in rnd["update_docs"].items()})
            live_vecs.update({int(k): v for k, v in rnd["update_vecs"].items()})
            states.append((checks.duck_documents(live_docs), dict(live_vecs)))
        failures = [c for c in self.consistency if c]
        for r, req, got in self.results:
            kind, k = req["kind"], req["k"]
            if kind == "topk":
                bad = checks.check_ranked(got, dict(zip(ids.tolist(), checks.cosine_distances(mat, req["vec"]))), k)
            elif kind == "bm25":
                bad = checks.check_ranked(got, checks.bm25_truth(con, req["terms"]), k, descending=True)
            elif kind == "hybrid":
                dist = checks.cosine_distances(mat, req["vec"])
                vec_top = [(int(ids[i]), 1.0 - dist[i] / 2.0) for i in np.lexsort((ids, dist))[:k]]
                bm = sorted(checks.bm25_truth(con, req["terms"]).items(), key=lambda t: (-t[1], t[0]))
                fts_top = [(d, s / 10.0) for d, s in bm[:k]]
                bad = checks.check_hybrid(got, checks.hybrid_expected(vec_top, fts_top), k)
            elif kind == "fts_read":
                bad = checks.check_ranked(got, checks.bm25_truth(states[r][0], req["terms"]), k,
                                          descending=True)
            elif kind == "ann_read":
                vecs = states[r][1]
                live_ids = np.fromiter(vecs.keys(), dtype=np.int64)
                live = np.asarray(list(vecs.values()), dtype=np.float32).astype(np.float64)
                probed = checks.ivf_probes(self.stream_centroids, req["vec"], self.plan["stream_probes"])
                keep = np.isin(checks.ivf_assign(live, self.stream_centroids), list(probed))
                dist = checks.cosine_distances(live[keep], req["vec"])
                bad = checks.check_ranked(got, dict(zip(live_ids[keep].tolist(), dist)), k)
            else:
                bad = None
                for qi, q in enumerate(req["vecs"]):
                    dist = checks.cosine_distances(mat, q)
                    keep = np.ones(len(ids), dtype=bool)
                    if kind == "ivf_batch":
                        probed = checks.ivf_batch_probes(self.centroids, q, self.plan["ivf_probes"])
                        keep = np.isin(list_of, list(probed))
                    bad = checks.check_ranked([(v, d) for q_, v, d in got if q_ == qi],
                                              dict(zip(ids[keep].tolist(), dist[keep])), k)
                    if bad:
                        bad = f"query {qi}: {bad}"
                        break
            if bad:
                failures.append(f"{kind} in round {r}: {bad}")
        return len(self.results) + len(self.consistency), failures


class Batch(Workload):
    """Throughput work: one dedup pipeline over a crawl-like corpus with
    injected duplicates (text filter, exact duplicates, MinHash verified
    pairs, connected components, n-gram Jaccard pairs), then a fixed list
    of bench.py gates over the sf0.1 tables."""

    def setup(self):
        from pdf_brain_spark.queries import lookup_query

        self.gates = [lookup_query(n) for n in GATES]
        self.outputs, self.last = [], {}

    def warm_up(self) -> None:
        self.run_pass(Clock(PassResult()), "warmup_corpus")
        self.outputs, self.last = [], {}

    def run_pass(self, clock: Clock, corpus: str = "corpus") -> None:
        from pdf_brain_spark.functions.text import lang_id, quality_score
        from pdf_brain_spark.operators import dedup

        docs = self.spark.read.parquet(self.path(corpus))
        self.tr.next_request()
        with clock.docs(pq.read_metadata(self.path(corpus)).num_rows):
            with self.tr.span("functions.text", "build"):
                kept = docs.filter(
                    (lang_id("text") != "unknown") & (quality_score("text") >= DEDUP_MIN_QUALITY)
                ).select("doc_id", "text")
            kept = self.checkpoint("functions.text", kept)
            with self.tr.span("operators.dedup", "build"):
                df = dedup.exact_duplicates(kept)
            exact = self.collect("operators.dedup", df)
            with self.tr.span("operators.dedup", "build"):
                df = dedup.minhash_verified_pairs(kept, threshold=DEDUP_THRESHOLD)
            pairs = self.checkpoint("operators.dedup", df)
            with self.tr.span("operators.dedup", "build"):
                df = dedup.connected_components(pairs)
            components = self.collect("operators.dedup", df)
            with self.tr.span("operators.dedup", "build"):
                df = dedup.ngram_jaccard_pairs(kept, threshold=DEDUP_THRESHOLD)
            ngram = self.collect("operators.dedup", df)
        self.outputs.append({
            "kept": {r[0] for r in kept.select("doc_id").collect()},
            "exact": [(r["content_hash"], r["n_dups"], r["keep_id"]) for r in exact],
            "minhash": [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs.collect()],
            "components": [(r["node"], r["component"]) for r in components],
            "ngram": [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in ngram],
        })
        for name, fn in zip(GATES, self.gates):
            self.tr.next_request()
            with clock.op():
                with self.tr.span("gates", "build"):
                    df = fn(self.spark, self.inputs)
                rows = self.collect("gates", df)
            self.last[name] = (rows, df.schema)
            self.spark.catalog.clearCache()

    def check(self):
        from pdf_brain_spark.queries import lookup_oracle

        t = pq.read_table(self.path("corpus")).to_pydict()
        texts = dict(zip(t["doc_id"], t["text"]))
        failures = []
        for out in self.outputs:
            bad = checks.check_filter(out["kept"], texts, DEDUP_MIN_QUALITY)
            if bad:
                failures.append(f"text filter: {bad}")
                continue
            live = {d: texts[d] for d in out["kept"]}
            groups = [g for g in self.plan["exact_groups"] + self.plan["near_groups"]
                      if all(d in live for d in g)]
            pairs = [(a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1:]]
            for name, bad in (
                ("exact_duplicates", checks.check_exact(out["exact"], live)),
                ("minhash_verified_pairs", checks.check_pairs(out["minhash"], live, DEDUP_THRESHOLD, [])),
                ("connected_components", checks.check_components(out["components"], groups)),
                ("ngram_jaccard_pairs", checks.check_pairs(out["ngram"], live, DEDUP_THRESHOLD, pairs)),
            ):
                if bad:
                    failures.append(f"{name}: {bad}")
        con = checks.oracle_connection(self.inputs)
        for name in GATES:
            rows, schema = self.last[name]
            got = self.spark.createDataFrame(rows, schema).toPandas()
            bad = checks.check_gate(got, con.execute(lookup_oracle(name)).df())
            if bad:
                failures.append(f"{name}: {bad}")
        return 5 * len(self.outputs) + len(GATES), failures


WORKLOADS = {"serve": Serve, "batch": Batch}
