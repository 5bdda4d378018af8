"""The benchmark workloads: ``retrieve`` and ``corpus_clean``.

Each workload generates its inputs from the seed (``generate``), computes
the reference answers untimed (``reference``), prepares the library state
once (``prepare``), and then runs ``round`` in a closed loop: one driver
thread issues the next call only after the previous one returned. Every
call into a library layer is a span (``spans.Tracer``); every output is
checked against the reference, and an exception or a failed check counts
as a failed operation.

End-to-end metrics (the same names on both workloads):

- ``latency_p50_ms``: median latency of one interactive call:
  ``query_vector(k=10)`` (retrieve), one whole cleaning pass
  (corpus_clean);
- ``throughput_per_s``: queries/s through ``batch_topk`` (retrieve), input
  documents/s through the cleaning pass (corpus_clean);
- ``approx_per_s``: items/s through the approximate-similarity path:
  queries/s through ``ivf_query_index_batch`` (retrieve), documents/s
  through ``minhash_dedup`` (corpus_clean).

The write path (``read_jsonl``, ``make_records``, ``add_records`` with
planted violations, ``compact``, ``ensure_ivf_index``) runs once in the
set-up of ``retrieve``, so it counts in ``setup_s``; its per-layer numbers
come from those set-up spans, and ``get_record`` lookups run in every
round.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import traceback

import numpy as np

import inputs
from spans import Span, Tracer

from pyspark.sql import functions as F

from go_simple_embedding_database_spark import SparkEmbeddingDatabase
from go_simple_embedding_database_spark.functions.embedders import get_embedder
from go_simple_embedding_database_spark.functions.text import (
    quality_score, shingles_py)
from go_simple_embedding_database_spark.operators.ann import (
    ensure_ivf_index, ivf_query_index_batch)
from go_simple_embedding_database_spark.operators.dedup import (
    connected_components, exact_dedup_keep, minhash_candidate_pairs,
    minhash_dedup)
from go_simple_embedding_database_spark.operators.topk import batch_topk
from go_simple_embedding_database_spark.sources.files import read_jsonl

MB = 1024.0 * 1024.0

# Per-layer metrics, reported by every traced run; a layer a workload never
# calls reads 0 there. Per-call values are medians over the traced rounds,
# or over the set-up calls for the write path.
LAYER_METRICS = {
    "database.query_vector.build_ms": "ms",
    "database.query_vector.plan_ms": "ms",
    "database.query_vector.exec_ms": "ms",
    "database.query_vector.jobs": "count",
    "operators.topk.batch_topk.build_s": "s",
    "operators.topk.batch_topk.eager_jobs": "count",
    "operators.topk.batch_topk.exec_s": "s",
    "operators.topk.batch_topk.task_cpu_s": "s",
    "operators.topk.batch_topk.python_s": "s",
    "operators.topk.batch_topk.shuffle_mb": "MB",
    "operators.topk.batch_topk.rows_read": "count",
    "operators.ann.ivf_query_index_batch.build_s": "s",
    "operators.ann.ivf_query_index_batch.eager_jobs": "count",
    "operators.ann.ivf_query_index_batch.exec_s": "s",
    "operators.ann.ivf_query_index_batch.rows_read": "count",
    "operators.ann.ivf_query_index_batch.rows_read_ratio": "ratio",
    "operators.ann.ivf_query_index_batch.recall_at_10": "ratio",
    "sources.read_jsonl.s": "s",
    "database.make_records.s": "s",
    "database.make_records.eager_jobs": "count",
    "database.add_records.s": "s",
    "database.add_records.jobs": "count",
    "database.add_records.shuffle_mb": "MB",
    "functions.embedders.python_s": "s",
    "database.compact.s": "s",
    "database.compact.bytes_written_mb": "MB",
    "database.bytes_per_user_byte": "ratio",
    "operators.ann.ensure_ivf_index.s": "s",
    "operators.ann.ensure_ivf_index.jobs": "count",
    "operators.ann.ensure_ivf_index.index_mb": "MB",
    "database.get_record.ms": "ms",
    "database.get_record.jobs": "count",
    "functions.text.quality_filter.s": "s",
    "functions.text.quality_filter.python_s": "s",
    "operators.dedup.exact_dedup_keep.s": "s",
    "operators.dedup.exact_dedup_keep.shuffle_mb": "MB",
    "operators.dedup.minhash_dedup.s": "s",
    "operators.dedup.minhash_dedup.shuffle_mb": "MB",
    "operators.dedup.minhash_dedup.candidate_pairs": "count",
    "operators.dedup.minhash_dedup.verified_ratio": "ratio",
    "operators.dedup.connected_components.s": "s",
    "operators.dedup.connected_components.shuffle_mb": "MB",
    "operators.dedup.connected_components.jobs": "count",
    "session.gc_s": "s",
    "session.tasks": "count",
    "session.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Workload:
    """Shared closed-loop machinery: spans per op, checks, failure count."""

    name = ""
    # Untimed rounds before the timed loop. The first pays codegen and the
    # Python-worker start; a workload whose second round is still a third
    # slower than later ones (the JIT) warms up one round more.
    WARM_ROUNDS = 1

    def __init__(self, seed: int, scratch: str):
        self.seed = seed
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0

    # -- hooks --------------------------------------------------------------
    def generate(self, out_dir: str) -> dict:
        raise NotImplementedError

    def reference(self, inp: dict) -> None:
        raise NotImplementedError

    def prepare(self, spark, tracer: Tracer, inp: dict) -> None:
        self.spark, self.tracer, self.inp = spark, tracer, inp

    def round(self, n: int) -> None:
        raise NotImplementedError

    def end_to_end(self, rounds: list[Span]) -> dict[str, float]:
        raise NotImplementedError

    def layers(self, rounds: list[Span]) -> dict[str, float]:
        raise NotImplementedError

    # -- helpers ------------------------------------------------------------
    def attempt(self, what: str, fn) -> bool:
        """Run one operation plus its output check; count a failure on an
        exception or a check that returns False."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"[perfbench] {self.name}: {what} failed", file=sys.stderr)
        return bool(ok)

    def lazy_op(self, name: str, build) -> list:
        """Span ``name`` around one library call that returns a DataFrame
        (child ``build``) and the ``collect`` that executes it (child
        ``run``)."""
        t = self.tracer
        with t.span(name):
            with t.span("build"):
                df = build()
            with t.span("run") as rs:
                rows = df.collect()
            t.plan_phases(rs, df)
        return rows

    def ops(self, name: str, parents: list[Span]) -> list[Span]:
        ids = {p.id for p in parents}
        return [s for s in self.tracer.spans
                if s.name == name and s.parent in ids]

    def child(self, span: Span, name: str) -> Span:
        return next(s for s in self.tracer.spans
                    if s.parent == span.id and s.name == name)

    def total(self, span: Span, key: str) -> float:
        """A counter summed over a span and its descendants."""
        own = span.attrs.get(key, 0)
        own = len(own) if isinstance(own, list) else own
        return own + sum(self.total(c, key) for c in self.tracer.spans
                         if c.parent == span.id)

    def op_seconds(self, rnd: Span) -> float:
        """Time a round spent inside library calls, checks excluded."""
        return sum(s.seconds for s in self.tracer.spans if s.parent == rnd.id)

    def session_layers(self, rounds: list[Span]) -> dict[str, float]:
        return {"session.gc_s": _median(r.attrs.get("gc_s", 0.0) for r in rounds),
                "session.tasks": _median(self.total(r, "tasks") for r in rounds)}

    def call_layers(self, spans: list[Span], prefix: str, keys: dict[str, str],
                    scale: float = 1.0) -> dict[str, float]:
        """Medians over calls of one span name; ``keys`` maps a metric
        suffix to ``seconds`` (times ``scale``), ``mb`` (the span's own
        size attribute) or a counter summed over the span's subtree."""
        def value(s: Span, key: str) -> float:
            if key == "seconds":
                return s.seconds * scale
            if key == "mb":
                return s.attrs["mb"]
            v = self.total(s, key)
            return v / MB if key == "shuffle_bytes" else v
        return {f"{prefix}.{suffix}": _median(value(s, key) for s in spans)
                for suffix, key in keys.items()}

    def lazy_layers(self, name: str, rounds: list[Span], scale: float = 1.0
                    ) -> dict[str, float]:
        """Medians over ``lazy_op`` calls: build and execute time, plan
        phases, eager jobs, and the counters of both."""
        ops = self.ops(name, rounds)
        builds = [self.child(o, "build") for o in ops]
        runs = [self.child(o, "run") for o in ops]
        return {
            "build": _median(b.seconds * scale for b in builds),
            "exec": _median(r.seconds * scale for r in runs),
            "plan_ms": _median(sum(r.attrs.get("plan_ms", {}).values())
                               for r in runs),
            "eager_jobs": _median(len(b.attrs.get("jobs", [])) for b in builds),
            "jobs": _median(self.total(o, "jobs") for o in ops),
            "cpu": _median(self.total(o, "cpu_s") for o in ops),
            "python": _median(self.total(o, "python_s") for o in ops),
            "shuffle_mb": _median(self.total(o, "shuffle_bytes") / MB for o in ops),
            "rows_read": _median(self.total(o, "rows_read") for o in ops),
        }


def topk_matches(got: list[tuple[str, float]], want: list[tuple[str, float]],
                 exact: dict[str, float], tol: float = 1e-9) -> bool:
    """``got`` is a correct top-k: every score is the id's exact cosine,
    the sorted scores equal the reference's, and the ids equal the
    reference's except among those tied with the k-th score."""
    if len(got) != len(want) or len({i for i, _ in got}) != len(got):
        return False
    if any(abs(exact[i] - s) > tol for i, s in got):
        return False
    g = sorted((s for _, s in got), reverse=True)
    if any(abs(a - b) > tol for a, b in zip(g, (s for _, s in want))):
        return False
    kth = want[-1][1]
    return ({i for i, s in got if s > kth + tol}
            == {i for i, s in want if s > kth + tol})


# -- retrieve -------------------------------------------------------------------

BLOBS_DDL = "id string, blob string"
FOREIGN_DDL = "id string, embedder_id string, blob string, embedding array<double>"


class Retrieve(Workload):
    """Read path over a clustered collection: per round, single exact
    queries, ``get_record`` lookups, one exact batch and one IVF batch
    probe. Set-up ingests the collection and a text collection with
    planted violations through the write path."""

    name = "retrieve"
    WARM_ROUNDS = 2
    N, DIM, CLUSTERS, M, K = 10_000, 64, 12, 32, 10
    CENTROIDS, NPROBE, SINGLES, LOOKUPS = 12, 2, 4, 2
    DOC_BATCHES, DOC_BATCH = 2, 800
    DUP_IN, DUP_ACROSS, MISMATCHED, NULLS = 40, 40, 30, 30

    def generate(self, out_dir):
        vectors = inputs.clustered_vectors(
            self.seed, os.path.join(out_dir, "vectors"), self.N, self.DIM,
            self.CLUSTERS, self.M)
        docs = inputs.ingest_batches(
            self.seed, os.path.join(out_dir, "docs"), self.DOC_BATCHES,
            self.DOC_BATCH, self.DUP_IN, self.DUP_ACROSS, self.MISMATCHED,
            self.NULLS)
        return {"vectors": vectors, "docs": docs,
                "input_bytes": dir_bytes(out_dir)}

    def reference(self, inp):
        vec = inp["vectors"]
        self.want = inputs.exact_topk(vec["vecs"], vec["ids"],
                                      vec["query_vecs"], self.K)
        self.xn = vec["vecs"] / np.linalg.norm(vec["vecs"], axis=1,
                                               keepdims=True)
        self.row = {i: n for n, i in enumerate(vec["ids"])}
        self.qvecs = [[float(x) for x in q] for q in vec["query_vecs"]]
        self.recall: list[float] = []
        docs = inp["docs"]
        rng = np.random.default_rng([self.seed, 4])
        picks = rng.choice(len(docs["unique_ids"]), 16, replace=False)
        embed = get_embedder(inputs.EMBEDDER).embed_one
        self.lookups = []
        for j in picks:
            rid = docs["unique_ids"][j]
            blob = docs["inserted"][rid]
            self.lookups.append((rid, blob, embed(blob)))
        self.next_q = self.next_lookup = 0

    # -- set-up: the write path ---------------------------------------------
    def add_batch(self, batch) -> bool:
        t = self.tracer
        with t.span("sources.read_jsonl"):
            blobs = read_jsonl(self.spark, batch["blobs"], BLOBS_DDL,
                               strict=True)
            foreign = read_jsonl(self.spark, batch["foreign"], FOREIGN_DDL,
                                 strict=True)
        with t.span("database.make_records"):
            recs = self.db.make_records(blobs, inputs.EMBEDDER)
        with t.span("database.add_records") as s:
            violations = self.db.add_records(
                "docs", recs.unionByName(foreign), on_violation="skip")
            counts = dict(violations.groupBy("violation").count().collect())
        s.attrs["collection"] = "docs"
        return counts == batch["violations"]

    def index_matches(self) -> bool:
        """The index holds exactly the collection's rows: one job counting
        distinct rows and rows not on both sides."""
        cols = ["id", "embedder_id", "blob", "embedding"]
        recs = self.db.records_df("vectors").select(*cols, F.lit(1).alias("side"))
        cells = (self.spark.read.parquet(f"{self.ivf_path}/cells")
                 .select(*cols, F.lit(-1).alias("side")))
        c = (recs.unionByName(cells).groupBy(*cols)
             .agg(F.sum("side").alias("d"))
             .agg(F.count("*").alias("n"),
                  F.count_if(F.col("d") != 0).alias("unmatched"))
             .collect()[0])
        return c.n == self.N and c.unmatched == 0

    def prepare(self, spark, tracer, inp):
        super().prepare(spark, tracer, inp)
        self.db = SparkEmbeddingDatabase(spark)
        self.db.add_collection("docs", inputs.EMBEDDER)
        self.db.add_collection("vectors", inputs.EMBEDDER)
        db_path = os.path.join(self.scratch, "db")
        self.ivf_path = os.path.join(self.scratch, "ivf")
        with tracer.span("ingest") as self.ingest:
            for batch in inp["docs"]["batches"]:
                self.attempt("add_records", lambda: self.add_batch(batch))
            with tracer.span("database.add_records") as s:
                self.db.add_records(
                    "vectors", spark.read.parquet(inp["vectors"]["records"]),
                    on_violation="skip")
            s.attrs["collection"] = "vectors"
            with tracer.span("database.compact") as s:
                self.db.compact(db_path)
            s.attrs["mb"] = dir_bytes(db_path) / MB
            with tracer.span("operators.ann.ensure_ivf_index") as s:
                ensure_ivf_index(spark,
                                 f"{db_path}/records/collection_id=vectors",
                                 self.ivf_path, n_centroids=self.CENTROIDS,
                                 id_col="id")
            s.attrs["mb"] = dir_bytes(self.ivf_path) / MB
        self.attempt("index", self.index_matches)
        self.queries = spark.read.parquet(inp["vectors"]["queries"])

    # -- rounds -------------------------------------------------------------
    def exact_scores(self, q: int, ids) -> dict[str, float]:
        qv = np.asarray(self.qvecs[q])
        qv = qv / np.linalg.norm(qv)
        return {i: float(self.xn[self.row[i]] @ qv) for i in ids}

    def check(self, q: int, got: list[tuple[str, float]]) -> bool:
        return topk_matches(got, self.want[q],
                            self.exact_scores(q, [i for i, _ in got]))

    def single(self) -> bool:
        q = self.next_q % self.M
        self.next_q += 1
        rows = self.lazy_op(
            "database.query_vector",
            lambda: self.db.query_vector("vectors", self.qvecs[q], self.K,
                                         with_scores=True)
            .select("id", "_score"))
        return self.check(q, [(r.id, r._score) for r in rows])

    def lookup(self) -> bool:
        rid, blob, emb = self.lookups[self.next_lookup % len(self.lookups)]
        self.next_lookup += 1
        with self.tracer.span("database.get_record"):
            row = self.db.get_record("docs", rid)
        return (row.blob == blob and len(row.embedding) == len(emb)
                and all(abs(a - b) <= 1e-12 for a, b in zip(row.embedding, emb)))

    def by_query(self, rows) -> dict[int, list[tuple[str, float]]]:
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.id, r.score))
        return out

    def batch(self) -> bool:
        rows = self.lazy_op(
            "operators.topk.batch_topk",
            lambda: batch_topk(self.db.records_df("vectors"), self.queries,
                               self.K, records_id="id")
            .select("query_id", "id", "score"))
        got = self.by_query(rows)
        return (sorted(got) == list(range(self.M))
                and all(self.check(q, got[q]) for q in got))

    def ann(self) -> bool:
        rows = self.lazy_op(
            "operators.ann.ivf_query_index_batch",
            lambda: ivf_query_index_batch(self.spark, self.ivf_path,
                                          self.queries, self.K,
                                          nprobe=self.NPROBE, id_col="id")
            .select("query_id", "id", "score"))
        got = self.by_query(rows)
        ok = sorted(got) == list(range(self.M))
        for q, hits in got.items():
            exact = self.exact_scores(q, [i for i, _ in hits])
            ok = ok and (len(hits) == self.K
                         and len({i for i, _ in hits}) == self.K
                         and all(abs(exact[i] - s) <= 1e-9 for i, s in hits))
            want = {i for i, _ in self.want[q]}
            self.recall.append(len(want & {i for i, _ in hits}) / self.K)
        return ok

    def round(self, n):
        for _ in range(self.SINGLES):
            self.attempt("query_vector", self.single)
        for _ in range(self.LOOKUPS):
            self.attempt("get_record", self.lookup)
        self.attempt("batch_topk", self.batch)
        self.attempt("ivf_query_index_batch", self.ann)

    def end_to_end(self, rounds):
        def per_call(name):
            return [s.seconds for s in self.ops(name, rounds)]
        return {
            "latency_p50_ms": 1000 * _median(per_call("database.query_vector")),
            "throughput_per_s":
                self.M / _median(per_call("operators.topk.batch_topk")),
            "approx_per_s":
                self.M / _median(per_call("operators.ann.ivf_query_index_batch")),
        }

    def layers(self, rounds):
        out = self.session_layers(rounds)
        qv = self.lazy_layers("database.query_vector", rounds, 1000.0)
        out.update({
            "database.query_vector.build_ms": qv["build"],
            "database.query_vector.plan_ms": qv["plan_ms"],
            "database.query_vector.exec_ms": qv["exec"],
            "database.query_vector.jobs": qv["jobs"],
        })
        p = "operators.topk.batch_topk"
        bt = self.lazy_layers(p, rounds)
        out.update({f"{p}.build_s": bt["build"], f"{p}.exec_s": bt["exec"],
                    f"{p}.eager_jobs": bt["eager_jobs"],
                    f"{p}.task_cpu_s": bt["cpu"], f"{p}.python_s": bt["python"],
                    f"{p}.shuffle_mb": bt["shuffle_mb"],
                    f"{p}.rows_read": bt["rows_read"]})
        p = "operators.ann.ivf_query_index_batch"
        iv = self.lazy_layers(p, rounds)
        out.update({f"{p}.build_s": iv["build"], f"{p}.exec_s": iv["exec"],
                    f"{p}.eager_jobs": iv["eager_jobs"],
                    f"{p}.rows_read": iv["rows_read"],
                    f"{p}.rows_read_ratio": iv["rows_read"] / self.N,
                    f"{p}.recall_at_10": statistics.fmean(self.recall)})
        out.update(self.call_layers(self.ops("database.get_record", rounds),
                                    "database.get_record",
                                    {"ms": "seconds", "jobs": "jobs"}, 1000.0))

        # The write path, from the set-up spans.
        ingest = [self.ingest]
        adds = [s for s in self.ops("database.add_records", ingest)
                if s.attrs["collection"] == "docs"]
        compact = self.ops("database.compact", ingest)
        index = self.ops("operators.ann.ensure_ivf_index", ingest)
        out.update(self.call_layers(self.ops("sources.read_jsonl", ingest),
                                    "sources.read_jsonl", {"s": "seconds"}))
        out.update(self.call_layers(self.ops("database.make_records", ingest),
                                    "database.make_records",
                                    {"s": "seconds", "eager_jobs": "jobs"}))
        out.update(self.call_layers(adds, "database.add_records",
                                    {"s": "seconds", "jobs": "jobs",
                                     "shuffle_mb": "shuffle_bytes"}))
        out.update(self.call_layers(compact, "database.compact",
                                    {"s": "seconds", "bytes_written_mb": "mb"}))
        out.update(self.call_layers(index, "operators.ann.ensure_ivf_index",
                                    {"s": "seconds", "jobs": "jobs",
                                     "index_mb": "mb"}))
        # The embedder is the only Python UDF of the docs ingest, and runs
        # inside the violation counts of add_records.
        out["functions.embedders.python_s"] = sum(
            self.total(s, "python_s") for s in adds)
        out["database.bytes_per_user_byte"] = (
            (compact[0].attrs["mb"] + index[0].attrs["mb"]) * MB
            / self.inp["input_bytes"])
        return out


# -- corpus_clean ------------------------------------------------------------------

class CorpusClean(Workload):
    """LLM-corpus cleaning as staged parquet-to-parquet jobs: quality
    filter, exact dedup, MinHash near-dup pairs, connected components."""

    name = "corpus_clean"
    DOCS, VOCAB = 3000, 5000
    EXACT, NEAR, LOW = 150, 150, 150
    MIN_QUALITY, JACCARD = 0.5, 0.7
    STAGES = ("functions.text.quality_filter",
              "operators.dedup.exact_dedup_keep",
              "operators.dedup.minhash_dedup",
              "operators.dedup.connected_components")

    def generate(self, out_dir):
        return inputs.zipf_corpus(self.seed, out_dir, self.DOCS, self.VOCAB,
                                  self.EXACT, self.NEAR, self.LOW)

    def reference(self, inp):
        self.shingles = {d: set(shingles_py(t)) for d, t in inp["texts"].items()}
        self.candidates: list[int] = []
        self.verified: list[int] = []

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles[a], self.shingles[b]
        return len(sa & sb) / len(sa | sb) if sa or sb else 0.0

    def clean(self, rd: str) -> bool:
        t, read = self.tracer, self.spark.read.parquet
        p = [f"{rd}/stage{i}" for i in range(1, 5)]
        with t.span(self.STAGES[0]):
            docs = read(self.inp["corpus"])
            docs.filter(quality_score(F.col("text")) >= self.MIN_QUALITY) \
                .write.parquet(p[0])
        with t.span(self.STAGES[1]):
            exact_dedup_keep(read(p[0])).write.parquet(p[1])
        with t.span(self.STAGES[2]):
            minhash_dedup(read(p[1]), threshold=self.JACCARD).write.parquet(p[2])
        with t.span(self.STAGES[3]):
            comps = connected_components(read(p[2]))
            dropped = (comps.filter(F.col("node") != F.col("comp"))
                       .select(F.col("node").alias("doc_id")))
            read(p[1]).join(dropped, "doc_id", "left_anti").write.parquet(p[3])

        kept = read(p[3]).collect()
        texts = [r.text for r in kept]
        pairs = read(p[2]).collect()
        if t.traced:
            self.candidates.append(minhash_candidate_pairs(read(p[1])).count())
            self.verified.append(len(pairs))
        return (len(set(texts)) == len(texts)
                and not self.inp["low_quality"] & {r.doc_id for r in kept}
                and all(self.jaccard(r.id_a, r.id_b) >= self.JACCARD - 1e-12
                        and math.isclose(r.jaccard, self.jaccard(r.id_a, r.id_b),
                                         abs_tol=1e-12)
                        for r in pairs))

    def round(self, n):
        rd = os.path.join(self.scratch, f"round{n}")
        self.attempt("clean", lambda: self.clean(rd))
        shutil.rmtree(rd, ignore_errors=True)

    def end_to_end(self, rounds):
        passes = [self.op_seconds(r) for r in rounds]
        minhash = [s.seconds for s in self.ops(self.STAGES[2], rounds)]
        return {
            "latency_p50_ms": 1000 * _median(passes),
            "throughput_per_s": self.DOCS / _median(passes),
            "approx_per_s": self.DOCS / _median(minhash),
        }

    def layers(self, rounds):
        out = self.session_layers(rounds)
        for stage in self.STAGES:
            out.update(self.call_layers(
                self.ops(stage, rounds), stage,
                {"s": "seconds", "shuffle_mb": "shuffle_bytes",
                 "python_s": "python_s", "jobs": "jobs"}))
        out["operators.dedup.minhash_dedup.candidate_pairs"] = _median(self.candidates)
        out["operators.dedup.minhash_dedup.verified_ratio"] = (
            sum(self.verified) / max(1, sum(self.candidates)))
        return {k: v for k, v in out.items() if k in LAYER_METRICS}


WORKLOADS = {w.name: w for w in (Retrieve, CorpusClean)}
