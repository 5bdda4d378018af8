"""Top-k operator semantics + physical-plan contract (SURVEY §2.3)."""

import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.operators.topk import (
    batch_topk,
    similarity_join,
    topk_by_similarity,
)
from go_simple_embedding_database_spark.plans.explain_utils import formatted_plan


def test_topk_self_match_first(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    out = topk_by_similarity(embeddings, list(q), 5, score_col="sim",
                             tie_break=["vec_id"]).collect()
    assert out[0].vec_id == 0
    assert out[0].sim == pytest.approx(1.0)
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_topk_small_input_returns_all(spark, embeddings):
    small = embeddings.filter(F.col("vec_id") < 3)
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    assert topk_by_similarity(small, list(q), 10).count() == 3


def test_topk_plans_take_ordered(spark, embeddings):
    """The 100 TB contract: top-k must compile to TakeOrderedAndProject
    (per-partition heaps), NOT a global Sort."""
    q = embeddings.limit(1).collect()[0].embedding
    df = topk_by_similarity(embeddings, list(q), 5)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_batch_topk_exact_k_per_query(spark, embeddings):
    queries = (embeddings.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding")))
    out = batch_topk(embeddings, queries, 4, tie_break=["vec_id"],
                     records_id="vec_id")
    counts = {r.query_id: r.n for r in
              out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 4, 1: 4, 2: 4}
    # self-match ranks first for each query
    firsts = out.filter(F.col("vec_id") == F.col("query_id"))
    assert firsts.count() == 3


def test_batch_topk_plans_no_cross_join(spark, embeddings):
    """The query batch rides in the scorer's closure: the records table
    is never cross-joined with the queries."""
    queries = (embeddings.limit(3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding")))
    plan = formatted_plan(batch_topk(embeddings, queries, 2,
                                     records_id="vec_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similarity_join_threshold_and_k(spark, embeddings):
    left = embeddings.filter(F.col("vec_id") < 5)
    out = similarity_join(left, embeddings, k=3, left_id="vec_id", right_id="vec_id")
    assert out.groupBy("left_id").count().filter("count != 3").count() == 0
    # self-pair present with sim ~1
    selfs = out.filter(F.col("left_id") == F.col("right_id"))
    assert selfs.count() == 5


def test_similarity_join_threshold_only(spark, embeddings):
    left = embeddings.filter(F.col("vec_id") < 5)
    out = similarity_join(left, embeddings, threshold=0.999999,
                          left_id="vec_id", right_id="vec_id")
    # at minimum the self-pairs survive a ~1.0 threshold
    assert out.filter(F.col("left_id") == F.col("right_id")).count() == 5


def _ranked_winners(rows, k):
    """Top-k (query_id, vec_id, score) per query from scored
    (query_id, vec_id, score) rows, sorted in Python by Spark's
    ``desc(score), asc(vec_id)`` order: NaN ranks above every number and
    NULL scores rank last."""
    import math

    def key(r):
        s = r[2]
        if s is None:
            return (2, 0.0, r[1])
        if math.isnan(s):
            return (0, 0.0, r[1])
        return (1, -s, r[1])

    by_q: dict = {}
    for r in sorted(rows, key=key):
        by_q.setdefault(r[0], []).append(r)
    return sorted(r for rs in by_q.values() for r in rs[:k])


def test_batch_topk_record_scorer_bitwise_parity(spark, embeddings):
    """The record-form scorer (the only batch_topk scorer once
    ``records_id`` is set): the slim scored relation is bit-identical to
    an independent reference — the cross join scored by
    ``cosine_pairs_kernel`` — over EVERY (record, query) pair, including
    NULL vectors, NULL elements on either side (NaN per the kernel
    contract), length mismatches and zero norms. End-to-end winners
    match that reference ranked in Python by (score desc, vec_id), and
    the plan scores via MapInPandas."""
    import struct

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel)
    from go_simple_embedding_database_spark.operators.topk import (
        _record_form_scores)

    base = embeddings.select("vec_id", F.col("embedding")
                             .cast("array<double>").alias("embedding"))
    weird = spark.createDataFrame(
        [(90001, None), (90002, [1.0, None, 2.0]),
         (90003, [0.0, 0.0, 0.0]), (90004, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    records = base.unionByName(weird)
    queries = (base.filter(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding"))
               .unionByName(spark.createDataFrame(
                   [(80001, None), (80002, [1.0, 0.0]),
                    (80003, [1.0, None])],
                   "query_id long, query_embedding array<double>")))

    def b(x):
        return None if x is None else struct.pack("<d", x)

    ref_rows = [tuple(r) for r in
                records.crossJoin(F.broadcast(queries)).select(
                    "query_id", "vec_id",
                    cosine_pairs_kernel(F.col("embedding"),
                                        F.col("query_embedding"))
                    .alias("s")).collect()]
    ref = {(q, v): b(s) for q, v, s in ref_rows}
    rec_slim = _record_form_scores(
        records, queries, "embedding", "query_embedding", "query_id",
        "vec_id", "s", [])
    rec = {(r.query_id, r.vec_id): b(r.s) for r in rec_slim.collect()}
    assert rec == ref and len(rec) == records.count() * queries.count()

    rdf = batch_topk(records, queries, 3, score_col="sim",
                     tie_break=["vec_id"], records_id="vec_id")
    assert "MapInPandas" in formatted_plan(rdf)
    got = sorted(map(tuple, rdf.select("query_id", "vec_id", "sim")
                     .collect()))
    want = _ranked_winners(ref_rows, 3)
    assert [(q, v, b(s)) for q, v, s in got] == \
           [(q, v, b(s)) for q, v, s in want]


def test_batch_topk_query_side_tie_columns(spark, embeddings):
    """Tie columns that live on the QUERY side ride along with the
    record-form scorer: the query's columns are joined onto the scored
    relation, the winners match a Python ``cosine_py`` ranking by
    (score desc, vec_id), and both the slim and the payload outputs
    carry the query-side column."""
    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_py)

    recs = [(r.vec_id, [float(v) for v in r.embedding])
            for r in embeddings.filter(F.col("vec_id") < 40).collect()]
    # duplicated vectors under new ids force exact score ties
    recs += [(1000 + vid, vec) for vid, vec in recs[:5]]
    records = spark.createDataFrame(recs,
                                    "vec_id long, embedding array<double>")
    qs = [(7, 70, recs[0][1]), (8, 80, recs[3][1])]
    queries = spark.createDataFrame(
        qs, "query_id long, q_rank long, query_embedding array<double>")
    want = _ranked_winners(
        [(qid, vid, cosine_py(vec, qv)) for qid, _, qv in qs
         for vid, vec in recs], 4)

    slim = batch_topk(records, queries, 4, score_col="sim",
                      tie_break=["q_rank", "vec_id"], records_id="vec_id",
                      attach_payload=False)
    got = sorted((r.query_id, r.vec_id, r.sim, r.q_rank)
                 for r in slim.collect())
    assert got == [(q, v, s, 10 * q) for q, v, s in want]

    full = batch_topk(records, queries, 4, score_col="sim",
                      tie_break=["q_rank", "vec_id"], records_id="vec_id")
    got = sorted((r.query_id, r.vec_id, r.sim, r.q_rank)
                 for r in full.collect())
    assert got == [(q, v, s, 10 * q) for q, v, s in want]
