"""Top-k similarity operators.

The reference's one real dataflow operator: brute-force cosine scan + full
sort + tie-aware k-selection (/root/reference/collection/collection.go:64-151).
Spark-first physical strategy:

- **single query** → ``orderBy(desc).limit(k)``: Catalyst plans
  ``TakeOrderedAndProject`` — a size-k heap per partition, then a k-way
  driver merge. O(N) work, O(partitions·k) merge, NO global sort and NO
  shuffle of all rows. This scales linearly with executors; the reference
  does an O(N log N) single-threaded sort (collection.go:98-103).
- **batch of queries** → the (small) query set is collected into a
  ``mapInPandas`` closure, one scan of the big table scores every
  record against all queries at once (``kernels.cosine_block``), and
  ``bucketed_topk``'s two-stage window keeps k per query. One pass over
  the data regardless of the number of queries — the scan cost is
  amortized across the batch.
- **all-pairs similarity join** → the left side is broadcast into a
  cross join with the right; the LSH/IVF variants in ``operators.ann``
  cut the candidate set at scale.

Tie semantics: ``limit``/``row_number`` keep an arbitrary subset of rows
tied at the k-th score — exactly k rows out, matching the reference's
Go-map-order tie fill (collection.go:105-135). Pass ``tie_break`` columns
for deterministic results (used by the DuckDB-oracle tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.functions.kernels import (
    cosine_block, cosine_pairs_kernel, cosine_scores_kernel)


def _record_form_scores(records, queries, records_vec: str,
                        queries_vec: str, query_id: str, records_id: str,
                        score_col: str, tie_cols: list[str]):
    """(query_id, records_id, score, *tie_cols) for EVERY (record, query)
    pair — the slim scored relation of batch_topk. The query batch is
    collected into the mapInPandas closure and each record row enters
    the Python worker once; ``kernels.cosine_block`` scores it against
    all M queries with the exact per-pair semantics of
    ``cosine_pairs_kernel`` (Arrow renders a record-side NULL element
    NaN before the fold, and the block maps a query-side one to NaN)."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id, queries_vec).collect()
    qids = [r[0] for r in q_rows]
    qvecs = [r[1] for r in q_rows]
    m = len(qids)
    in_cols = list(dict.fromkeys([records_id, records_vec] + tie_cols))
    keep_cols = [c for c in in_cols if c != records_vec]

    def score_batches(batches):
        for pdf in batches:
            n = len(pdf)
            vals, mask = cosine_block(pdf[records_vec].to_numpy(), qvecs)
            rep = np.repeat(np.arange(n), m)
            out = pdf[keep_cols].iloc[rep].reset_index(drop=True)
            out[query_id] = pd.Series(qids * n, dtype=object) \
                if not isinstance(qids[0] if qids else 0, (int, float)) \
                else np.tile(np.asarray(qids), n)
            # FloatingArray(values, mask): stored NaN stays NaN, only
            # masked entries are SQL NULL (the kernels-module rule)
            out[score_col] = pd.Series(
                pd.arrays.FloatingArray(vals.reshape(-1), mask.reshape(-1)))
            yield out[[query_id, *keep_cols, score_col]]

    qf = queries.schema[query_id]
    fields = [f"`{query_id}` {qf.dataType.simpleString()}"]
    for c in keep_cols:
        fields.append(
            f"`{c}` {records.schema[c].dataType.simpleString()}")
    fields.append(f"`{score_col}` double")
    return (records.select(*in_cols)
            .mapInPandas(score_batches, ", ".join(fields)))


def bucketed_topk(scored: DataFrame, group_cols: list[str],
                  order: list[Column], k: int, bucket_key: str) -> DataFrame:
    """Exact per-group top-k as a TWO-stage bucketed window — THE shared
    primitive under ``batch_topk``, ``similarity_join``, the ANN batch
    probe and ``sampling.weighted_sample``. Stage 1 partitions by
    (group, bucket) so one group's candidate rows never funnel through a
    single task (a plain ``partitionBy(group)`` window is the canonical
    straggler/OOM at the 100 TB design point — AQE cannot split a window
    partition); stage 2 re-ranks the surviving ``buckets × k`` rows per
    group. There is one bucket per default-parallelism slot. Global
    top-k ⊆ union of per-bucket top-k, and callers pass a TOTAL
    ``order`` (score desc + unique tie-break asc), so the result is
    identical to the single-window formulation.

    ``bucket_key`` is a unique-ish column hashed (crc32) into the stage-1
    bucket — deterministic, so reruns bucket identically."""
    nb = scored.sparkSession.sparkContext.defaultParallelism
    w1 = Window.partitionBy(*group_cols, "_b").orderBy(*order)
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        scored.withColumn("_b", F.crc32(F.col(bucket_key).cast("string")) % nb)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k).drop("_rn", "_b")
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def topk_by_similarity(
    records: DataFrame,
    qvec: list[float],
    k: int,
    vec_col: str = "embedding",
    score_col: str = "score",
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Exactly-k nearest rows to ``qvec`` by cosine similarity.

    Small-collection short-circuit (collection.go:75-82) is free: ``limit``
    on fewer than k rows returns them all, no error, no similarity needed
    by the optimizer to satisfy the contract (scores still projected for
    the returned rows).
    """
    scored = records.withColumn(
        score_col, cosine_scores_kernel(F.col(vec_col), qvec)
    )
    order = [F.desc(score_col)] + [F.asc(c) for c in (tie_break or [])]
    return scored.orderBy(*order).limit(k)


def batch_topk(
    records: DataFrame,
    queries: DataFrame,
    k: int,
    records_id: str,
    records_vec: str = "embedding",
    queries_vec: str = "query_embedding",
    query_id: str = "query_id",
    score_col: str = "score",
    tie_break: list[str] | None = None,
    attach_payload: bool = True,
) -> DataFrame:
    """Top-k per query for a whole DataFrame of queries in ONE scan.

    ``records_id`` is a unique record key. The query side is small by
    construction (the working set of a request batch): it is collected
    into a mapInPandas closure and each record VECTOR enters the scoring
    stage exactly once for all M queries (``_record_form_scores``); tie
    columns that live on the query side are broadcast-joined onto the
    scored relation by ``query_id``. The big records table is scanned
    once and never cross-joined.

    The per-query selection is ``bucketed_topk``'s TWO-stage window:
    stage 1 partitions by (query, bucket) so a query's N scored rows
    never funnel through one task (an OOM/straggler at the 100 TB design
    point; AQE cannot split a window partition), stage 2 re-ranks the
    surviving ``buckets × k`` rows per query. ``row_number`` (not
    ``rank``) reproduces exactly-k-with-arbitrary-ties.

    The shuffle carries only (query_id, records_id, score, tie columns);
    the record payload (embedding included) is re-attached afterwards by
    broadcasting the k×|queries| winners against the records table, so
    the wide columns are never shuffled at all.

    ``attach_payload=False`` skips that re-attach join and returns the
    slim winners (query_id, records_id, score, tie columns) directly —
    for callers that only consume ids/scores (recall evaluation), the
    payload join is a whole extra corpus scan Catalyst cannot prune away
    (an inner join is not removable even when its columns go unused).
    """
    order = [F.desc(score_col)] + [F.asc(c) for c in (tie_break or [])]
    tie_cols = tie_break or []
    record_ties = [c for c in tie_cols if c in records.columns]
    query_ties = [c for c in tie_cols
                  if c not in records.columns and c != query_id]
    slim = _record_form_scores(records, queries, records_vec, queries_vec,
                               query_id, records_id, score_col, record_ties)
    if query_ties:
        slim = slim.join(F.broadcast(queries.select(query_id, *query_ties)),
                         query_id)
    winners = bucketed_topk(slim, [query_id], order, k, records_id)
    if not attach_payload:
        return winners
    out = records.join(
        F.broadcast(winners.select(*dict.fromkeys([records_id, query_id, score_col]))),
        records_id)
    qattrs = queries.drop(queries_vec)
    if len(qattrs.columns) > 1:
        out = out.join(F.broadcast(qattrs), query_id)
    return out


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    k: int | None = None,
    threshold: float | None = None,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "id",
    right_id: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """All-pairs cosine join: for each left row, its matches on the right.

    - ``threshold`` keeps pairs with score >= threshold (near-duplicate
      detection shape);
    - ``k`` keeps the top-k right rows per left row (k-NN join shape);
    - both → threshold first, then top-k.

    Exact O(|L|·|R|) — correct at any scale but quadratic; this is the
    correctness oracle. The scale path is ``operators.ann`` (LSH bucketing
    / IVF cells) which feeds candidate pairs into the same scoring.

    The k-NN join shape is "few queries (left) × huge corpus (right)", so
    the LEFT side is broadcast: the corpus is scanned in place, never
    shuffled and never collected to the driver (a broadcast of the big
    side is the 100 TB OOM).

    The per-left top-k is ``bucketed_topk``'s two-stage window with the
    total order (score desc, right_id asc), so the result is identical
    to the single-window formulation.
    """
    lv, rv = F.col("_l." + left_vec), F.col("_r." + right_vec)
    pairs = right.alias("_r").crossJoin(F.broadcast(left.alias("_l")))
    scored = pairs.select(
        F.col("_l." + left_id).alias("left_id"),
        F.col("_r." + right_id).alias("right_id"),
        cosine_pairs_kernel(lv, rv).alias(score_col),
    )
    if threshold is not None:
        scored = scored.filter(F.col(score_col) >= threshold)
    if k is not None:
        scored = bucketed_topk(
            scored, ["left_id"], [F.desc(score_col), F.asc("right_id")], k,
            "right_id")
    return scored
