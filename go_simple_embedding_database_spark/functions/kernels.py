"""Vector kernels: Catalyst higher-order-function expressions, one numpy
block scorer, and a pure-Python reference.

Reference parity: ``CosineSimilarity`` (/root/reference/utils/utils.go:9-24):
  cos(x,y) = Σ xᵢyᵢ / (‖x‖·‖y‖)
  - length mismatch  → error      (utils/utils.go:11-13)
  - either norm == 0 → 0.0, NO error (utils/utils.go:19-21)

One evaluator per operation:

- ``cosine_similarity`` — the pure-Catalyst HOF expression (``zip_with``
  + ``aggregate``). No Python boundary; the general-purpose kernel and
  the one the SQL registry mirrors. Catalyst higher-order functions are
  CodegenFallback — each row evaluates the lambda tree interpreted,
  measured ~15 µs/row for dim=64 (round-10 optimization pass).
- ``cosine_pairs_kernel`` / ``cosine_scores_kernel`` — the bulk scoring
  forms (operators.topk, operators.ann): ``cosine_similarity`` plus the
  NULL-element convention below.
- ``cosine_block`` — the numpy batch scorer: N record vectors against M
  query vectors with the kernel's exact per-pair op sequence. It runs
  inside ``batch_topk``'s record-form ``mapInPandas`` and on the driver
  where ``ivf_query_index_batch`` ranks centroids against a query batch.
- ``cosine_py`` — the bit-exact pure-Python reference the tests compare
  every other evaluator against; no package code calls it.

NULL-element convention: a NULL *element* inside an otherwise
well-formed vector scores **NaN** (the fold alone would give NULL). The
record-form ``batch_topk`` scorer ships vectors over Arrow, which renders
a null list element as NaN; ``_null_element_to_nan`` gives the HOF
kernels the same value, so every scoring path agrees. NULL *vectors* and
length mismatches stay NULL (a mismatch with a zero-norm side is 0.0:
the den == 0.0 branch fires before the dot). Pinned by
tests/test_kernels.py::test_null_element_vectors_score_nan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    """Promote array<float>/array<int> to array<double> so arithmetic is f64
    (reference vectors are []float64, records/records.go:12)."""
    return v.cast("array<double>")


def dot_product(x: Column, y: Column) -> Column:
    """Σ xᵢyᵢ as a sequential left fold (deterministic order, matching a
    scalar loop — utils/utils.go:14-18)."""
    x, y = _as_double(x), _as_double(y)
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_sq(x: Column) -> Column:
    """Σ xᵢ² (the un-rooted norm; kept separate so cosine can take one sqrt
    per side like the reference does, utils/utils.go:22-23)."""
    x = _as_double(x)
    return F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v)


def l2_norm(x: Column) -> Column:
    return F.sqrt(l2_norm_sq(x))


def cosine_similarity(x: Column, y: Column, *, strict: bool = False) -> Column:
    """Cosine similarity column expression with reference semantics.

    ``strict=True`` raises at evaluation time on length mismatch (parity
    with utils/utils.go:11-13). With ``strict=False`` (the vectorized
    default for homogeneous columns) mismatched lengths yield NULL —
    ``zip_with`` pads with nulls, which poison the fold — so mismatches
    are visible, not silently wrong.

    Zero-norm vectors return 0.0 with no error (utils/utils.go:19-21).
    NULL inputs propagate NULL (SQL semantics; insertion of null embeddings
    is rejected upstream, collection/collection.go:40-42).
    """
    x, y = _as_double(x), _as_double(y)
    # Let-bind (dot, denom) through a one-element transform: referencing
    # `denom` in both the WHEN condition and the ELSE branch would fold
    # both norm aggregates twice per row (Catalyst does not CSE across
    # conditional branches) — 2× the kernel cost on a full scan.
    pair = F.array(F.struct(
        dot_product(x, y).alias("dot"),
        (l2_norm(x) * l2_norm(y)).alias("den"),
    ))
    sim = F.element_at(
        F.transform(pair, lambda s: F.when(s["den"] == F.lit(0.0), F.lit(0.0))
                    .otherwise(s["dot"] / s["den"])), 1)
    if strict:
        mismatch = F.size(x) != F.size(y)
        sim = F.when(
            mismatch,
            F.raise_error(
                F.format_string(
                    "lengths of x (%d) and y (%d) do not match",
                    F.size(x),
                    F.size(y),
                )
            ).cast("double"),
        ).otherwise(sim)
    return sim


def _fold_norm_block(X: "np.ndarray") -> "np.ndarray":
    """sqrt(Σ x²) per row with the kernel's left-fold association order."""
    acc = np.zeros(X.shape[0])
    for d in range(X.shape[1]):
        xd = X[:, d]
        acc = acc + xd * xd
    return np.sqrt(acc)


def cosine_block(xs, qs) -> tuple["np.ndarray", "np.ndarray"]:
    """Score every (record, query) pair: ``xs`` holds N record vectors,
    ``qs`` M query vectors; each vector is a sequence of numbers or
    None. Returns ``(vals, mask)``, both N × M: ``mask`` marks SQL NULL
    scores, and ``vals`` holds every other score, NaN included.

    Same result as ``cosine_pairs_kernel`` on every pair, bit for bit.
    Records are grouped by length and each group is scored as one
    block: a strict left fold per dimension, vectorized across the
    group's rows (numpy's pairwise-summation ``dot`` would round
    differently). Record-side norms are folded once per record, which
    gives the same bits as the per-pair fold. The rules, per pair:
    NULL element → NaN (it enters the fold as NaN); NULL vector on
    either side → NULL; length mismatch → 0.0 when a norm is zero (the
    den == 0.0 branch fires before the dot), else NULL; zero norm →
    0.0."""
    n, m = len(xs), len(qs)
    vals = np.zeros((n, m), dtype=np.float64)
    mask = np.zeros((n, m), dtype=bool)
    qv = [None if q is None else np.asarray(q, dtype=np.float64) for q in qs]
    qnorm = [None if q is None else _fold_norm_block(q.reshape(1, -1))[0]
             for q in qv]
    groups: dict[int, list[int]] = {}
    for i, x in enumerate(xs):
        if x is None:
            mask[i, :] = True
        else:
            groups.setdefault(len(x), []).append(i)
    for dx, idxs in groups.items():
        ii = np.asarray(idxs)
        X = np.asarray([xs[i] for i in idxs], dtype=np.float64)
        nxs = _fold_norm_block(X)
        for j, q in enumerate(qv):
            if q is None:
                mask[ii, j] = True
                continue
            den = nxs * qnorm[j]
            if len(q) != dx:
                zero = den == 0.0
                vals[ii[zero], j] = 0.0
                mask[ii[~zero], j] = True
                continue
            dot = np.zeros(len(ii))
            for d in range(dx):
                dot = dot + X[:, d] * q[d]
            with np.errstate(divide="ignore", invalid="ignore"):
                vals[ii, j] = np.where(den == 0.0, 0.0, dot / den)
    return vals, mask


def _null_element_to_nan(sim: Column, x: Column, y: Column) -> Column:
    """Map the HOF kernel's NULL-element outcome to the kernel-contract
    NaN (module docstring). Under non-NULL inputs of EQUAL length the
    fold result is NULL iff a NULL element poisoned it — every other
    NULL source (NULL vector, length mismatch) is excluded by the
    guards, so this rewrites exactly the divergent case and nothing
    else.

    Implementation is ``coalesce(sim, <guarded NaN>)``: coalesce
    evaluates ``sim`` exactly ONCE and short-circuits — on the
    well-formed hot path (sim non-NULL) the guard expression is never
    evaluated at all, so the per-row cost is one null check. The two
    rejected shapes, measured: a plain ``when(sim.isNull() & ..., NaN)
    .otherwise(sim)`` plants the fold under BOTH the condition and the
    ELSE branch and Catalyst does not CSE across conditional branches
    (2× the kernel cost — caught in the r11 plan diff); let-binding the
    fold through a one-element transform evaluates it once but pays an
    interpreted array/struct wrap per row (+28% on the sf0.1 scoring
    scan, measured by alternating A/B)."""
    return F.coalesce(
        sim,
        F.when(x.isNotNull() & y.isNotNull() & (F.size(x) == F.size(y)),
               F.lit(float("nan"))))


def cosine_pairs_kernel(x: Column, y: Column) -> Column:
    """Bulk pair-scoring kernel: semantics of ``cosine_similarity(x, y)``
    plus the kernel-contract NULL-element → NaN rule."""
    x, y = _as_double(x), _as_double(y)
    return _null_element_to_nan(cosine_similarity(x, y), x, y)


def cosine_scores_kernel(vec: Column, qvec: list[float]) -> Column:
    """Bulk literal-query scoring kernel: semantics of
    ``cosine_similarity(vec, array(<qvec literals>))`` plus the
    kernel-contract NULL-element → NaN rule."""
    vec = _as_double(vec)
    q = F.array(*[F.lit(float(v)) for v in qvec])
    return _null_element_to_nan(cosine_similarity(vec, q), vec, q)


def cosine_py(x: list[float], y: list[float]) -> float:
    """Bit-exact pure-Python twin of ``cosine_similarity`` — the
    reference the tests score every other evaluator against.

    Exactness argument: the Catalyst kernel is a sequential left fold of
    correctly-rounded f64 ops (``aggregate`` over ``zip_with`` — each
    ``acc + a*b`` step is one IEEE-754 multiply then one add), and this
    loop performs the identical op sequence, so every intermediate — and
    therefore the comparison order any top-k derives — is bit-identical.
    numpy is deliberately NOT used here: its pairwise-summation dot
    product rounds differently from a left fold.

    Zero-norm → 0.0 (reference parity, utils/utils.go:19-21).
    Length mismatch → ValueError: the Catalyst kernel's ``zip_with``
    poisons the fold to NULL, making mismatches VISIBLE — a silent
    zip-truncation here would instead rank centroids by a truncated dot
    product (ADVICE r04)."""
    import math

    if len(x) != len(y):
        raise ValueError(
            f"cosine_py: length mismatch ({len(x)} vs {len(y)})")
    dot = 0.0
    for a, b in zip(x, y):
        dot = dot + float(a) * float(b)
    nx = 0.0
    for a in x:
        nx = nx + float(a) * float(a)
    ny = 0.0
    for b in y:
        ny = ny + float(b) * float(b)
    den = math.sqrt(nx) * math.sqrt(ny)
    return 0.0 if den == 0.0 else dot / den


def well_formed_vector(v: Column, dim: int) -> Column:
    """Boolean predicate: ``v`` is a fully-populated, FINITE vector of
    exactly ``dim`` elements — the ingest contract the reference's
    AddRecord enforces upstream (collection/collection.go:32-45 rejects
    malformed records), expressed as a scan-time filter for corpora
    that arrive without that gate.

    Library-first landing for the round-11 malformed-embedding class
    fix (tests/test_malformed_embeddings.py pins the current
    divergences): one NaN/Inf coordinate makes Spark's cosine NaN
    where DuckDB's returns -1.0, NaN tops a Spark DESC ranking, and
    quantization throws in both engines. Filtering at the scan closes
    all three with ONE predicate. Pure Catalyst (isnan + comparisons
    inside exists over a codegen'd HOF) — no UDF, stays inside
    whole-stage codegen and pushes no worse than any other derived
    predicate. r11 wires it into the shared embedding scan plus the
    mirrored SQL twin below; until then it ships tested but unwired so
    the r09-certified gate paths stay byte-identical."""
    bad = F.exists(
        v, lambda x: x.isNull() | F.isnan(x.cast("double"))
        | (x.cast("double") == F.lit(float("inf")))
        | (x.cast("double") == F.lit(float("-inf"))))
    return v.isNotNull() & (F.size(v) == dim) & ~bad


def well_formed_vector_sql(expr: str, dim: int) -> str:
    """DuckDB twin of :func:`well_formed_vector` — same four checks,
    same NULL semantics (a NULL vector fails the predicate rather than
    yielding NULL: the conjunction starts from ``IS NOT NULL``)."""
    return (
        f"({expr} IS NOT NULL AND len({expr}) = {dim} "
        f"AND len(list_filter({expr}, x -> x IS NULL "
        f"OR isnan(CAST(x AS DOUBLE)) "
        f"OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)"
    )
