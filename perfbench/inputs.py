"""Seeded input generators for the benchmark workloads.

Pure numpy/pyarrow: no Spark here, so the library only ever receives the
files these functions write. Every generator takes the workload seed and
draws from its own ``numpy`` stream, so the same seed writes byte-identical
files (pinned by ``test_inputs.py``), and the reference answers the output
checks need are returned beside the file paths.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBEDDER = "mock-hash-64"
FOREIGN_EMBEDDER = "mock-constant"

# Most frequent words of the Zipf vocabulary. English stopwords at the head
# give real documents the stopword ratio ``functions.text.quality_score``
# rewards, as in natural text.
STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "you", "that", "for"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: dict[str, None] = {}
    while len(out) < n:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in STOPWORDS:
            out[w] = None
    return list(out)


def _list_array(rows: np.ndarray) -> pa.ListArray:
    """The rows of a 2-d float64 array as an Arrow ``list<double>`` column."""
    n, d = rows.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(rows.reshape(-1)))


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, sort_keys=True) + "\n")


# -- retrieve -----------------------------------------------------------------

def clustered_vectors(seed: int, out_dir: str, n: int, dim: int,
                      n_clusters: int, n_queries: int,
                      noise: float = 0.35, query_noise: float = 0.05) -> dict:
    """A clustered collection plus queries perturbed from stored records.

    Equal-sized clusters give the IVF index real cells to prune, and a query
    near a stored record has a sharp true top-k. Ids interleave the
    clusters (id ``i`` lies in cluster ``i % n_clusters``), so an index that
    takes the first ``n_clusters`` ids as centroids gets one per cluster,
    like a trained quantizer, and the probe cost does not hinge on which
    random points became centroids. Rows are stored in random order.

    Writes ``records.parquet`` (id, embedder_id, blob, embedding) and
    ``queries.parquet`` (query_id, query_embedding)."""
    rng = _rng(seed, 1)
    centers = rng.standard_normal((n_clusters, dim))
    order = rng.permutation(n)
    labels = order % n_clusters
    vecs = centers[labels] + noise * rng.standard_normal((n, dim))
    ids = [f"v{i:07d}" for i in order]
    src = rng.choice(n, n_queries, replace=False)
    queries = vecs[src] + query_noise * rng.standard_normal((n_queries, dim))
    os.makedirs(out_dir, exist_ok=True)
    records_path = os.path.join(out_dir, "records.parquet")
    queries_path = os.path.join(out_dir, "queries.parquet")
    _write_parquet(records_path, pa.table({
        "id": ids,
        "embedder_id": [EMBEDDER] * n,
        "blob": [f"vector {i}" for i in ids],
        "embedding": _list_array(vecs),
    }))
    _write_parquet(queries_path, pa.table({
        "query_id": pa.array(np.arange(n_queries), pa.int64()),
        "query_embedding": _list_array(queries),
    }))
    return {"records": records_path, "queries": queries_path,
            "ids": ids, "vecs": vecs, "query_vecs": queries}


def exact_topk(vecs: np.ndarray, ids: list[str], queries: np.ndarray,
               k: int) -> list[list[tuple[str, float]]]:
    """Reference top-k by cosine in float64 numpy, best first, ties by id."""
    xn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    scores = qn @ xn.T
    out = []
    for row in scores:
        top = np.argpartition(-row, k)[:k + 8]
        ranked = sorted(top, key=lambda i: (-row[i], ids[i]))[:k]
        out.append([(ids[i], float(row[i])) for i in ranked])
    return out


# -- ingest -------------------------------------------------------------------

def ingest_batches(seed: int, out_dir: str, n_batches: int, batch_size: int,
                   dup_in_batch: int, dup_across: int, mismatched: int,
                   null_embedding: int) -> dict:
    """Text blobs in batches, with the three ``add_records`` violations
    planted in known numbers.

    Per batch ``b`` two JSONL files are written:

    - ``blobs_<b>.jsonl`` (id, blob): the rows ``make_records`` embeds.
      ``dup_in_batch`` ids repeat inside the batch with another blob, and
      from the second batch on ``dup_across`` ids repeat an id inserted by
      an earlier batch;
    - ``foreign_<b>.jsonl`` (id, embedder_id, blob, embedding): records
      arriving already embedded, of which ``mismatched`` carry another
      embedder's vector and ``null_embedding`` carry no vector.

    Returns the paths, the expected violation counts per batch, and the
    blob each inserted id must keep (``add_records`` keeps the copy with
    the smallest blob), for the output checks."""
    rng = _rng(seed, 2)
    vocab = np.array(STOPWORDS + _words(rng, 2000))
    os.makedirs(out_dir, exist_ok=True)
    next_id = 0
    inserted: dict[str, str] = {}
    unique_ids: list[str] = []
    batches = []

    def text() -> str:
        return " ".join(rng.choice(vocab, int(rng.integers(12, 30))))

    def new_id() -> str:
        nonlocal next_id
        next_id += 1
        return f"doc-{next_id:07d}"

    for b in range(n_batches):
        rows = [{"id": new_id(), "blob": text()} for _ in range(batch_size)]
        for r in rng.choice(len(rows), dup_in_batch, replace=False):
            rows.append({"id": rows[r]["id"], "blob": text()})
        across = []
        if b > 0:
            across = [unique_ids[i] for i in
                      rng.choice(len(unique_ids), dup_across, replace=False)]
            rows.extend({"id": i, "blob": text()} for i in across)
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        foreign = [{"id": new_id(), "embedder_id": FOREIGN_EMBEDDER,
                    "blob": text(), "embedding": [1.0, 2.0, 3.0, 4.0, 5.0]}
                   for _ in range(mismatched)]
        foreign += [{"id": new_id(), "embedder_id": EMBEDDER,
                     "blob": text(), "embedding": None}
                    for _ in range(null_embedding)]
        blobs_path = os.path.join(out_dir, f"blobs_{b}.jsonl")
        foreign_path = os.path.join(out_dir, f"foreign_{b}.jsonl")
        _write_jsonl(blobs_path, rows)
        _write_jsonl(foreign_path, foreign)

        copies: dict[str, list[str]] = {}
        for r in rows:
            copies.setdefault(r["id"], []).append(r["blob"])
        for rid, blobs in copies.items():
            if rid not in inserted:
                inserted[rid] = min(blobs)
                if len(blobs) == 1:
                    unique_ids.append(rid)
        batches.append({
            "blobs": blobs_path, "foreign": foreign_path,
            "rows": len(rows) + len(foreign),
            "user_bytes": sum(len(r["id"]) + len(r["blob"].encode())
                              for r in rows + foreign),
            "violations": {"duplicate id": dup_in_batch + len(across),
                           "embedder mismatch": mismatched,
                           "null embedding": null_embedding},
        })
    return {"batches": batches, "inserted": inserted,
            "unique_ids": unique_ids}


# -- corpus_clean ---------------------------------------------------------------

def zipf_corpus(seed: int, out_dir: str, n_docs: int, vocab_size: int,
                exact_dups: int, near_dups: int, low_quality: int,
                zipf_s: float = 1.1, edit_rate: float = 0.04) -> dict:
    """A Zipf-vocabulary corpus with planted duplicates and junk.

    - exact duplicates: copies of a base document under a new id, which
      ``exact_dedup_keep`` must collapse;
    - near-duplicates: copies with ``edit_rate`` of their words replaced,
      which keep word-3-shingle Jaccard near 0.8, above the 0.7 threshold,
      so ``minhash_dedup`` finds most of them;
    - low-quality documents: digit-and-punctuation noise that the
      ``quality_score`` filter must drop.

    Writes ``corpus.parquet`` (doc_id bigint, text string)."""
    rng = _rng(seed, 3)
    vocab = np.array(STOPWORDS + _words(rng, vocab_size - len(STOPWORDS)))
    p = 1.0 / np.arange(1, len(vocab) + 1) ** zipf_s
    p /= p.sum()
    n_base = n_docs - exact_dups - near_dups - low_quality
    lengths = rng.integers(40, 90, n_base)
    words = vocab[rng.choice(len(vocab), int(lengths.sum()), p=p)]
    base = [list(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    texts = [" ".join(w) for w in base]
    kinds = ["base"] * n_base
    for i in rng.choice(n_base, exact_dups, replace=True):
        texts.append(texts[i])
        kinds.append("exact")
    for i in rng.choice(n_base, near_dups, replace=False):
        doc = list(base[i])
        edits = rng.choice(len(doc), max(1, int(len(doc) * edit_rate)),
                           replace=False)
        for j, w in zip(edits, vocab[rng.choice(len(vocab), len(edits), p=p)]):
            doc[j] = w
        texts.append(" ".join(doc))
        kinds.append("near")
    junk = np.array(list("0123456789.,;:!?-()"))
    for _ in range(low_quality):
        texts.append(" ".join("".join(rng.choice(junk, int(rng.integers(2, 8))))
                              for _ in range(int(rng.integers(20, 60)))))
        kinds.append("low")
    order = rng.permutation(len(texts))
    doc_ids = np.arange(1, len(texts) + 1, dtype=np.int64)
    texts = [texts[i] for i in order]
    kinds = [kinds[i] for i in order]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "corpus.parquet")
    _write_parquet(path, pa.table({"doc_id": pa.array(doc_ids),
                                   "text": pa.array(texts, pa.string())}))
    return {"corpus": path, "texts": dict(zip(doc_ids.tolist(), texts)),
            "low_quality": {int(d) for d, k in zip(doc_ids, kinds)
                            if k == "low"}}
