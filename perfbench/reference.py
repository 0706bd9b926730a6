"""Reference computations the benchmark checks the engine against.

None of these call the engine: exact cosine top-k, BM25 and nearest
centroids are recomputed here in numpy from the generated inputs or from
the index files read back with pyarrow.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75


def half_up6(x: float) -> float:
    """Round half away from zero to 6 decimals (the engine's rounding)."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def cosine_topk(matrix: np.ndarray, ids: np.ndarray, probe: np.ndarray, k: int) -> list:
    """Exact top-k ids by cosine similarity, ties by id ascending."""
    m = matrix / np.linalg.norm(matrix, axis=1, keepdims=True)
    sims = m @ (probe / np.linalg.norm(probe))
    r6 = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
    order = np.lexsort((ids, -r6))[:k]
    return [int(i) for i in ids[order]]


def recall_at_k(served: list, exact: list) -> float:
    return len(set(served) & set(exact)) / max(1, len(exact))


class BM25:
    """Okapi BM25 over whitespace tokens, scored as the engine scores:
    idf = ln((N - df + 0.5) / (df + 0.5) + 1), k1=1.2, b=0.75, rounded
    half-up to 6 decimals, ranked by score then doc_id."""

    def __init__(self):
        self.tf: dict = {}  # doc_id -> Counter
        self.df: Counter = Counter()
        self.dl_sum = 0

    def add(self, doc_ids, texts) -> None:
        for did, text in zip(doc_ids, texts):
            c = Counter(text.split(" "))
            self.tf[int(did)] = c
            self.df.update(c.keys())
            self.dl_sum += sum(c.values())

    def topk(self, terms, k: int = 10) -> list:
        """[(doc_id, score)] for one query."""
        n = len(self.tf)
        avgdl = self.dl_sum / n
        idf = {
            t: math.log((n - self.df[t] + 0.5) / (self.df[t] + 0.5) + 1.0)
            for t in terms
            if self.df[t]
        }
        scores = []
        for did, c in self.tf.items():
            hit = [t for t in idf if t in c]
            if not hit:
                continue
            dl = sum(c.values())
            s = sum(
                idf[t] * c[t] * (K1 + 1.0) / (c[t] + K1 * (1.0 - B + B * dl / avgdl))
                for t in hit
            )
            scores.append((half_up6(s), did))
        scores.sort(key=lambda x: (-x[0], x[1]))
        return [(did, s) for s, did in scores[:k]]


def same_ranking(served: list, ref: list, tol: float = 2e-6) -> bool:
    """True when a served [(doc_id, score)] list is the reference list.

    Scores may differ from the reference by summation order in the last
    digit, so positions may swap only between docs whose reference
    scores are within ``tol``."""
    if len(served) != len(ref):
        return False
    ref_score = dict(ref)
    for (sd, ss), (_, rs) in zip(served, ref):
        if abs(ss - rs) > tol:
            return False
        if sd not in ref_score and abs(rs - ref[-1][1]) > tol:
            return False
        if sd in ref_score and abs(ref_score[sd] - ss) > tol:
            return False
    return True


def encoder_margin(encode, pairs_same: list, pairs_cross: list) -> float:
    """Mean cosine of same-language pairs minus that of cross-language
    pairs under ``encode`` (texts -> unit rows)."""

    def mean_cos(pairs):
        a = encode([p[0] for p in pairs])
        b = encode([p[1] for p in pairs])
        return float((a * b).sum(axis=1).mean())

    return mean_cos(pairs_same) - mean_cos(pairs_cross)


def read_index_vectors(index_path: str) -> tuple:
    """(vec_ids, embeddings, centroid_ids) of every row in an IVF layout
    directory: the partitioned cells plus the L0 delta tier."""
    import pyarrow.dataset as ds

    ids, embs, cells = [], [], []
    base = ds.dataset(
        os.path.join(index_path, "vectors"), format="parquet", partitioning="hive"
    ).to_table(columns=["vec_id", "embedding", "centroid_id"])
    parts = [base]
    delta = os.path.join(index_path, "vectors_delta")
    if os.path.isdir(delta) and any(f.endswith(".parquet") for f in os.listdir(delta)):
        parts.append(
            ds.dataset(delta, format="parquet").to_table(
                columns=["vec_id", "embedding", "centroid_id"]
            )
        )
    for t in parts:
        ids.append(t.column("vec_id").to_numpy())
        embs.extend(t.column("embedding").to_pylist())
        cells.append(t.column("centroid_id").to_numpy().astype(np.int64))
    return (
        np.concatenate(ids).astype(np.int64),
        np.asarray(embs, dtype=np.float64),
        np.concatenate(cells),
    )


def read_centroids(index_path: str) -> tuple:
    """(centroid_ids, centroid matrix) of an IVF layout directory."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_path, "centroids"), format="parquet").to_table()
    return (
        t.column("centroid_id").to_numpy().astype(np.int64),
        np.asarray(t.column("centroid").to_pylist(), dtype=np.float64),
    )


def misplaced_vectors(embs: np.ndarray, cells: np.ndarray, cids: np.ndarray,
                      cents: np.ndarray) -> int:
    """Rows whose cell is not their nearest centroid by squared L2 — 0
    for a correctly built layout. The engine compares distances rounded
    to 6 decimals, so a cell within 1e-6 of the nearest also counts as
    nearest."""
    d2 = ((embs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    best = d2.min(axis=1)
    order = np.argsort(cids)
    col = order[np.searchsorted(cids, cells, sorter=order)]
    ok = d2[np.arange(len(cells)), col] <= best + 1.5e-6
    return int((~ok).sum())


def probe_cells(probe: np.ndarray, cids: np.ndarray, cents: np.ndarray, nprobe: int) -> list:
    """The ``nprobe`` cells a strict-nprobe search reads for ``probe``:
    nearest centroids by squared L2 rounded half-up to 6 decimals, ties
    to the lower centroid id. The probe is taken at float32, the
    precision it has in the probe DataFrame."""
    x = np.asarray(probe, dtype=np.float32).astype(np.float64)
    d2 = ((cents - x) ** 2).sum(axis=1)
    r6 = np.floor(d2 * 1e6 + 0.5) / 1e6
    return [int(c) for c in cids[np.lexsort((cids, r6))[:nprobe]]]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
