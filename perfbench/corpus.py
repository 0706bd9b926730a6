"""Seeded input generator for the benchmark.

Everything the program is fed comes from here and depends only on the
seed: a multilingual document corpus with a Zipfian vocabulary per
language and planted near-duplicates, document deltas for the mutate
workload (again with planted near-duplicates of corpus docs), BM25
query batches and probe ids.

Words are lowercase ASCII joined by single spaces, which is exactly what
the engine's whitespace tokenizer splits on, so the numpy reference in
``reference.py`` sees the same tokens as the engine.
"""

from __future__ import annotations

import numpy as np

LANGS = ("de", "en", "es", "fr", "zh")
VOCAB_PER_LANG = 1500
SHARED_VOCAB = 150  # words every language uses (cross-language overlap)
ZIPF_S = 1.1
SHARED_SHARE = 0.15  # fraction of a doc's tokens drawn from the shared words
DOC_LEN = (30, 70)
NEAR_DUP_SHARE = 0.06  # fraction of corpus docs that are planted near-dups
NEAR_DUP_EDITS = 1  # tokens replaced in a planted near-dup

# ids handed to probes and hybrid queries: far above any doc id, because
# the strict ANN kernel drops an indexed vector whose vec_id equals the
# probe id (see README)
PROBE_ID_BASE = 1_000_000_000

_CONS = "bcdfghjklmnprstvz"
_VOW = "aeiou"


def _vocabulary(rng: np.random.Generator, n: int, taken: set) -> list:
    """``n`` distinct pronounceable words not in ``taken``."""
    out = []
    while len(out) < n:
        syl = rng.integers(2, 5)
        w = "".join(
            _CONS[rng.integers(len(_CONS))] + _VOW[rng.integers(len(_VOW))]
            for _ in range(syl)
        )
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


class Corpus:
    """Vocabularies and samplers for one seed; documents are drawn from
    it in id order so every id range is reproducible on its own."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        taken: set = set()
        self.shared = _vocabulary(rng, SHARED_VOCAB, taken)
        self.vocab = {lang: _vocabulary(rng, VOCAB_PER_LANG, taken) for lang in LANGS}
        ranks = np.arange(1, VOCAB_PER_LANG + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.p_lang = p / p.sum()
        ranks_s = np.arange(1, SHARED_VOCAB + 1, dtype=np.float64)
        ps = ranks_s**-ZIPF_S
        self.p_shared = ps / ps.sum()

    def _doc(self, rng: np.random.Generator, lang: str) -> str:
        n = int(rng.integers(DOC_LEN[0], DOC_LEN[1] + 1))
        own = rng.choice(VOCAB_PER_LANG, size=n, p=self.p_lang)
        shared = rng.random(n) < SHARED_SHARE
        sh = rng.choice(SHARED_VOCAB, size=n, p=self.p_shared)
        v = self.vocab[lang]
        return " ".join(
            self.shared[sh[i]] if shared[i] else v[own[i]] for i in range(n)
        )

    def _near_dup(self, rng: np.random.Generator, text: str, lang: str) -> str:
        toks = text.split(" ")
        for _ in range(NEAR_DUP_EDITS):
            i = int(rng.integers(len(toks)))
            toks[i] = self.vocab[lang][int(rng.integers(VOCAB_PER_LANG))]
        return " ".join(toks)

    def documents(self, n: int, first_id: int = 0, stream: int = 1,
                  dup_sources: dict | None = None,
                  dup_share: float = NEAR_DUP_SHARE) -> dict:
        """``n`` docs with ids ``first_id..first_id+n-1``.

        A ``dup_share`` of them are planted near-duplicates: a copy
        of an earlier doc (of this batch, or of ``dup_sources`` — a
        {doc_id: (text, lang)} map of corpus docs — when given) with
        ``NEAR_DUP_EDITS`` tokens replaced. A near-dup always has a larger
        id than its source, so min-label deduplication removes the copy.
        Returns columns plus ``dup_of`` ({dup_id: source_id})."""
        rng = np.random.default_rng([self.seed, stream])
        ids, texts, langs, dup_of = [], [], [], {}
        pool_ids = list(dup_sources) if dup_sources else []
        for j in range(n):
            did = first_id + j
            earlier = pool_ids or ids
            if earlier and rng.random() < dup_share:
                src = earlier[int(rng.integers(len(earlier)))]
                if dup_sources:
                    s_text, lang = dup_sources[src]
                else:
                    s_text, lang = texts[src - first_id], langs[src - first_id]
                texts.append(self._near_dup(rng, s_text, lang))
                dup_of[did] = src
            else:
                lang = LANGS[int(rng.integers(len(LANGS)))]
                texts.append(self._doc(rng, lang))
            ids.append(did)
            langs.append(lang)
        return {"doc_id": ids, "text": texts, "lang": langs, "dup_of": dup_of}

    def heldout_pairs(self, n: int, stream: int = 9) -> tuple:
        """(same-language pairs, cross-language pairs) of fresh docs that
        no training triplet contains, for the encoder separation check."""
        rng = np.random.default_rng([self.seed, stream])
        same, cross = [], []
        for _ in range(n):
            a, b = rng.choice(len(LANGS), size=2, replace=False)
            la, lb = LANGS[int(a)], LANGS[int(b)]
            same.append((self._doc(rng, la), self._doc(rng, la)))
            cross.append((self._doc(rng, la), self._doc(rng, lb)))
        return same, cross

    def query_batch(self, n: int, stream: int, terms: tuple = (1, 3)) -> tuple:
        """``n`` BM25 queries ((query_id, (term, ...)), ...) of distinct
        terms drawn from one language's vocabulary (plus shared words),
        Zipf-weighted so frequent and rare terms both appear."""
        rng = np.random.default_rng([self.seed, stream])
        out = []
        for qid in range(n):
            lang = LANGS[int(rng.integers(len(LANGS)))]
            k = int(rng.integers(terms[0], terms[1] + 1))
            words = set()
            while len(words) < k:
                if rng.random() < SHARED_SHARE:
                    words.add(self.shared[int(rng.choice(SHARED_VOCAB, p=self.p_shared))])
                else:
                    words.add(self.vocab[lang][int(rng.choice(VOCAB_PER_LANG, p=self.p_lang))])
            out.append((qid, tuple(sorted(words))))
        return tuple(out)


def write_documents(path: str, cols: dict) -> None:
    """Write a documents table the way the engine's catalog reads it
    (``<dir>/documents.parquet``; doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(cols["doc_id"])
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], type=pa.int64()),
            "text": pa.array(cols["text"], type=pa.string()),
            "lang": pa.array(cols["lang"], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in cols["text"]], type=pa.int64()),
        }
    )
    pq.write_table(table, path)
