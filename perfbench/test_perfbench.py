"""Tests of the benchmark's own pieces: the reference computations on
hand-worked inputs, the checks (each must fail when its property is
broken), the seeded generator, and BENCHMARK.json against the metric
names the benchmark prints. No Spark is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus as C  # noqa: E402
import reference as R  # noqa: E402
import run as RUN  # noqa: E402
import tracer as T  # noqa: E402
import workloads as W  # noqa: E402


def _run() -> W.Run:
    return W.Run(None, T.Tracer(False), "unused", seed=5)


# -- reference computations -------------------------------------------------
def test_bm25_hand_worked():
    # N=2, dl=(2, 3), avgdl=2.5; df(x)=2, df(z)=1
    # score(d, x) = ln(1.2) * tf*2.2 / (tf + 1.2*(0.25 + 0.75*dl/2.5))
    ref = R.BM25()
    ref.add([1, 2], ["x y", "x x z"])
    assert ref.topk(("x",)) == [(2, 0.237342), (1, 0.198568)]
    # z adds ln(2) * 2.2 / (1 + 1.2*(0.25 + 0.9)) to doc 2 only
    assert ref.topk(("x", "z")) == [(2, 0.878066), (1, 0.198568)]
    assert ref.topk(("absent",)) == []


def test_bm25_ties_rank_by_doc_id():
    ref = R.BM25()
    ref.add([7, 3, 5], ["a b", "a b", "c d"])
    assert [d for d, _ in ref.topk(("a",))] == [3, 7]


def test_half_up6():
    assert R.half_up6(0.0000005) == 0.000001
    assert R.half_up6(-0.0000015) == -0.000002
    assert R.half_up6(1.2345674) == 1.234567


def test_cosine_topk_and_recall():
    m = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [2.0, 0.0]])
    ids = np.array([10, 11, 12, 13])
    # 10 and 13 are both at cosine 1.0: the lower id ranks first
    assert R.cosine_topk(m, ids, np.array([1.0, 0.0]), 3) == [10, 13, 12]
    assert R.recall_at_k([10, 12, 99], [10, 13, 12]) == pytest.approx(2 / 3)


def test_same_ranking_allows_last_digit_swaps_only():
    ref = [(1, 0.5), (2, 0.4), (3, 0.399999)]
    assert R.same_ranking([(1, 0.5), (2, 0.4), (3, 0.399999)], ref)
    assert R.same_ranking([(1, 0.5), (3, 0.4), (2, 0.399999)], ref)
    assert not R.same_ranking([(2, 0.4), (1, 0.5), (3, 0.399999)], ref)
    assert not R.same_ranking([(1, 0.5), (2, 0.4)], ref)
    assert not R.same_ranking([(1, 0.5), (2, 0.4), (9, 0.3)], ref)


def test_misplaced_vectors():
    cids = np.array([4, 2])
    cents = np.array([[0.0, 0.0], [10.0, 10.0]])
    embs = np.array([[1.0, 1.0], [9.0, 9.0]])
    assert R.misplaced_vectors(embs, np.array([4, 2]), cids, cents) == 0
    assert R.misplaced_vectors(embs, np.array([2, 2]), cids, cents) == 1


def test_encoder_margin():
    def enc(texts):
        return np.array([[1.0, 0.0] if t.startswith("en") else [0.0, 1.0] for t in texts])

    same = [("en a", "en b")]
    cross = [("en a", "de b")]
    assert R.encoder_margin(enc, same, cross) == 1.0


# -- checks fail when their property is broken --------------------------
def test_check_appended_fails_on_missing_doc():
    run = _run()
    first = C.PROBE_ID_BASE + W.ANN_PROBES
    served = {first: [41, 7], first + 1: [42]}
    W._check_appended(run, served, [41, 42], "t")
    assert run.problems == []
    # drop one appended doc from what was served
    W._check_appended(run, {first: [7, 41]}, [41, 42], "t")
    assert len(run.problems) == 2


# three cells; the probe's NPROBE=2 nearest are 10 and 20, which hold
# docs 1, 2 and 3, so strict nprobe serves exactly those three
_LIVE = (np.array([1, 2, 3, 4]),
         np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [-1.0, 0.0]]),
         np.array([10, 10, 20, 30]))
_CENTS = (np.array([10, 20, 30]), np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]))


def test_check_ann_flags_deleted_ids():
    run = _run()
    probe = np.array([1.0, 0.0])
    W._check_ann(run, {9: [1, 2, 3]}, [9], [probe], _LIVE, _CENTS, banned={5})
    # exact top-k over all live vectors is [1, 2, 3, 4]
    assert run.problems == [] and run.recall == [0.75]
    W._check_ann(run, {9: [1, 2, 3]}, [9], [probe], _LIVE, _CENTS, banned={2})
    assert any("deleted" in p for p in run.problems)


def test_check_ann_strict_nprobe_count():
    probe = np.array([1.0, 0.0])
    for served in ([1, 2], [1, 2, 4]):  # one missing; one from an unprobed cell
        run = _run()
        W._check_ann(run, {9: served}, [9], [probe], _LIVE, _CENTS)
        assert len(run.problems) == 1


def test_probe_cells_ties_to_lower_id():
    cids = np.array([7, 3, 5])
    cents = np.array([[1.0, 0.0], [0.0, 1.0], [2.0, 0.0]])
    # squared distances 1, 1, 4: cells 7 and 3 tie, 3 ranks first
    assert R.probe_cells(np.array([0.0, 0.0]), cids, cents, 2) == [3, 7]
    assert R.probe_cells(np.array([2.0, 0.0]), cids, cents, 1) == [5]


def test_check_bm25_flags_a_wrong_score():
    run = _run()
    ref = R.BM25()
    ref.add([1, 2], ["x y", "x x z"])
    W._check_bm25(run, {0: [(2, 0.237342), (1, 0.198568)]}, ((0, ("x",)),), ref, "t")
    assert run.problems == []
    W._check_bm25(run, {0: [(2, 0.237342), (1, 0.19857)]}, ((0, ("x",)),), ref, "t")
    assert len(run.problems) == 1


def test_check_dedup():
    # 300 docs, the first 10 of them sources of planted near-dups 100..109
    cols = {"doc_id": list(range(300)), "dup_of": {100 + j: j for j in range(10)}}
    survivors = [d for d in range(300) if d not in cols["dup_of"]]
    run = _run()
    assert W._check_dedup(run, cols, survivors, "t") == 10
    assert run.problems == []
    # two chance removals beside the planted ones are allowed ...
    run = _run()
    assert W._check_dedup(run, cols, survivors[2:], "t") == 12
    assert run.problems == [] and run.extra["minhash_chance_removals"] == 2
    # ... extra random removals are not
    run = _run()
    rng = np.random.default_rng(0)
    extra = set(rng.choice(survivors, size=5, replace=False).tolist())
    W._check_dedup(run, cols, [d for d in survivors if d not in extra], "t")
    assert any("no planted near-duplicate" in p for p in run.problems)
    # a dedup that removes fewer than half of the planted near-dups fails
    run = _run()
    W._check_dedup(run, cols, survivors + list(range(100, 106)), "t")
    assert any("planted near-dups removed" in p for p in run.problems)


def test_check_hybrid():
    run = _run()

    class Row:
        def __init__(self, q, rank, score):
            self.query_id, self.rank, self.rrf_score = q, rank, score

    rows = [Row(C.PROBE_ID_BASE + q, r, 1.0 / (60 + r)) for q in range(W.HYBRID)
            for r in range(1, W.K + 1)]
    W._check_hybrid(run, rows)
    assert run.problems == []
    W._check_hybrid(run, rows[1:])
    assert run.problems


# -- generator ---------------------------------------------------------------
def test_generator_is_deterministic_per_seed():
    a, b, c = C.Corpus(3), C.Corpus(3), C.Corpus(4)
    da, db, dc = (x.documents(200, stream=1) for x in (a, b, c))
    assert da == db
    assert da["text"] != dc["text"]
    assert a.query_batch(8, 2) == b.query_batch(8, 2) != c.query_batch(8, 2)
    assert a.heldout_pairs(5) == b.heldout_pairs(5)


def test_planted_near_duplicates():
    c = C.Corpus(3)
    d = c.documents(400, stream=1)
    assert d["dup_of"], "no near-duplicates planted"
    text = dict(zip(d["doc_id"], d["text"]))
    for dup, src in d["dup_of"].items():
        assert dup > src
        a, b = text[dup].split(" "), text[src].split(" ")
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) <= C.NEAR_DUP_EDITS
    # a delta's near-dups point into the corpus docs they were drawn from
    pool = {i: (text[i], d["lang"][i]) for i in range(50)}
    delta = c.documents(100, first_id=400, stream=2, dup_sources=pool, dup_share=0.3)
    assert delta["doc_id"][0] == 400
    assert delta["dup_of"] and set(delta["dup_of"].values()) <= set(pool)


def test_tokens_are_single_space_separated_lowercase():
    d = C.Corpus(1).documents(50, stream=1)
    for t in d["text"]:
        assert t == t.lower() and "  " not in t and t.strip() == t


# -- BENCHMARK.json matches what the command prints -----------------------
def test_benchmark_json_names_match():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(RUN.END_TO_END)
    assert [m["unit"] for m in bench["end_to_end"]] == list(RUN.END_TO_END.values())
    assert [m["name"] for m in bench["per_layer"]] == T.per_layer_names()
    assert [m["unit"] for m in bench["per_layer"]] == [T.unit_of(n) for n in T.per_layer_names()]
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
