"""The two workloads: ``build`` and ``mutate``.

Each is a closed loop from one process: the next call is issued only
after the previous one has returned. A run times one round of the
workload's operations, and every output is checked against
``reference.py`` outside the timed calls. ``build`` sends each search
batch twice, with fresh probes or queries, and ``search_s`` takes the
median per batch kind.
"""

from __future__ import annotations

import functools
import os
import statistics
import time

import numpy as np

import corpus as C
import procstat
import reference as R
from tracer import APPEND_WALLS

N_BUILD = 600  # docs in each freshly generated build corpus
N_INDEX = 600  # docs in the index mutate works on
TRAIN_ROUNDS = 2  # train_encoder_spark rounds per build
CELLS = 16  # IVF cells, so that nprobe=2 of them misses some neighbours
DELTA_DOCS = 60  # docs per mutate append
DELTA_DUP_SHARE = 0.2  # planted near-duplicates of corpus docs in a delta
DELETE_IDS = 20  # ids per mutate delete
ANN_PROBES, BM25_QUERIES, HYBRID = 64, 8, 32  # batch sizes
APPENDED_PROBES = 4  # of mutate's ANN probes, appended docs' own vectors
NPROBE = 2
K = 10
SEARCH_KINDS = ("ann", "bm25", "hybrid")
# times build sends each search batch per round; the first send of each
# kind is a cold one, and the median (for two sends, the mean) is what
# search_s adds up. mutate sends its reads once: its set-up builds an
# index and its reads cost the most, and a second pair would not fit the
# time all runs get (README)
BUILD_SENDS = 2
RECALL_FLOOR = 0.5
# MinHash (8 permutations, threshold 0.5) may remove a doc that is no
# planted near-duplicate when 4 of 8 minima collide by chance; at most
# this share of a batch's docs (and never fewer than CHANCE_MIN) may go so
CHANCE_SHARE, CHANCE_MIN = 0.01, 2


class Run:
    """State of one benchmark run: session, timings, checks."""

    def __init__(self, spark, tracer, tmp: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        self.corpus = C.Corpus(seed)
        self.walls: dict = {}  # op kind -> wall s of each of its timed calls
        self.cpu: dict = {}  # op kind -> process-tree CPU s of those calls
        self.recall: list = []
        self.ingest_docs_per_s = self.round_cpu_s = self.search_s = 0.0
        self.index_bytes_per_doc = 0.0
        self.problems: list = []
        self.timing = False
        self.attempted = 0
        self.extra: dict = {}
        self.layout: dict = {}
        self.append_walls: dict = {w: 0.0 for w in APPEND_WALLS}
        self.setup_gen_s = 0.0  # input generation inside set-up, not counted

    def op(self, kind: str, fn):
        """Call ``fn``; when timing, record its wall and CPU seconds."""
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        out = fn()
        dt, dc = time.perf_counter() - t0, procstat.tree_cpu_s() - c0
        if self.timing:
            self.attempted += 1
            self.walls.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(dc)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    def docs_df(self, cols: dict):
        return self.spark.createDataFrame(
            list(zip(cols["doc_id"], cols["text"], cols["lang"])),
            schema="doc_id long, text string, lang string",
        )


def log(msg: str) -> None:
    """Progress line on standard error, stamped with the process age."""
    import sys

    print(f"[{time.time() - procstat.process_start_epoch():7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- shared pieces -------------------------------------------------------
def _write_sf(run: Run, name: str, cols: dict) -> str:
    sf = os.path.join(run.tmp, name)
    os.makedirs(sf, exist_ok=True)
    C.write_documents(os.path.join(sf, "documents.parquet"), cols)
    return sf


def _encoder(artifact: str):
    from cloudvectordb_spark.training import encode_texts_stub, load_encoder_stub

    return functools.partial(encode_texts_stub, proj=load_encoder_stub(artifact))


def _stub_encoder(run: Run):
    """The untrained seeded projection (``train_encoder_stub``)."""
    from cloudvectordb_spark.training import train_encoder_stub

    shards = os.path.join(run.tmp, "no_shards")
    os.makedirs(shards, exist_ok=True)
    return _encoder(train_encoder_stub(shards, os.path.join(run.tmp, "stub_artifact")))


def _probes(run: Run, enc, n: int, stream: int) -> tuple:
    """(probe ids, probe vectors) embedding ``n`` fresh texts; ids sit
    above the corpus id range."""
    texts = run.corpus.documents(n, stream=stream)["text"]
    vecs = enc(np.array(texts, dtype=object))
    ids = [C.PROBE_ID_BASE + i for i in range(n)]
    return ids, vecs


def _probe_df(run: Run, ids, vecs):
    return run.spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        schema="vec_id long, embedding array<float>",
    )


def _ann(run: Run, index, ids, vecs) -> dict:
    """One strict-nprobe ANN batch; {probe_id: [neighbor ids by rank]}."""

    def call():
        df = index.search_batch(_probe_df(run, ids, vecs), k=K, nprobe=NPROBE)
        with run.tracer.span("bench.ann_collect"):
            return df.collect()

    rows = run.op("ann", call)
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r.probe_id, r.rank)):
        out.setdefault(int(r.probe_id), []).append(int(r.neighbor_id))
    return out


def _check_ann(run: Run, served: dict, ids, vecs, live: tuple, cents: tuple, banned=()) -> None:
    """Recall against exact cosine top-k over the live vectors read back
    from the index directory. Strict nprobe: a probe is served exactly
    min(K, n) ids, all from the n live vectors of its NPROBE nearest
    cells (``cents``: centroid ids and matrix). ``banned`` ids must
    never be served."""
    live_ids, live_embs, live_cells = live
    for pid, v in zip(ids, vecs):
        got = served.get(int(pid), [])
        exact = R.cosine_topk(live_embs, live_ids, np.asarray(v, dtype=np.float64), K)
        run.recall.append(R.recall_at_k(got, exact))
        pool = set(live_ids[np.isin(live_cells, R.probe_cells(v, *cents, NPROBE))].tolist())
        run.check(len(got) == min(K, len(pool)) and set(got) <= pool,
                  f"ann probe {pid}: {len(got)} results, {len(set(got) - pool)} of them "
                  f"outside the {len(pool)} vectors of its {NPROBE} nearest cells")
        bad = set(got) & set(banned)
        run.check(not bad, f"ann probe {pid} served deleted ids {sorted(bad)[:5]}")


def _bm25(run: Run, call) -> dict:
    def go():
        df = call()
        with run.tracer.span("bench.bm25_collect"):
            return df.collect()

    rows = run.op("bm25", go)
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(int(r.query_id), []).append((int(r.doc_id), float(r.bm25)))
    return out


def _check_bm25(run: Run, served: dict, batch, ref: R.BM25, where: str) -> None:
    for qid, terms in batch:
        want = ref.topk(terms, K)
        got = served.get(int(qid), [])
        run.check(R.same_ranking(got, want), f"bm25 {where} query {qid} {terms}: {got[:3]} != {want[:3]}")


def _ivf_bytes(index_path: str) -> int:
    return sum(
        R.dir_bytes(os.path.join(index_path, d))
        for d in ("vectors", "vectors_delta", "centroids")
        if os.path.isdir(os.path.join(index_path, d))
    )


def _check_dedup(run: Run, cols: dict, indexed_ids, where: str) -> int:
    """docs = survivors + removed: at least half of the planted
    near-duplicates are removed, and every other removal counts as a
    MinHash chance collision, of which a batch may have at most
    CHANCE_SHARE of its docs (and never fewer than CHANCE_MIN); returns
    the number removed."""
    docs = set(int(d) for d in cols["doc_id"])
    removed = docs - set(int(i) for i in indexed_ids)
    planted = set(cols["dup_of"])
    chance = len(removed - planted)
    run.extra["minhash_chance_removals"] = run.extra.get("minhash_chance_removals", 0) + chance
    allowed = max(CHANCE_MIN, int(CHANCE_SHARE * len(docs)))
    run.check(chance <= allowed,
              f"{where}: {chance} removed docs are no planted near-duplicate (at most {allowed})")
    run.check(len(removed & planted) >= len(planted) // 2,
              f"{where}: only {len(removed & planted)} of {len(planted)} planted near-dups removed")
    return len(removed)


def _check_cells(run: Run, index_path: str, where: str) -> tuple:
    live = R.read_index_vectors(index_path)
    cids, cents = R.read_centroids(index_path)
    bad = R.misplaced_vectors(live[1], live[2], cids, cents)
    run.check(bad == 0, f"{where}: {bad} vectors not in their nearest centroid's cell")
    run.check(len(set(live[0].tolist())) == len(live[0]), f"{where}: duplicate vec_ids in index")
    return live


def _layout(index_path: str) -> dict:
    delta = os.path.join(index_path, "vectors_delta")
    rows = files = 0
    if os.path.isdir(delta):
        import pyarrow.parquet as pq

        for f in os.listdir(delta):
            if f.endswith(".parquet"):
                files += 1
                rows += pq.ParquetFile(os.path.join(delta, f)).metadata.num_rows
    vec = os.path.join(index_path, "vectors")
    cells = [d for d in os.listdir(vec) if d.startswith("centroid_id=")]
    cell_files = sum(
        len([f for f in os.listdir(os.path.join(vec, d)) if f.endswith(".parquet")])
        for d in cells
    )
    return {
        "pipeline.l0_tier.rows": rows,
        "pipeline.l0_tier.files": files,
        "pipeline.cells.files_per_cell": cell_files / max(1, len(cells)),
    }


def _timed_round(run: Run, one_round) -> None:
    """Time one round. round_cpu_s is the process-tree CPU of its calls,
    search_s the wall of its search batches, each batch kind counted
    once at its median over the round's sends."""
    run.timing = True
    one_round()
    run.timing = False
    run.round_cpu_s = sum(statistics.median(v) for v in run.cpu.values())
    run.search_s = sum(statistics.median(v) for k, v in run.walls.items() if k in SEARCH_KINDS)


# -- build ---------------------------------------------------------------
def build(run: Run, setup_done) -> None:
    """S1 -> S2 -> CorpusPipeline.run with the trained encoder -> text
    index, on a fresh corpus, then the first ANN, BM25 and hybrid
    batches a user sends to the new index."""
    from cloudvectordb_spark.api import CorpusPipeline, HybridIndex, TextIndex
    from cloudvectordb_spark.catalog import load
    from cloudvectordb_spark.operators import pipeline as P
    from cloudvectordb_spark.training import train_encoder_spark

    spark = run.spark
    stub = _stub_encoder(run)
    t = time.perf_counter()
    same, cross = run.corpus.heldout_pairs(120)
    run.setup_gen_s += time.perf_counter() - t
    stub_margin = R.encoder_margin(stub, same, cross)
    setup_done()

    def one_round() -> None:
        cols = run.corpus.documents(N_BUILD, stream=1000)
        sf = _write_sf(run, "build", cols)
        work = os.path.join(run.tmp, "build_work")

        def s1():
            P.export_triplet_shards(P.build_text_triplets(spark, sf), f"{work}/shards")

        run.op("s1", s1)
        run.op("s2", lambda: train_encoder_spark(
            spark, f"{work}/shards", f"{work}/artifact", rounds=TRAIN_ROUNDS))
        enc = _encoder(f"{work}/artifact")
        res = run.op("corpus_run", lambda: CorpusPipeline.run(
            spark, load(spark, sf, "documents"), f"{work}/ivf", k=CELLS, encoder=enc))
        ti = run.op("text_index", lambda: TextIndex.open(spark, sf))
        w = run.walls
        run.ingest_docs_per_s = N_BUILD / sum(w[k][0] for k in ("s1", "s2", "corpus_run", "text_index"))
        # checks run between the timed calls
        live = _check_cells(run, f"{work}/ivf", "build")
        ref = R.BM25()
        ref.add(cols["doc_id"], cols["text"])
        hy = HybridIndex(ti, res["index"])
        cents = R.read_centroids(f"{work}/ivf")
        for r in range(BUILD_SENDS):
            ids, vecs = _probes(run, enc, ANN_PROBES, stream=9000 + r)
            _check_ann(run, _ann(run, res["index"], ids, vecs), ids, vecs, live, cents)
            batch = run.corpus.query_batch(BM25_QUERIES, stream=3000 + r)
            bm = _bm25(run, lambda: ti.search_batch(batch, k=K))
            _check_bm25(run, bm, batch, ref, "build")
            _check_hybrid(run, _hybrid(run, hy, enc, 5000 + 10 * r))
        removed = _check_dedup(run, cols, live[0], "build")
        run.check(removed == res["removed"] and res["docs"] == N_BUILD,
                  f"build: pipeline says removed={res['removed']}, index says {removed}")
        margin = R.encoder_margin(enc, same, cross)
        run.check(margin > stub_margin,
                  f"build: trained encoder margin {margin:.4f} <= untrained {stub_margin:.4f}")
        run.extra["encoder_margin"] = round(margin, 4)
        run.extra["stub_margin"] = round(stub_margin, 4)
        run.index_bytes_per_doc = (_ivf_bytes(f"{work}/ivf") + R.dir_bytes(ti.path)) / N_BUILD
        run.layout = _layout(f"{work}/ivf")

    _timed_round(run, one_round)


def _hybrid(run: Run, hy, enc, stream: int) -> list:
    """One hybrid RRF batch; query ids double as probe ids and sit
    above the corpus id range."""
    qs = run.corpus.query_batch(HYBRID, stream=stream)
    qs = tuple((C.PROBE_ID_BASE + q, t) for q, t in qs)
    ids, vecs = _probes(run, enc, HYBRID, stream=stream + 1)

    def call():
        df = hy.search_batch(qs, _probe_df(run, ids, vecs), k=K)
        with run.tracer.span("bench.hybrid_collect"):
            return df.collect()

    return run.op("hybrid", call)


def _check_hybrid(run: Run, rows: list) -> None:
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(int(r.query_id), []).append((int(r.rank), float(r.rrf_score)))
    run.check(len(by_q) == HYBRID, f"hybrid: {len(by_q)} of {HYBRID} queries answered")
    for q, rk in by_q.items():
        rk.sort()
        run.check(q >= C.PROBE_ID_BASE and len(rk) == K
                  and [r for r, _ in rk] == list(range(1, K + 1))
                  and all(a[1] >= b[1] for a, b in zip(rk, rk[1:])),
                  f"hybrid query {q}: ranks or scores out of order")


# -- index for mutate ---------------------------------------------------
def _index(run: Run, stream: int = 1) -> tuple:
    """The index mutate works on: CorpusPipeline.run over a
    generated corpus with the untrained encoder, plus its text index."""
    from cloudvectordb_spark.api import CorpusPipeline, TextIndex
    from cloudvectordb_spark.catalog import load

    t = time.perf_counter()
    cols = run.corpus.documents(N_INDEX, stream=stream)
    sf = _write_sf(run, "corpus", cols)
    run.setup_gen_s += time.perf_counter() - t
    enc = _stub_encoder(run)
    ivf = os.path.join(run.tmp, "ivf")
    log("index corpus written")
    res = CorpusPipeline.run(run.spark, load(run.spark, sf, "documents"), ivf, k=CELLS,
                             encoder=enc)
    log("CorpusPipeline.run done")
    ti = TextIndex.open(run.spark, sf)
    log("text index done")
    live = _check_cells(run, ivf, "setup index")
    removed = _check_dedup(run, cols, live[0], "setup index")
    run.check(removed == res["removed"], f"setup index: removed {removed} != {res['removed']}")
    return cols, enc, res, ti, live


# -- mutate --------------------------------------------------------------
def mutate(run: Run, setup_done) -> None:
    """One write/read cycle on a CorpusPipeline.run index: append a doc
    delta (vectors and text), delete an id batch, then an ANN and a BM25
    batch through the tier-aware readers; one compaction at the end."""
    from cloudvectordb_spark.api import CorpusPipeline, VectorIndex
    from cloudvectordb_spark.operators.search import (
        append_text_artifacts,
        sharded_bm25_topk_batch_paths,
    )

    spark = run.spark
    cols, enc, res, ti, live = _index(run)
    ivf, root = res["index"].path, ti.path
    ref = R.BM25()
    ref.add(cols["doc_id"], cols["text"])
    # corpus docs that the delta copies as planted near-duplicates
    pool = {d: (t, lang) for d, t, lang in
            list(zip(cols["doc_id"], cols["text"], cols["lang"]))[:: N_INDEX // 300]}
    rng = np.random.default_rng([run.seed, 77])
    dels = [int(i) for i in rng.permutation(sorted(int(x) for x in live[0]))][:DELETE_IDS]
    delta = run.corpus.documents(DELTA_DOCS, first_id=N_INDEX, stream=6000,
                                 dup_sources=pool, dup_share=DELTA_DUP_SHARE)
    ddf = run.docs_df(delta)

    def one_round() -> None:
        nonlocal live
        out = run.op("append", lambda: CorpusPipeline.append(spark, ivf, ddf, encoder=enc))
        run.append_walls = {w: float(out["walls"].get(w, 0.0)) for w in APPEND_WALLS}
        run.op("text_append", lambda: append_text_artifacts(spark, ddf, root))
        run.ingest_docs_per_s = DELTA_DOCS / (run.walls["append"][0] + run.walls["text_append"][0])
        run.op("delete", lambda: VectorIndex.open(spark, ivf).delete(dels))
        ref.add(delta["doc_id"], delta["text"])
        live = R.read_index_vectors(ivf)
        run.layout = _layout(ivf)
        # some probes are appended survivors' own vectors
        pos = {int(v): j for j, v in enumerate(live[0])}
        appended = [d for d in delta["doc_id"] if d in pos][:APPENDED_PROBES]
        ids, vecs = _probes(run, enc, ANN_PROBES - len(appended), stream=9000)
        ids = ids + [C.PROBE_ID_BASE + ANN_PROBES + j for j in range(len(appended))]
        vecs = list(vecs) + [live[1][pos[d]] for d in appended]
        served = _ann(run, VectorIndex.open(spark, ivf), ids, vecs)
        _check_ann(run, served, ids, vecs, live, R.read_centroids(ivf), banned=dels)
        _check_appended(run, served, appended, "mutate")
        batch = run.corpus.query_batch(BM25_QUERIES, stream=7000)
        bm = _bm25(run, lambda: sharded_bm25_topk_batch_paths(spark, [root], batch, k=K))
        _check_bm25(run, bm, batch, ref, "mutate")
        removed = _check_dedup(run, delta, live[0], "mutate")
        run.check(removed == out["removed"], f"mutate: removed {removed} != {out['removed']}")
        run.check(not (set(dels) & set(live[0].tolist())), "mutate: deleted ids still indexed")

    # no warm-up cycle: it would cost as much as the timed one, and the
    # run would no longer fit its time (README)
    setup_done()
    _timed_round(run, one_round)
    before = R.read_index_vectors(ivf)
    run.timing = True
    compacted = run.op("compact", lambda: VectorIndex.open(spark, ivf).compact(f"{ivf}_compact"))
    run.timing = False
    after = _check_cells(run, compacted.path, "compacted index")
    run.check(_vec_set(before) == _vec_set(after), "compaction changed the live (vec_id, embedding) set")
    run.index_bytes_per_doc = (_ivf_bytes(compacted.path) + R.dir_bytes(root)) / (N_INDEX + DELTA_DOCS)


def _check_appended(run: Run, served: dict, appended: list, where: str) -> None:
    """Each appended doc, probed with its own vector under the id
    ``PROBE_ID_BASE + ANN_PROBES + j``, must come back at rank 1."""
    for j, d in enumerate(appended):
        got = served.get(C.PROBE_ID_BASE + ANN_PROBES + j, [])
        run.check(got[:1] == [d], f"{where}: appended doc {d} not at rank 1 ({got[:3]})")


def _vec_set(live: tuple) -> set:
    return {(int(i), tuple(np.asarray(e, dtype=np.float32).tolist())) for i, e in zip(live[0], live[1])}


WORKLOADS = {"build": build, "mutate": mutate}
