"""K4 boundary: stub encoder training artifact round-trip + determinism.
The real TorchDistributor path needs torch (absent here) and must fail
with a clear ImportError, not a deep stack."""

from __future__ import annotations

import numpy as np
import pytest

from cloudvectordb_spark.training import (
    encode_texts_stub,
    load_encoder_stub,
    train_encoder_distributed,
    train_encoder_stub,
)


def test_stub_train_roundtrip(tmp_path):
    shards = tmp_path / "shards"
    shards.mkdir()
    art = train_encoder_stub(str(shards), str(tmp_path / "artifact"))
    proj = load_encoder_stub(art)
    assert proj.shape == (1024, 64) and proj.dtype == np.float32
    # same seed -> identical artifact
    art2 = train_encoder_stub(str(shards), str(tmp_path / "artifact2"))
    assert np.array_equal(proj, load_encoder_stub(art2))


def test_stub_encode_deterministic_and_normalized(tmp_path):
    shards = tmp_path / "s"
    shards.mkdir()
    proj = load_encoder_stub(train_encoder_stub(str(shards), str(tmp_path / "a")))
    v1 = encode_texts_stub(["the quick brown fox", "hola el mundo"], proj)
    v2 = encode_texts_stub(["the quick brown fox", "hola el mundo"], proj)
    assert np.array_equal(v1, v2)
    norms = np.sqrt((v1.astype(np.float64) ** 2).sum(axis=1))
    assert np.allclose(norms, 1.0, atol=1e-5)


def test_missing_shards_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        train_encoder_stub(str(tmp_path / "nope"), str(tmp_path / "a"))


def test_distributed_path_requires_torch():
    with pytest.raises(ImportError, match="torch"):
        train_encoder_distributed(lambda: None)


@pytest.fixture(scope="module")
def trained(spark, sf_dir, tmp_path_factory):
    """One real distributed training run shared by the K4 tests: mine
    text triplets at sf0.001, export shards, run train_encoder_spark."""
    import json
    import os

    from cloudvectordb_spark.operators.pipeline import (
        build_text_triplets,
        export_triplet_shards,
    )
    from cloudvectordb_spark.training import train_encoder_spark

    root = tmp_path_factory.mktemp("k4")
    shards = str(root / "shards")
    export_triplet_shards(build_text_triplets(spark, sf_dir), shards)
    art = train_encoder_spark(spark, shards, str(root / "artifact"))
    with open(os.path.join(art, "meta.json")) as f:
        meta = json.load(f)
    return shards, art, meta


def _triplet_accuracy(proj, triplets):
    """Fraction of triplets where cosine(anchor, pos) > cosine(anchor, neg)."""
    a = encode_texts_stub([t[0] for t in triplets], proj)
    p = encode_texts_stub([t[1] for t in triplets], proj)
    n = encode_texts_stub([t[2] for t in triplets], proj)
    return float(((a * p).sum(axis=1) > (a * n).sum(axis=1)).mean())


def test_spark_training_executes_and_loss_decreases(trained):
    """K4's REAL path must actually run: per-shard local SGD on Spark
    tasks with per-round model averaging, and the data-weighted triplet
    loss must strictly improve from the seeded init to the final round."""
    _, art, meta = trained
    assert meta["kind"] == "spark-local-sgd"
    hist = meta["loss_history"]
    assert len(hist) == meta["rounds"] >= 2
    assert hist[-1] < hist[0] * 0.9, f"no convergence: {hist}"
    proj = load_encoder_stub(art)
    assert proj.shape == (1024, 64) and proj.dtype == np.float32
    assert np.isfinite(proj).all()


def test_spark_trained_encoder_beats_random_projection(spark, trained, tmp_path):
    """The trained projection must rank same-language docs closer than
    cross-language ones MORE often than the untrained seeded projection —
    training demonstrably moved the weights toward the objective."""
    shards, art, _ = trained
    rows = (
        spark.read.parquet(shards)
        .select("anchor_text", "pos_text", "neg_text")
        .collect()
    )
    triplets = [(r.anchor_text, r.pos_text, r.neg_text) for r in rows]
    stub_dir = tmp_path / "stub"
    (tmp_path / "empty").mkdir()
    train_encoder_stub(str(tmp_path / "empty"), str(stub_dir))
    acc_stub = _triplet_accuracy(load_encoder_stub(str(stub_dir)), triplets)
    acc_trained = _triplet_accuracy(load_encoder_stub(art), triplets)
    assert acc_trained > acc_stub + 0.05, (
        f"trained {acc_trained:.3f} vs stub {acc_stub:.3f}"
    )
    assert acc_trained > 0.7


def test_spark_training_is_deterministic(spark, trained, tmp_path):
    """Same seed + same shards -> bit-identical artifact (seeded init,
    sorted per-shard batches, sorted weighted reduce)."""
    from cloudvectordb_spark.training import train_encoder_spark

    shards, art, _ = trained
    art2 = train_encoder_spark(spark, shards, str(tmp_path / "again"))
    assert np.array_equal(load_encoder_stub(art), load_encoder_stub(art2))


def test_trained_artifact_embeds_through_pipeline(spark, sf_dir):
    """S2->S3 hand-off: the registered query embeds through the TRAINED
    artifact with stable shape and unit-normalized vectors."""
    from cloudvectordb_spark.operators.pipeline import (
        embed_with_artifact,
        ensure_trained_artifact,
    )

    art = ensure_trained_artifact(spark, sf_dir)
    from cloudvectordb_spark.catalog import load as _load
    from pyspark.sql import functions as F

    docs = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = embed_with_artifact(docs, art).collect()
    assert len(out) == 50
    for r in out:
        v = np.asarray(r.embedding, dtype=np.float64)
        assert v.shape == (64,)
        assert abs(float(np.sqrt((v * v).sum())) - 1.0) < 1e-4


def _ivf_eval(spark, emb_df, doc_lang: dict, topk: int = 10):
    """(index-recall@topk vs exact, same-lang precision@topk) through a
    k=8 IVF layout with an nprobe=2 pruned scan — the serve-side shape,
    evaluated driver-side on the collected sf0.001 corpus (500 rows)."""
    from pyspark.sql import functions as F

    from cloudvectordb_spark.operators.pipeline import build_ivf_assignments

    assigned, cents_df = build_ivf_assignments(emb_df, k=8)
    rows = assigned.collect()
    cents = sorted(
        (r.centroid_id, np.asarray(r.centroid)) for r in cents_df.collect()
    )
    ids = np.array([r.vec_id for r in rows])
    M = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    cell = np.array([r.centroid_id for r in rows])
    cm = np.stack([c for _, c in cents])
    cid = np.array([c0 for c0, _ in cents])
    rec, prec = [], []
    for qi in range(0, len(ids), 31):
        v = M[qi]
        sims = M @ v
        exact = set(ids[np.argsort(-sims)[1 : topk + 1]])
        probe = cid[np.argsort(((cm - v) ** 2).sum(axis=1))[:2]]
        idx = np.where(np.isin(cell, probe))[0]
        so = idx[np.argsort(-sims[idx])]
        so = so[ids[so] != ids[qi]][:topk]
        approx = set(ids[so])
        rec.append(len(approx & exact) / topk)
        qlang = doc_lang[int(ids[qi])]
        prec.append(
            float(np.mean([doc_lang[int(x)] == qlang for x in approx]))
        )
    return float(np.mean(rec)), float(np.mean(prec))


def test_trained_e2e_index_recall_beats_stub(spark, sf_dir, tmp_path):
    """Round-8 verdict #3: the FULL S1→S4 chain with the real learned
    encoder — train (cached artifact) → embed corpus → build IVF →
    search through the pruned layout — gated on recall@10 vs exact AND
    vs the stub encoder. The trained embedding space clusters by
    language (the training objective), so it must both (a) IVF-index
    better than the hash-random stub space and (b) retrieve same-lang
    docs above chance."""
    from pyspark.sql import functions as F

    from cloudvectordb_spark.catalog import load as _load
    from cloudvectordb_spark.operators.pipeline import (
        embed_with_artifact,
        ensure_trained_artifact,
    )

    docs = _load(spark, sf_dir, "documents")
    doc_lang = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    n_langs = len(set(doc_lang.values()))

    art_t = ensure_trained_artifact(spark, sf_dir)
    (tmp_path / "empty").mkdir()
    art_s = train_encoder_stub(str(tmp_path / "empty"), str(tmp_path / "stub"))

    def emb_for(art):
        return embed_with_artifact(docs, art).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )

    rec_t, prec_t = _ivf_eval(spark, emb_for(art_t), doc_lang)
    rec_s, prec_s = _ivf_eval(spark, emb_for(art_s), doc_lang)

    # measured at pin time: trained 0.847/0.224, stub 0.676/0.182
    assert rec_t >= rec_s, f"trained {rec_t:.3f} < stub {rec_s:.3f}"
    assert rec_t >= 0.7, f"trained index recall@10 {rec_t:.3f} below floor"
    assert prec_t > prec_s, f"lang prec {prec_t:.3f} <= stub {prec_s:.3f}"
    assert prec_t > 1.0 / n_langs, (
        f"trained lang precision {prec_t:.3f} not above chance (1/{n_langs})"
    )


def test_trained_artifact_matches_committed_golden():
    """Round-4 verdict item 5: a regression in the trainer must break
    pytest, not just downstream recall. The committed golden
    (tests/golden/trained_artifact.json, regenerate via
    tools/make_golden.py after INTENTIONAL trainer changes) pins the
    artifact's proj bytes AND the embedded output at sf0.001.

    The trainer is bit-deterministic per BLAS kernel, not across
    kernels, so the golden is keyed on the fixture's sha256 PLUS the
    pinned OpenBLAS kernel (make_golden.GOLDEN_CORETYPE). The check runs
    in a child process under make_golden.pinned_env: the kernel pin
    (inherited by the JVM and its Python workers) and a fresh TMPDIR, so
    the artifact is trained anew under that kernel rather than reused
    from this session's cache. The child's OpenBLAS must report the
    pinned kernel, so a silently ignored pin fails loudly. If the
    testdata was regenerated the test SKIPS loudly instead of failing on
    data drift; it also skips where numpy's BLAS cannot be pinned (not
    OpenBLAS with DYNAMIC_ARCH on x86-64)."""
    import json
    import os

    import pytest as _pytest

    from tools.make_golden import (
        GOLDEN_CORETYPE,
        OUT,
        SF_DIR,
        compute_pinned,
        file_sha,
        pin_unavailable_reason,
        reported_cores,
    )

    if not os.path.exists(OUT):
        _pytest.skip("no committed golden (run tools/make_golden.py)")
    with open(OUT) as f:
        golden = json.load(f)
    live_fixture = file_sha(os.path.join(SF_DIR, "documents.parquet"))
    if live_fixture != golden["fixture_sha"]:
        _pytest.skip(
            "fixture regenerated since golden was committed — rerun "
            "tools/make_golden.py to re-pin"
        )
    reason = pin_unavailable_reason()
    if reason:
        _pytest.skip(f"golden is keyed on an OpenBLAS kernel pin: {reason}")
    live, log = compute_pinned()
    cores = reported_cores(log)
    assert cores == {GOLDEN_CORETYPE}, (
        f"OpenBLAS kernel pin not honoured: child reported cores {cores}"
    )
    assert live["proj_sha"] == golden["proj_sha"], "trainer weights drifted"
    assert live["proj_shape"] == golden["proj_shape"]
    assert live["emb_sha"] == golden["emb_sha"], "embedded output drifted"
    assert live["n_emb_rows"] == golden["n_emb_rows"]


def test_linear_probe_gd_learns_and_is_oracle_shaped(spark, sf_dir):
    """K4 value-oracle query: the 3-round GD probe must actually LEARN
    (final MSE beats the w=0 baseline, whose MSE is exactly the positive
    rate) and stay within the rounding discipline (every weight a
    6-dp-exact double)."""
    from cloudvectordb_spark.catalog import load
    from cloudvectordb_spark.operators.pipeline import linear_probe_train_gd

    row = linear_probe_train_gd(spark, sf_dir).collect()[0].asDict()
    base = (
        load(spark, sf_dir, "embeddings")
        .selectExpr("avg(cast(label = 0 as double)) AS p")
        .collect()[0]
        .p
    )
    assert row["train_mse"] < base, "probe failed to beat the w=0 baseline"
    for k, v in row.items():
        assert v == round(v, 6), f"{k} not 6-dp exact: {v}"
    assert any(abs(row[f"w{j}"]) > 0 for j in range(9)), "weights never moved"


def test_linear_probe_ridge_learns_and_is_oracle_shaped(spark, sf_dir):
    """K4 second value-oracle query (closed-form): the normal-equation
    ridge solve must beat the intercept-free w=0 baseline (MSE = the
    positive rate), keep 6-dp-exact weights, and produce a nonzero
    intercept (the solve actually ran — an all-zero solution would mean
    a degenerate Gram matrix slipped through)."""
    from cloudvectordb_spark.catalog import load
    from cloudvectordb_spark.operators.pipeline import linear_probe_train_ridge

    row = linear_probe_train_ridge(spark, sf_dir).collect()[0].asDict()
    base = (
        load(spark, sf_dir, "embeddings")
        .selectExpr("avg(cast(label = 0 as double)) AS p")
        .collect()[0]
        .p
    )
    assert row["train_mse"] < base, "ridge failed to beat the w=0 baseline"
    for k, v in row.items():
        assert v == round(v, 6), f"{k} not 6-dp exact: {v}"
    assert abs(row["w0"]) > 0, "intercept is zero: degenerate solve"
