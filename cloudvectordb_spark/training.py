"""K4: encoder training boundary (SURVEY.md §2 K4; reference S2 "then
training encoders", /root/reference/README.md:2).

Training is NOT a DataFrame op — it's the one stage that leaves the
engine. The contract here is the *boundary*:

  triplet shards (A3 parquet, written by operators.pipeline.
  export_triplet_shards) -> train_encoder() -> an encoder ARTIFACT
  (directory with weights + meta) -> operators.pipeline.embed_documents
  loads it per-worker inside mapInPandas (S3).

Three implementations behind one artifact format:

- ``train_encoder_spark`` — the EXECUTED distributed path: synchronous
  data-parallel local SGD on the contrastive triplet margin loss, one
  ``applyInPandas`` task per shard per round, per-round weighted model
  averaging on the driver (parameter-averaged sync-SGD — the same
  data-parallel shape TorchDistributor coordinates with
  torch.distributed allreduce, expressed as Spark rounds so it runs —
  and is tested — in any environment, no torch required). Deterministic
  given (seed, shards): seeded init, per-shard sorted batches, sorted
  weighted reduce.
- ``train_encoder_distributed`` — the torch path: wraps
  ``pyspark.ml.torch.distributor.TorchDistributor`` (public PySpark
  API). Requires torch at runtime; this container ships none, so the
  call raises a clear error unless torch is importable. The train_fn is
  user-supplied — the engine does not own the model architecture.
- ``train_encoder_stub`` — a deterministic, dependency-free stand-in:
  "trains" a seeded random projection (numpy) from token-hash space to
  EMBED_DIM. Kept as the untrained baseline the spark-trained encoder
  must beat (tests/test_training.py).

All three emit the same artifact (encoder.npz proj + meta.json), so
``operators.pipeline.embed_with_artifact`` consumes any of them
unchanged.
"""

from __future__ import annotations

import json
import os

import numpy as np

EMBED_DIM = 64
_VOCAB_HASH_DIM = 1024


def train_encoder_stub(
    triplet_shard_dir: str, artifact_dir: str, dim: int = EMBED_DIM, seed: int = 42
) -> str:
    """Deterministic stand-in for S2: emit a seeded random-projection
    encoder artifact. Reads nothing from the shards beyond asserting they
    exist (the projection is data-independent), which keeps CI free of a
    torch dependency while exercising the artifact hand-off."""
    if not os.path.isdir(triplet_shard_dir):
        raise FileNotFoundError(f"triplet shards not found: {triplet_shard_dir}")
    rng = np.random.default_rng(seed)
    proj = rng.standard_normal((_VOCAB_HASH_DIM, dim)).astype(np.float32)
    os.makedirs(artifact_dir, exist_ok=True)
    np.savez(os.path.join(artifact_dir, "encoder.npz"), proj=proj)
    with open(os.path.join(artifact_dir, "meta.json"), "w") as f:
        json.dump({"dim": dim, "seed": seed, "kind": "stub-projection"}, f)
    return artifact_dir


def load_encoder_stub(artifact_dir: str) -> np.ndarray:
    """Load the stub artifact's projection matrix (workers call this once
    per partition inside mapInPandas)."""
    return np.load(os.path.join(artifact_dir, "encoder.npz"))["proj"]


def encode_texts_stub(texts: list[str], proj: np.ndarray) -> np.ndarray:
    """Hash-bag-of-words -> projection. Deterministic (CRC32, not Python's
    process-salted hash()); L2-normalized."""
    from zlib import crc32

    out = np.zeros((len(texts), proj.shape[1]), dtype=np.float32)
    for i, t in enumerate(texts):
        bag = np.zeros(proj.shape[0], dtype=np.float32)
        for tok in t.lower().split():
            bag[crc32(tok.encode()) % proj.shape[0]] += 1.0
        v = bag @ proj
        n = float(np.sqrt((v * v).sum()))
        out[i] = v / n if n > 0 else v
    return out


def hash_bag_features(texts: list[str], vocab: int = _VOCAB_HASH_DIM) -> np.ndarray:
    """L2-normalized hash-bag-of-words rows (CRC32 token hashing — the
    same featurization ``encode_texts_stub`` applies at inference, so a
    trained projection is consumed bit-compatibly)."""
    from zlib import crc32

    X = np.zeros((len(texts), vocab), dtype=np.float32)
    for i, t in enumerate(texts):
        for tok in t.lower().split():
            X[i, crc32(tok.encode()) % vocab] += 1.0
    n = np.sqrt((X * X).sum(axis=1, keepdims=True))
    n[n == 0] = 1.0
    return X / n


def _local_sgd(
    W: np.ndarray,
    a_txt: list[str],
    p_txt: list[str],
    n_txt: list[str],
    lr: float,
    epochs: int,
    margin: float,
) -> tuple[np.ndarray, float]:
    """Full-batch gradient steps on the triplet margin loss
    max(0, m - za.zp + za.zn) over one shard; returns (weights, loss
    BEFORE the final step) — the loss sequence across rounds is the
    convergence evidence the tests assert on."""
    Xa, Xp, Xn = (
        hash_bag_features(a_txt),
        hash_bag_features(p_txt),
        hash_bag_features(n_txt),
    )
    loss = 0.0
    for _ in range(epochs):
        Za, Zp, Zn = Xa @ W, Xp @ W, Xn @ W
        viol = margin - (Za * Zp).sum(axis=1) + (Za * Zn).sum(axis=1)
        active = viol > 0
        loss = float(np.maximum(viol, 0.0).mean())
        if not active.any():
            break
        Aa, Ap, An = Xa[active], Xp[active], Xn[active]
        Za_, Zp_, Zn_ = Aa @ W, Ap @ W, An @ W
        # d loss / dW for the active triplets (rank-k batched form)
        grad = (Aa.T @ (Zn_ - Zp_) + An.T @ Za_ - Ap.T @ Za_) / max(
            1, int(active.sum())
        )
        # Clip the step to a fixed Frobenius length: full-batch GD on this
        # loss diverges past a data-dependent lr threshold, and a norm-
        # clipped step is stable for ANY shard contents — required for a
        # trainer that must converge untuned on arbitrary shards.
        gn = float(np.sqrt((grad * grad).sum()))
        max_step = 0.05
        scale = lr if lr * gn <= max_step else max_step / gn
        W = W - scale * grad
    return W.astype(np.float32), loss


def train_encoder_spark(
    spark,
    triplet_shard_dir: str,
    artifact_dir: str,
    dim: int = EMBED_DIM,
    rounds: int = 12,
    local_epochs: int = 24,
    lr: float = 50.0,
    margin: float = 0.2,
    seed: int = 42,
) -> str:
    """The EXECUTED S2 path: distributed contrastive training as
    synchronous local-SGD + model averaging.

    Per round: broadcast the current weights; every shard runs
    ``local_epochs`` full-batch gradient steps on ITS triplets inside one
    ``applyInPandas`` task (Arrow-batched, executor-side numpy); the
    driver weight-averages the per-shard models (weights proportional to
    shard size) and records the data-weighted mean loss. This is
    parameter-averaged synchronous SGD — per-round communication is
    2 x |W| per shard (~256 KB here), independent of data size, and each
    round is an embarrassingly parallel stage: the 100 TB shape.

    Deterministic given (seed, shard contents, BLAS kernel): seeded
    init, shards sorted by anchor_id before the batch step, reduce over
    sorted shard_ids. Bit-determinism holds per BLAS kernel, not across
    kernels: OpenBLAS picks its float32 GEMM kernel for the CPU, and
    each kernel rounds differently, so the same inputs give different
    weight bytes on, say, a Haswell and a Cooperlake kernel. The
    committed golden is therefore keyed on the fixture sha plus a pinned
    kernel (``tools/make_golden.py``). Artifact format matches
    ``train_encoder_stub``, so ``embed_with_artifact`` consumes it
    unchanged.
    """
    import pandas as pd

    shards = spark.read.parquet(triplet_shard_dir).select(
        "shard_id", "anchor_id", "anchor_text", "pos_text", "neg_text"
    )
    rng = np.random.default_rng(seed)
    W = (
        rng.standard_normal((_VOCAB_HASH_DIM, dim)) / np.sqrt(_VOCAB_HASH_DIM)
    ).astype(np.float32)
    vocab = _VOCAB_HASH_DIM
    history: list[float] = []
    for _ in range(rounds):
        bw = spark.sparkContext.broadcast(W.tobytes())

        def fit_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
            Wl = (
                np.frombuffer(bw.value, dtype=np.float32)
                .reshape(vocab, dim)
                .copy()
            )
            pdf = pdf.sort_values("anchor_id").reset_index(drop=True)
            W2, loss = _local_sgd(
                Wl,
                list(pdf["anchor_text"]),
                list(pdf["pos_text"]),
                list(pdf["neg_text"]),
                lr,
                local_epochs,
                margin,
            )
            return pd.DataFrame(
                {
                    "shard_id": [int(pdf["shard_id"].iloc[0])],
                    "n": [len(pdf)],
                    "loss": [loss],
                    "w": [W2.tobytes()],
                }
            )

        fitted = sorted(
            shards.groupBy("shard_id")
            .applyInPandas(fit_shard, schema="shard_id long, n long, loss double, w binary")
            .collect(),
            key=lambda r: r.shard_id,
        )
        total = sum(r.n for r in fitted)
        acc = np.zeros((vocab, dim), dtype=np.float64)
        for r in fitted:
            acc += (r.n / total) * np.frombuffer(bytes(r.w), dtype=np.float32).reshape(
                vocab, dim
            ).astype(np.float64)
        W = acc.astype(np.float32)
        history.append(round(sum(r.loss * r.n for r in fitted) / total, 6))
        bw.destroy()

    os.makedirs(artifact_dir, exist_ok=True)
    np.savez(os.path.join(artifact_dir, "encoder.npz"), proj=W)
    with open(os.path.join(artifact_dir, "meta.json"), "w") as f:
        json.dump(
            {
                "dim": dim,
                "seed": seed,
                "kind": "spark-local-sgd",
                "rounds": rounds,
                "local_epochs": local_epochs,
                "lr": lr,
                "margin": margin,
                "loss_history": history,
            },
            f,
        )
    return artifact_dir


def train_encoder_distributed(
    train_fn, num_processes: int = 2, use_gpu: bool = False, **kwargs
):
    """The real S2 path: distribute ``train_fn`` with TorchDistributor.

    ``train_fn(**kwargs)`` runs once per process under torch.distributed;
    it should read triplet shards, run contrastive training, and write the
    artifact. Raises ImportError when torch is absent (this container)."""
    import importlib.util

    if importlib.util.find_spec("torch") is None:
        raise ImportError(
            "torch is not installed; use train_encoder_stub for CI, or install "
            "torch on the cluster for real encoder training"
        )
    from pyspark.ml.torch.distributor import TorchDistributor

    return TorchDistributor(
        num_processes=num_processes, local_mode=False, use_gpu=use_gpu
    ).run(train_fn, **kwargs)
