"""Regenerate tests/golden/trained_artifact.json — the committed golden
hashes gating the K4 trainer (round-4 verdict item 5).

Records, at sf0.001:
- fixture_sha: sha256 of documents.parquet (the golden is only valid for
  this exact fixture; the pytest SKIPS loudly if the driver regenerated
  testdata, rather than failing on unrelated data drift)
- proj_sha:    sha256 of the trained encoder.npz proj array bytes
- emb_sha:     sha256 over the embed_documents_trained_artifact rows
               (doc_id, dim, c1, c2) sorted by doc_id

The trainer is bit-deterministic per BLAS kernel, not across kernels: an
OpenBLAS built with DYNAMIC_ARCH picks its GEMM kernel for the CPU it
runs on, and each kernel rounds the float32 products differently. At
sf0.001 the generic x86-64 kernel (Prescott), Haswell, SkylakeX and
Cooperlake each give a different proj_sha. So the golden is keyed on the
fixture sha PLUS the pinned kernel: it is always recorded, and always
checked, in a child process whose environment comes from
``pinned_env`` — ``OPENBLAS_CORETYPE=GOLDEN_CORETYPE`` (inherited by the
JVM and its Python workers), ``OPENBLAS_VERBOSE=2`` so every process
reports the kernel it loaded (a silently ignored pin is caught), a fresh
``TMPDIR`` so ``ensure_trained_artifact`` trains anew instead of reusing
an artifact built under another kernel, and the repo root on
``PYTHONPATH`` so the workers can import the package.

Run after any INTENTIONAL trainer change: python tools/make_golden.py
(``--print`` computes in the current process and environment and prints
the JSON without writing; the pinned child runs that mode).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(REPO, "tests", "golden", "trained_artifact.json")
# The kernel the committed golden was recorded with: OpenBLAS's generic
# x86-64 kernel, which every x86-64 CPU can run.
GOLDEN_CORETYPE = "Prescott"


def file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def pin_unavailable_reason() -> str | None:
    """Why the BLAS kernel cannot be pinned here, or None when it can.

    ``OPENBLAS_CORETYPE`` is honoured only by an OpenBLAS built with
    DYNAMIC_ARCH, and the Prescott kernel exists only on x86-64."""
    import platform

    import numpy as np

    machine = platform.machine().lower()
    if machine not in ("x86_64", "amd64"):
        return f"BLAS kernel pin needs x86-64, this machine is {machine}"
    blas = np.show_config(mode="dicts").get("Build Dependencies", {}).get("blas", {})
    if "openblas" not in str(blas.get("name", "")).lower():
        return f"numpy's BLAS is {blas.get('name')!r}, not OpenBLAS"
    if "DYNAMIC_ARCH=1" not in str(blas.get("openblas configuration", "")):
        return "numpy's OpenBLAS is not built with DYNAMIC_ARCH=1"
    return None


def pinned_env(tmpdir: str) -> dict[str, str]:
    """The environment the golden is recorded and checked under (see the
    module docstring for why each variable is set)."""
    env = dict(os.environ)
    env["OPENBLAS_CORETYPE"] = GOLDEN_CORETYPE
    env["OPENBLAS_VERBOSE"] = "2"
    env["TMPDIR"] = tmpdir
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    return env


def compute_pinned() -> tuple[dict, str]:
    """Run ``compute`` in a child process under ``pinned_env`` with a
    fresh TMPDIR. Returns (golden dict, the child's stderr, which carries
    OpenBLAS's ``Core: <kernel>`` reports)."""
    with tempfile.TemporaryDirectory(
        prefix="cloudvectordb-golden-", ignore_cleanup_errors=True
    ) as tmp:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--print"],
            env=pinned_env(tmp),
            cwd=REPO,
            capture_output=True,
            text=True,
        )
    if proc.returncode != 0:
        raise RuntimeError(
            f"pinned golden run exited {proc.returncode}:\n{proc.stderr[-4000:]}"
        )
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def reported_cores(log: str) -> set[str]:
    """The kernels OpenBLAS reported loading (``OPENBLAS_VERBOSE=2``
    prints ``Core: <kernel>`` once per process that loads it)."""
    return set(re.findall(r"Core: (\w+)", log))


def compute(spark) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from cloudvectordb_spark.catalog import load
    from cloudvectordb_spark.operators.pipeline import (
        embed_with_artifact,
        ensure_trained_artifact,
    )

    art = ensure_trained_artifact(spark, SF_DIR)
    proj = np.load(os.path.join(art, "encoder.npz"))["proj"]
    # (doc_id, dim, c1, c2) per doc — the summary the registered query
    # used to expose before it switched to contract invariants in round 7;
    # computed here directly from the embeddings so the committed golden
    # emb_sha stays comparable across that change.
    out = embed_with_artifact(
        load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 200), art
    ).select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 5).alias("c1"),
        F.round(F.element_at("embedding", 2).cast("double"), 5).alias("c2"),
    )
    rows = sorted((r.doc_id, r.dim, r.c1, r.c2) for r in out.collect())
    emb_repr = ";".join(f"{d}:{dim}:{c1:.5f}:{c2:.5f}" for d, dim, c1, c2 in rows)
    return {
        "sf_dir": SF_DIR,
        "fixture_sha": file_sha(os.path.join(SF_DIR, "documents.parquet")),
        "proj_sha": hashlib.sha256(proj.tobytes()).hexdigest(),
        "proj_shape": list(proj.shape),
        "emb_sha": hashlib.sha256(emb_repr.encode()).hexdigest(),
        "n_emb_rows": len(rows),
    }


if __name__ == "__main__":
    if "--print" in sys.argv[1:]:
        from cloudvectordb_spark.session import get_session

        print(json.dumps(compute(get_session("make-golden"))))
        sys.exit(0)
    reason = pin_unavailable_reason()
    if reason:
        sys.exit(f"cannot record the golden: {reason}")
    golden, log = compute_pinned()
    cores = reported_cores(log)
    if cores != {GOLDEN_CORETYPE}:
        sys.exit(f"OpenBLAS kernel pin not honoured: child reported cores {cores}")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(golden, f, indent=2)
    print(json.dumps(golden, indent=2))
    print(f"wrote {OUT}")
