"""Spans around the calls into each layer, recorded from the benchmark.

The traced run wraps the public functions listed in ``TRACED`` (module
attribute or class attribute, so callers that import them at call time
reach the wrapper) and records one span per call: name, start, end and
parent. At the same boundaries it counts

- ``py4j_calls``: commands the driver sent to the JVM while the span was
  the innermost one on its thread (the client's ``send_command`` is
  wrapped only in the traced run);
- ``jobs``, ``stages``, ``tasks``: every span tags its thread's Spark
  jobs with its own job group, read back through ``statusTracker()``;
- ``task_cpu_s``, ``shuffle_bytes``: executor CPU time and shuffle bytes
  written by the tasks of those jobs, from the Spark event log that the
  traced run turns on through its submit conf.

Counts are per span and then summed up the span tree, so a span's
figures include its children's. Many wrapped functions only build a
lazy DataFrame: their span then holds plan-build time and py4j chatter,
and the work lands in the span of the action that consumes it
(``bench.*_collect`` and friends).

The untraced run installs nothing: no wrappers, no job groups, no event
log.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import threading
import time

# (module, attribute path, kind); kind is "func" or "static"/"method"
# for attributes of a class. Span names are "<module>.<attribute>".
TRACED = (
    ("session", "get_session", "func"),
    ("operators.pipeline", "build_text_triplets", "func"),
    ("operators.pipeline", "export_triplet_shards", "func"),
    ("training", "train_encoder_spark", "func"),
    ("api", "CorpusPipeline.run", "static"),
    ("operators.dedup", "minhash_sigs", "func"),
    ("operators.dedup", "minhash_pairs_within", "func"),
    ("operators.dedup", "connected_components", "func"),
    ("operators.pipeline", "build_ivf_assignments", "func"),
    ("operators.kmeans_det", "lloyd_centroids", "func"),
    ("operators.kmeans_det", "assign_cells", "func"),
    ("operators.pipeline", "write_ivf_index", "func"),
    ("operators.search", "ensure_text_index", "func"),
    ("operators.kmeans_det", "nearest_cells_batch", "func"),
    ("api", "VectorIndex.search_batch", "method"),
    ("operators.pipeline", "ivf_batch_search_strict", "func"),
    ("operators.search", "bm25_scores_batch", "func"),
    ("operators.search", "batch_topk_per_query", "func"),
    ("operators.search", "sharded_bm25_topk_batch_paths", "func"),
    ("api", "HybridIndex.search_batch", "method"),
    ("api", "CorpusPipeline.append", "static"),
    ("operators.pipeline", "append_to_ivf_index", "func"),
    ("operators.pipeline", "remove_vectors_from_index", "func"),
    ("operators.pipeline", "compact_ivf_index", "func"),
    ("operators.search", "append_text_artifacts", "func"),
)

_ALL = ("wall_s", "self_s", "jobs", "stages", "tasks", "py4j_calls",
        "task_cpu_s", "shuffle_bytes")
_LAZY = ("wall_s", "py4j_calls")
_WORK = ("wall_s", "jobs", "stages", "tasks", "task_cpu_s", "shuffle_bytes")
_READ = ("wall_s", "self_s", "jobs", "py4j_calls")

# which measures are reported per span name: the full set where a call
# does its own Spark work, plan-build measures where it returns a lazy
# frame, and the action measures for the benchmark's own collects
MEASURES = {
    "session.get_session": ("wall_s",),
    "pipeline.build_text_triplets": _LAZY,
    "pipeline.export_triplet_shards": _WORK,
    "training.train_encoder_spark": _ALL,
    "api.CorpusPipeline.run": _ALL,
    "dedup.minhash_sigs": _LAZY,
    "dedup.minhash_pairs_within": _LAZY,
    "dedup.connected_components": ("wall_s", "jobs", "task_cpu_s"),
    "pipeline.build_ivf_assignments": ("wall_s", "self_s", "jobs", "task_cpu_s"),
    "kmeans_det.lloyd_centroids": ("wall_s", "jobs", "stages", "tasks", "task_cpu_s"),
    "kmeans_det.assign_cells": ("wall_s",),
    "pipeline.write_ivf_index": _WORK,
    "search.ensure_text_index": _WORK,
    "kmeans_det.nearest_cells_batch": ("wall_s",),
    "api.VectorIndex.search_batch": _READ,
    "pipeline.ivf_batch_search_strict": _LAZY,
    "search.bm25_scores_batch": _LAZY,
    "search.batch_topk_per_query": _LAZY,
    "search.sharded_bm25_topk_batch_paths": ("wall_s", "jobs", "py4j_calls"),
    "api.HybridIndex.search_batch": _READ,
    "api.CorpusPipeline.append": _ALL,
    "pipeline.append_to_ivf_index": ("wall_s", "jobs", "task_cpu_s"),
    "pipeline.remove_vectors_from_index": ("wall_s", "jobs", "stages", "task_cpu_s"),
    "pipeline.compact_ivf_index": _WORK,
    "search.append_text_artifacts": _WORK,
    "bench.ann_collect": _WORK,
    "bench.bm25_collect": _WORK,
    "bench.hybrid_collect": _WORK,
}

# the stage walls CorpusPipeline.append returns, summed over a run
APPEND_WALLS = ("delta_sig_s", "dedup_cc_s", "embed_append_s", "state_roll_s")
# index layout after the last write, read from the index directory
LAYOUT = ("pipeline.l0_tier.rows", "pipeline.l0_tier.files",
          "pipeline.cells.files_per_cell")

UNITS = {"wall_s": "s", "self_s": "s", "task_cpu_s": "s", "shuffle_bytes": "bytes"}


def per_layer_names() -> list:
    """Every per-layer metric name, in report order."""
    names = [f"{span}.{m}" for span, ms in MEASURES.items() for m in ms]
    names += [f"api.CorpusPipeline.append.{w}" for w in APPEND_WALLS]
    return names + list(LAYOUT)


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[1], "s" if name.endswith("_s") else "count")


class Tracer:
    """Records spans; a disabled tracer's ``span`` is a no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._sc = None
        self._paused = threading.local()
        self._t0 = time.perf_counter()

    # -- install -------------------------------------------------------
    def install(self) -> None:
        """Wrap every TRACED function (traced run only)."""
        if not self.enabled:
            return
        for mod_name, attr, kind in TRACED:
            mod = importlib.import_module(f"cloudvectordb_spark.{mod_name}")
            span = f"{mod_name.rsplit('.', 1)[-1]}.{attr}"
            if kind == "func":
                setattr(mod, attr, self._wrap(span, getattr(mod, attr)))
                continue
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            fn = cls.__dict__[meth]
            if kind == "static":
                setattr(cls, meth, staticmethod(self._wrap(span, fn.__func__)))
            else:
                setattr(cls, meth, self._wrap(span, fn))

    def attach(self, spark) -> None:
        """Count py4j commands sent by this session's gateway client."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(*a, **kw):
            if not getattr(tracer._paused, "on", False):
                top = tracer._top()
                if top is not None:
                    top["py4j_calls"] += 1
            return send(*a, **kw)

        client.send_command = counted

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _top(self):
        st = self._stack()
        return st[-1] if st else None

    def _jvm(self, fn):
        """Run a bookkeeping call to the JVM without counting it."""
        self._paused.on = True
        try:
            return fn()
        finally:
            self._paused.on = False

    @contextlib.contextmanager
    def span(self, name: str):
        """One span around the block; nothing when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = self._enter(name)
        try:
            yield rec
        finally:
            self._exit(rec)

    def _enter(self, name: str) -> dict:
        parent = self._top()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "py4j_calls": 0,
            "group": None,
            "jobs": [],
        }
        if self._sc is not None:
            rec["group"] = f"perfbench-span-{rec['id']}"
            sc = self._sc
            self._jvm(lambda: sc.setLocalProperty("spark.jobGroup.id", rec["group"]))
        self._stack().append(rec)
        self.spans.append(rec)
        return rec

    def _exit(self, rec: dict) -> None:
        rec["end"] = time.perf_counter() - self._t0
        self._stack().pop()
        sc = self._sc
        if sc is None or rec["group"] is None:
            return
        parent = self._top()
        prev = parent["group"] if parent else None
        rec["jobs"] = self._jvm(lambda: self._job_counts(rec["group"]))
        self._jvm(lambda: sc.setLocalProperty("spark.jobGroup.id", prev))

    def _job_counts(self, group: str) -> list:
        """[(job_id, n_stages, n_tasks)] of one job group."""
        st = self._sc.statusTracker()
        out = []
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            tasks = 0
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
            out.append((int(jid), len(info.stageIds), tasks))
        return out

    # -- report --------------------------------------------------------
    def report(self, event_log_dir: str | None, extra: dict) -> tuple:
        """(per-layer metric dict, span records) for the traced run."""
        task_cpu, shuffle = _event_log_by_group(event_log_dir)
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        own = {}
        for s in self.spans:
            g = s["group"]
            own[s["id"]] = {
                "py4j_calls": s["py4j_calls"],
                "jobs": len(s["jobs"]),
                "stages": sum(j[1] for j in s["jobs"]),
                "tasks": sum(j[2] for j in s["jobs"]),
                "task_cpu_s": task_cpu.get(g, 0.0),
                "shuffle_bytes": shuffle.get(g, 0),
            }

        def inclusive(s) -> dict:
            tot = dict(own[s["id"]])
            child_wall = 0.0
            for c in kids.get(s["id"], ()):
                ci = inclusive(c)
                child_wall += c["end"] - c["start"]
                for k in tot:
                    tot[k] += ci[k]
            wall = s["end"] - s["start"]
            s["wall_s"] = wall
            s["self_s"] = wall - child_wall
            s.update({f"incl_{k}": v for k, v in tot.items()})
            return tot

        for root in kids.get(None, ()):
            inclusive(root)
        metrics = {n: 0.0 for n in per_layer_names()}
        for s in self.spans:
            if s["end"] is None or s["name"] not in MEASURES:
                continue
            for m in MEASURES[s["name"]]:
                key = f"{s['name']}.{m}"
                if m in ("wall_s", "self_s"):
                    metrics[key] += s[m]
                else:
                    metrics[key] += s[f"incl_{m}"]
        metrics.update(extra)
        return metrics, self.spans


def _event_log_by_group(log_dir: str | None) -> tuple:
    """({job group: executor CPU s}, {job group: shuffle bytes written})
    from the Spark event log files under ``log_dir``."""
    cpu: dict = {}
    shuffle: dict = {}
    if not log_dir or not os.path.isdir(log_dir):
        return cpu, shuffle
    stage_group: dict = {}
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            # rolling logs: events_<n>_<app id>, read in <n> order (the
            # directory also holds an empty appstatus marker)
            if n.startswith("events_"):
                files.append((dirpath, int(n.split("_")[1]), n))
    for dirpath, _, fn in sorted(files):
        with open(os.path.join(dirpath, fn)) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    cpu[g] = cpu.get(g, 0.0) + tm.get("Executor CPU Time", 0) / 1e9
                    sw = tm.get("Shuffle Write Metrics") or {}
                    shuffle[g] = shuffle.get(g, 0) + sw.get("Shuffle Bytes Written", 0)
    return cpu, shuffle
