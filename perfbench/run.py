"""Benchmark command: the S1->S4 build and batch serving on a mutated index.

    python3 perfbench/run.py --workload {build,mutate} --seed N \\
        --seconds S --trace {0,1}

Run it from the repository root: the engine (``cloudvectordb_spark``) is
imported from the working directory. Inputs are generated from
``--seed``; the program only sees the generated documents, queries and
probes. A run times one round of the workload, whose timed calls take
longer than the ``--seconds`` the benchmark is run with (10); ``build``
sends each search batch twice and counts it at its median. With
``--trace 0`` the last line of standard output is one JSON object with
every end-to-end metric; with ``--trace 1`` it carries the
per-layer metrics instead, and the span records are written to
``.perfbench_out/trace-<workload>-<seed>.json``. A detail line before
it gives the run's context (steal, load, CPU per operation kind,
versions and the workload's own figures).

Each run works in a fresh directory under ``.perfbench_out/`` that it
uses as TMPDIR, Spark local dir and JVM temp dir and removes at the end,
so no cache the engine keeps under ``tempfile.gettempdir()`` carries
over from an earlier run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402

PROC_START = procstat.process_start_epoch()
OUT_DIR = ".perfbench_out"

# end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "CPU-s",
    "search_s": "s",
    "recall_at_10": "fraction",
    "index_bytes_per_doc": "bytes",
    "ingest_docs_per_s": "docs/s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "mutate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(tmp: str, traced: bool) -> str | None:
    """Point every temp location of the driver, the JVM and the Python
    workers into ``tmp``; returns the event-log dir of a traced run."""
    import tempfile

    os.makedirs(os.path.join(tmp, "local"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * ncpu)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )
    # C1-only JIT: a run is one short-lived driver JVM that spends most of
    # its life warming up, and full tiered compilation made set-up slower
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    conf = [
        "--driver-java-options", f'"{java}"',
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    events = None
    if traced:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return events


def _shutdown(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    if spark is None:
        return
    kids = procstat.descendants(os.getpid())
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception as exc:  # the JVM may already be gone
            print(f"gateway shutdown: {exc!r}", file=sys.stderr)
        if proc is not None:
            proc.stdin.close()  # the launched JVM exits at EOF on stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        for pid in kids:
            while _alive(pid):
                if time.time() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _measure(args, tmp: str, events: str | None) -> tuple:
    """Set up, run the workload, stop Spark; (run, context, per-layer
    metrics or None)."""
    import tracer as T
    import workloads as W

    tr = T.Tracer(bool(args.trace))
    spark = None
    ctx: dict = {"loadavg_1m": []}

    def setup_done():
        ctx["setup_end"] = time.time()
        ctx["steal0"] = procstat.steal_s()
        ctx["loadavg_1m"].append(procstat.loadavg_1m())

    try:
        tr.install()
        from cloudvectordb_spark import session

        W.log("start")
        spark = session.get_session("perfbench")
        W.log("session up")
        tr.attach(spark)
        run = W.Run(spark, tr, tmp, args.seed)
        W.WORKLOADS[args.workload](run, setup_done)
        ctx["timed_phase_s"] = time.time() - ctx["setup_end"]
        ctx["steal_s"] = procstat.steal_s() - ctx["steal0"]
        ctx["loadavg_1m"].append(procstat.loadavg_1m())
    finally:
        _shutdown(spark)
    W.log("stopped")
    ctx["cpu_probe_s"] = procstat.cpu_probe_s()
    layer = None
    if tr.enabled:
        extra = {f"api.CorpusPipeline.append.{k}": v for k, v in run.append_walls.items()}
        layer, spans = tr.report(events, {**extra, **run.layout})
        with open(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, f)
    return run, ctx, layer


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir("cloudvectordb_spark"):
        print("perfbench: run from the repository root (no cloudvectordb_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    tmp = os.path.abspath(os.path.join(OUT_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"))
    try:
        events = _isolate(tmp, bool(args.trace))
        run, ctx, layer = _measure(args, tmp, events)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    import pyspark

    import tracer as T
    import workloads as W

    e2e = {
        "setup_s": ctx["setup_end"] - PROC_START - run.setup_gen_s,
        "round_cpu_s": run.round_cpu_s,
        "search_s": run.search_s,
        "recall_at_10": statistics.fmean(run.recall),
        "index_bytes_per_doc": run.index_bytes_per_doc,
        "ingest_docs_per_s": run.ingest_docs_per_s,
    }
    run.check(e2e["recall_at_10"] >= W.RECALL_FLOOR,
              f"recall@10 {e2e['recall_at_10']:.3f} below floor {W.RECALL_FLOOR}")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": bool(args.trace),
        "timed_phase_s": round(ctx["timed_phase_s"], 3),
        "steal_s": round(ctx["steal_s"], 2),
        "loadavg_1m": ctx["loadavg_1m"],
        "cpu_probe_s": round(ctx["cpu_probe_s"], 4),
        "cpu_s_per_op": {k: [round(x, 3) for x in v] for k, v in run.cpu.items()},
        "wall_s_per_op": {k: [round(x, 3) for x in v] for k, v in run.walls.items()},
        "workload_figures": run.extra,
        "end_to_end": e2e,
        "problems": run.problems[:20],
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
    }
    print("perfbench detail " + json.dumps(detail))
    if layer is not None:
        metrics = {n: {"value": layer[n], "unit": T.unit_of(n)} for n in T.per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": 0,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
