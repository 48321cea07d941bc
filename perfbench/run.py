"""Benchmark entry point.

    python3 perfbench/run.py --workload color --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process on ``local[nproc]``: generates its
inputs from ``--seed``, starts the session, then repeats the workload's
cycle (one driver thread, one call at a time, starting with
``release_session_caches``) until ``--seconds`` have passed, always
finishing at least one cycle.  At the sizes here one cycle outlasts
``--seconds``, so a run measures one cycle in a fresh process, first
calls included.  A cycle's time is the sum of its calls into the
package.  Every cycle's outputs are checked independently of the
program.

Stdout ends with two JSON lines: a detail record (provenance, input
sizes, every per-workload metric with its samples) and the result line
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` Spark's event
log is on and the metrics are the per-layer ones (see eventlog.py).
The exit code is non-zero when a call or a check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "distributed_graph_coloring_with_pyspark_spark"
WORKLOADS = ("color", "corpus")
DRIVER_MEM = "2g"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _provenance(spark, seed: int, cores: int) -> dict:
    import pyspark

    try:
        # the ceiling keeps git from searching above the checkout
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, env=env
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    pkg = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    pkg.update(fh.read())
    return {
        "nproc": cores,
        "git_sha": sha,
        "package_sha256": pkg.hexdigest()[:16],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "seed": seed,
    }


def _jvm_peak_rss_mb() -> float:
    """High-water RSS of the JVM (driver and, in local mode, executors)."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _workload(name: str):
    """(prepare, cycle) of a workload."""
    import workloads as wl

    return {
        "color": (wl.prepare_color, wl.color_cycle),
        "corpus": (wl.prepare_corpus, wl.corpus_cycle),
    }[name]


# Per-workload metrics, with their units: printed in the detail record
# and by summary.py.  Lists are per-call samples; the value is their median.
UNITS = {
    "cycle_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "color_s": "s",
    "colors_used": "count",
    "gate_epoch_s": "s",
    "gate_dup_recall": "ratio",
    "curate_s": "s",
    "index_build_s": "s",
    "ingest_epoch_s": "s",
    "serve_s": "s",
    "recall_at_5": "ratio",
    "ops_failed": "ratio",
}
END_TO_END = ("cycle_s", "setup_s", "peak_rss_mb")


def run(args, work: str) -> tuple[dict, dict]:
    import numpy as np

    import workloads as wl

    prepare, cycle = _workload(args.workload)
    cores = len(os.sched_getaffinity(0))
    detail: dict = {"workload": args.workload, "trace": args.trace}

    t0 = time.perf_counter()
    os.makedirs(os.path.join(work, "inputs"))
    inputs = prepare(np.random.default_rng(args.seed), os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    inputs_sha256 = _tree_digest(os.path.join(work, "inputs"))

    from distributed_graph_coloring_with_pyspark_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0

    setup_s = gen_s + session_start_s

    tr = wl.Tracer()
    try:
        # A cycle's time is the sum of its calls, so the benchmark's own
        # work between them (writing arrival files, reading outputs back,
        # the checks) is not counted.
        cycles: list[dict] = []
        cycle_s: list[float] = []
        t_measure = time.perf_counter()
        while not cycles or time.perf_counter() - t_measure < args.seconds:
            n0 = len(tr.spans)
            d = os.path.join(work, f"cycle{len(cycles)}")
            os.makedirs(d)
            wl.release(spark, tr)
            cycles.append(cycle(spark, tr, inputs, d))
            cycle_s.append(tr.elapsed(n0))
            shutil.rmtree(d, ignore_errors=True)
        peak_rss = _jvm_peak_rss_mb()
        provenance = _provenance(spark, args.seed, cores)
    finally:
        _stop_jvm(spark)

    samples: dict[str, list] = {"cycle_s": cycle_s}
    for c in cycles:
        for k, v in c.items():
            samples.setdefault(k, []).extend(v if isinstance(v, list) else [v])

    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss}
    e2e.update({k: _median(samples[k]) for k in UNITS if k in samples})
    e2e["ops_failed"] = tr.failed / max(tr.attempted, 1)

    detail.update(
        provenance=provenance,
        inputs=dict(inputs["sizes"], sha256=inputs_sha256),
        cycles=len(cycles),
        setup={
            "gen_s": gen_s,
            "session_start_s": session_start_s,
        },
        end_to_end={k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        samples=samples,
        errors=tr.errors[:20],
    )
    if args.trace:
        import eventlog

        span_dicts = [s.__dict__ for s in tr.spans]
        layers, jobs_by_call = eventlog.attribute(eventlog.read_events(event_dir), span_dicts, cores)
        metrics = _per_layer(layers, jobs_by_call, samples, tr.spans, len(cycles), session_start_s)
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    result = {
        "correct": tr.failed == 0,
        "attempted": tr.attempted,
        "failed": tr.failed,
        "metrics": metrics,
    }
    return detail, result


PER_LAYER_UNITS = {
    "busy_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "stages": "count",
    "single_task_stages": "count",
    "core_util": "ratio",
    "executor_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "failed_tasks": "count",
}


def _per_layer(layers: dict, jobs_by_call: dict, samples: dict, spans, n_cycles: int, session_start_s: float) -> dict:
    """Every per-layer metric, per measured cycle (ratios as they are).
    Jobs per round or epoch count every job submitted inside those
    calls, whichever layer it is credited to."""
    metrics = {}
    for layer, m in layers.items():
        for k, v in m.items():
            per_cycle = v if k == "core_util" else v / n_cycles
            metrics[f"{layer}.{k}"] = {"value": per_cycle, "unit": PER_LAYER_UNITS[k]}

    def med(key):
        return _median(samples.get(key, []))

    def per(call, n):
        return jobs_by_call.get(call, 0) / n if n else 0.0

    def durations(call):
        return [(s.end_ms - s.start_ms) / 1e3 for s in spans if s.name == call]

    rounds = med("rounds")
    specific = {
        "sources.graph_json.read_s": (_median(durations("read_graph_json")), "s"),
        "sources.graph_json.write_s": (_median(durations("write_coloring_jsonl")), "s"),
        "operators.coloring.rounds": (rounds, "count"),
        "operators.coloring.attempts": (med("attempts"), "count"),
        "operators.coloring.jobs_per_round": (per("minimal_coloring", sum(samples.get("rounds", []))), "count"),
        "streaming.ingest.jobs_per_epoch": (per("streaming_neardup_gate", len(durations("streaming_neardup_gate"))), "count"),
        "streaming.ingest.state_bytes": (med("state_bytes"), "bytes"),
        "operators.similarity.index_files": (med("index_files"), "count"),
        "streaming.vector_ingest.jobs_per_epoch": (
            per("streaming_vector_index_ingest", len(durations("streaming_vector_index_ingest"))),
            "count",
        ),
        "streaming.vector_ingest.files_per_epoch": (med("files_per_epoch"), "count"),
        "session.start_s": (session_start_s, "s"),
    }
    metrics.update({k: {"value": v, "unit": u} for k, (v, u) in specific.items()})
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: the package {PKG} is not beside {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package, so it must be on their path;
    # every scratch file Spark, the JVM and Python make stays under work.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # A 2 GB driver heap (the package's own deployment setting; its
    # default is 8 GB): with 8 GB the heap grew to a different size in
    # every run (corpus peak RSS spread 0.30 over five seeds), and the
    # smaller heap keeps the run small on a shared host.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, HERE]
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
