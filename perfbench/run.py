#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process, one driver JVM at
``local[nproc]``.  The run

1. builds its inputs from the seed (cached per seed, never timed);
2. sets up the session ``N_SETUPS`` times -- build, package shipping and
   Python-worker warm-up -- and reports the median as ``setup_s``;
3. repeats the workload's operation until ``--seconds`` have passed and
   reports the median operation wall.  There is no warm-up: the first
   operation pays first-use costs, as a job in a fresh JVM does, and
   every operation of the benchmark's own setting (``run_seconds`` in
   BENCHMARK.json) is longer than its run, so each run measures one
   such job; longer ``--seconds`` add warm operations to the median;
4. checks every operation's output and prints one JSON line last.

``--trace 1`` then runs the workload's layer probes and an untraced, a
traced and another untraced operation, and prints the per-layer
metrics instead of the end-to-end ones.  Everything the run writes stays under ``.perfbench/``
in the repository root; a record of each run is kept in
``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

from probes import KERNEL_FLAGS, KERNEL_PHASES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

N_SETUPS = 3
# the driver JVM's heap (-Xmx and -Xms)
DRIVER_HEAP = "2g"
# cached inputs kept per workload kind; older seeds are pruned
CACHE_KEEP = 6

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "stored_mb": "MB",
}


PER_LAYER = {
    "session.build_s": "s",
    "session.ship_s": "s",
    "session.warm_s": "s",
    "session.first_setup_s": "s",
    "tableio.scan_s": "s",
    "tableio.commit_s": "s",
    "tableio.files_written": "count",
    "tableio.bytes_written": "bytes",
    "tableio.sql_executions": "count",
    "job.boundary_s": "s",
    "job.kernel_stage_s": "s",
    "job.exchange_s": "s",
    "job.exchange_bytes": "bytes",
    "job.python_bytes_in": "bytes",
    "job.python_bytes_out": "bytes",
    "job.arrow_batches": "count",
    "job.parallel_efficiency": "ratio",
    "layers.sum_s": "s",
    "layers.sum_over_wall": "ratio",
    "kernel.samples": "count",
    "kernel.us_per_doc_p50": "us",
    "kernel.us_per_doc_p99": "us",
    "kernel.us_per_doc_max": "us",
    **{f"kernel.phase.{p}": "share" for p in (*KERNEL_PHASES, "assemble")},
    **{f"kernel.flags.{f}": "count" for f in KERNEL_FLAGS},
    "kernel.ceiling_docs_per_s": "docs/s",
    "dedup.pairs_s": "s",
    "dedup.cc_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.cc_sql_executions": "count",
    "dedup.shuffle_bytes": "bytes",
    "curate.scrub_s": "s",
    "curate.gates_s": "s",
    "curate.decontam_s": "s",
    "curate.split_s": "s",
    "curate.sql_executions": "count",
    "stream.batch_p50_s": "s",
    "stream.serve_p50_s": "s",
    "stream.label_bytes_per_batch": "bytes",
    "stream.last_label_bytes": "bytes",
    "stream.state_bytes": "bytes",
    "stream.sql_executions_per_batch": "count",
    "stream.batch_growth": "ratio",
    "sql.scan_time_ms": "ms",
    "sql.files_read": "count",
    "sql.shuffle_bytes_written": "bytes",
    "sql.spill_bytes": "bytes",
    "sql.peak_memory_bytes": "bytes",
    "sql.codegen_duration_ms": "ms",
    "sql.python_bytes_in": "bytes",
    "sql.python_bytes_out": "bytes",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "failed_share": "ratio",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def configure_env(nproc: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout.  Must run before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # every JVM (spark-submit's launcher too) would otherwise write
    # /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # The driver heap is committed and touched in full at JVM start, so
    # its RSS is the same in every run.  Left to grow, G1 sizes the heap
    # from its GC pause times, which follow the host's load, and the
    # heap's growth swung peak_rss_mb by a quarter between runs of the
    # same code.
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


class Session:
    """The one SparkSession of a run, plus the handles the layer probes
    need to rebuild it at another core count."""

    def __init__(self, nproc: int, tracer):
        self.nproc = nproc
        self.tracer = tracer
        self.spark = None
        self.sql = None

    def build(self, cores: int) -> dict:
        from cvocr_spark.session import build_session, ensure_shipped
        from probes import SqlStatus, timed
        from workloads import noop

        if self.spark is not None:
            self.spark.stop()
        t_build, spark = timed(build_session, app="perfbench", master=f"local[{cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        t_ship, _ = timed(ensure_shipped, spark)

        def warm_worker(it):
            import cvocr_spark.fastparse  # noqa: F401
            import cvocr_spark.kernel  # noqa: F401

            yield from it

        t_warm, _ = timed(
            noop, spark.range(0, cores, 1, cores).mapInArrow(warm_worker, "id long")
        )
        self.spark = spark
        self.sql = SqlStatus(spark)
        return {"build_s": t_build, "ship_s": t_ship, "warm_s": t_warm}

    def close(self) -> None:
        """Stop the session, then the driver JVM, and wait for both."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def wait_descendants(timeout_s: float = 30.0) -> None:
    from probes import descendants

    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def prune_cache(cache: str, kind: str) -> None:
    entries = sorted(
        (e for e in os.listdir(cache) if e.startswith(kind + "-")),
        key=lambda e: os.path.getmtime(os.path.join(cache, e)),
    )
    for e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "cvocr_spark")):
        log(f"perfbench: no cvocr_spark package under {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    configure_env(nproc)

    import gen
    from probes import RssSampler, Tracer, cpu_steal_jiffies, timed
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    kind, cls = WORKLOADS[args.workload]
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    in_dir, in_stats = gen.ensure_inputs(kind, args.seed, cache)
    prune_cache(cache, kind)
    log(f"perfbench: {args.workload} seed={args.seed} inputs={json.dumps(in_stats)}")

    work = os.path.join(WORK, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tracer = Tracer(enabled=False)
    sess = Session(nproc, tracer)
    record: dict = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
                    "seconds": args.seconds, "trace": args.trace, "inputs": in_stats}
    steal0 = cpu_steal_jiffies()
    try:
        with RssSampler() as rss:
            setups = [sess.build(nproc) for _ in range(N_SETUPS)]
            setup_s = statistics.median(sum(s.values()) for s in setups)
            wl = cls(sess.spark, in_dir, work, args.seed)
            outcomes = []
            t0 = time.perf_counter()
            while not outcomes or time.perf_counter() - t0 < args.seconds:
                outcomes.append(wl.run(len(outcomes)))
            measured_s = time.perf_counter() - t0
            wall_s = statistics.median(o.wall_s for o in outcomes)
            e2e = {
                "wall_s": wall_s,
                "docs_per_s": outcomes[0].docs / wall_s,
                "setup_s": statistics.median(sum(s.values()) for s in setups),
                "stored_mb": statistics.median(o.stored_bytes for o in outcomes) / 1e6,
            }
            layers: dict = {}
            if args.trace:
                for key in ("build_s", "ship_s", "warm_s"):
                    layers[f"session.{key}"] = statistics.median(s[key] for s in setups)
                layers["session.first_setup_s"] = sum(setups[0].values())
                layers.update(wl.layers(sess))
                # untraced, traced, untraced: operations keep getting
                # faster as the JVM warms, and the mean of the two
                # untraced walls around the traced one cancels that drift
                before = wl.run(len(outcomes))
                tracer.enabled = True
                mark = sess.sql.mark()
                with tracer.span("operation"):
                    traced = wl.run(len(outcomes) + 1)
                # the status-store walk is the tracing work done after the action
                walk_s, (n_exec, sqlm) = timed(sess.sql.since, mark)
                tracer.enabled = False
                after = wl.run(len(outcomes) + 2)
                outcomes += [before, traced, after]
                untraced_s = (before.wall_s + after.wall_s) / 2
                layers.update(sqlm)
                layers["trace.untraced_wall_s"] = untraced_s
                layers["trace.traced_wall_s"] = traced.wall_s + walk_s
                layers["trace.overhead_s"] = traced.wall_s + walk_s - untraced_s
                if args.workload == "curate":
                    layers["curate.sql_executions"] = n_exec
                if "layers.sum_s" in layers:
                    layers["layers.sum_over_wall"] = layers["layers.sum_s"] / untraced_s
                layers.update(outcomes[-1].extra.get("flags", {}))
            errors = [e for o in outcomes for e in o.errors]
            if hasattr(wl, "final_check"):
                t_check, check_errors = timed(wl.final_check)
                errors += check_errors
                record["final_check_s"] = t_check
        e2e["peak_rss_mb"] = rss.peak_bytes / 1e6
    finally:
        sess.close()
        wait_descendants()
        shutil.rmtree(work, ignore_errors=True)

    steal1 = cpu_steal_jiffies()
    # host contention shows as steal: kept in the record to explain slow runs
    record["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    if args.trace:
        layers["failed_share"] = failed / attempted
        metrics = {k: metric(float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: metric(e2e[k], u) for k, u in END_TO_END.items()}
    record.update({
        "setups": setups, "measured_s": measured_s,
        "operations": [
            {"wall_s": o.wall_s, "stored_bytes": o.stored_bytes,
             "attempted": o.attempted, "failed": o.failed, "errors": o.errors,
             "extra": o.extra}
            for o in outcomes
        ],
        "end_to_end": e2e, "layers": layers, "errors": errors,
        "rss_samples": rss.samples, "rss_peak_by_kind": rss.peak_by_kind,
        "spans": tracer.spans,
    })
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in errors:
        log(f"perfbench: CHECK FAILED: {e}")
    log(f"perfbench: cpu steal share {record['cpu_steal_share']:.4f}")
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
