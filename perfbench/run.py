"""Lakehouse benchmark: one closed-loop client driving the engine's public
functions on seeded inputs.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. With ``--trace 0`` the last line of stdout
is one JSON object carrying every end-to-end metric; with ``--trace 1``
every per-layer metric instead. A ``report`` line before it records the
configuration the run used and the workload's own named figures. The
exit code is non-zero when any operation failed or any result disagreed
with its oracle. ``--workload all`` runs every workload, each in its own
process, one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import catalog  # noqa: E402
from perfbench.trace import loadavg, median, peak_rss_mb, self_time  # noqa: E402

SETUP_REPEATS = 3


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*catalog.WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, cpus: int) -> None:
    """Process environment, set before the JVM starts so this process, the
    JVM and the Python workers it forks all inherit it: the package on the
    workers' path, and every temporary file inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def _start_spark(work: str, cpus: int):
    from apache_iceberg_with_clickhouse_olake_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # The heap starts at its maximum: a heap that grows during
            # the run makes early operations pay for resizing, and each
            # run's warm-up curve differ.
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _config(spark, cpus: int, seed: int) -> dict:
    jvm = spark._jvm
    sc = spark.sparkContext
    return {
        "cpus": cpus,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "master": sc.master,
        "seed": seed,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }


# --- metrics -----------------------------------------------------------------


def end_to_end(ctx, setup_s: float, rss_mb: float) -> dict[str, float]:
    from perfbench.workloads import measured_ops

    walls = [s.seconds for s in measured_ops(ctx.tracer)]
    return {
        "setup_s": setup_s,
        "op_p50_ms": median(walls) * 1e3,
        "ops_per_s": len(walls) / sum(walls) if walls else 0.0,
        "peak_rss_mb": rss_mb,
    }


def per_layer(ctx, session_s: float) -> dict[str, float]:
    """Per-layer figures from the traced units (and, for the medallion
    layer of analytics_mix, from set-up). Medians are per call; a layer
    the workload never calls reads 0."""
    spans = ctx.tracer.spans
    parents = {}
    for i, s in enumerate(spans):
        parents.setdefault(s.parent, []).append(i)

    def kids(i: int) -> list:
        return [spans[j] for j in parents.get(i, [])]

    def traced_op(i: int) -> bool:
        while i is not None:
            if spans[i].name == "op":
                return bool(spans[i].attrs.get("traced"))
            i = spans[i].parent
        return False

    # A call that raised never got its counters; it has no figures.
    traced = [
        (i, s) for i, s in enumerate(spans)
        if traced_op(i) and (s.name == "sources.load_table" or "window" in s.attrs)
    ]
    m = dict.fromkeys(catalog.PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["sources.load_table_ms"] = median(
        [s.seconds * 1e3 for _, s in traced if s.name == "sources.load_table"]
    )

    def named(name: str) -> list:
        return [s for _, s in traced if s.name == name]

    snaps = named("lake.snapshot")
    m["lake.snapshot_s"] = median([s.seconds for s in snaps])
    m["lake.snapshot_bytes"] = median([s.attrs["bytes"] for s in snaps])
    apply = named("streaming.apply")
    if apply:
        m["streaming.apply_s"] = median([s.seconds for s in apply])
        m["streaming.batches"] = median([s.attrs["batches"] for s in apply])
        m["streaming.events_in"] = median([s.attrs["events"] for s in apply])
        m["streaming.state_rows"] = apply[-1].attrs["state_rows"]
        written = [s.attrs["window"].output_bytes for s in apply]
        m["streaming.state_bytes_written"] = median(written)
        m["streaming.write_amp"] = median(
            [w / s.attrs["landed_bytes"] for w, s in zip(written, apply)]
        )
        m["streaming.jobs"] = median([s.attrs["window"].jobs for s in apply])
    for tier in ("silver", "gold"):
        done = [s for s in spans if s.name == f"medallion.{tier}" and "bytes" in s.attrs]
        m[f"medallion.{tier}_s"] = median([s.seconds for s in done])
        m[f"medallion.{tier}_bytes"] = median([s.attrs["bytes"] for s in done])
        if tier == "silver":
            m["medallion.silver_files"] = median([s.attrs["files"] for s in done])

    for shape in catalog.QUERY_SHAPES:
        calls = [(i, s) for i, s in traced if s.name == "q" and s.attrs["shape"] == shape]
        if not calls:
            continue
        build = [next(j for j in parents[i] if spans[j].name == "build") for i, _ in calls]
        p = f"q.{shape}."
        m[p + "build_ms"] = median([self_time(spans[b], kids(b)) * 1e3 for b in build])
        m[p + "collect_ms"] = median(
            [next(k for k in kids(i) if k.name == "collect").seconds * 1e3 for i, _ in calls]
        )
        m[p + "catalyst_ms"] = median([s.attrs["catalyst_ms"] for _, s in calls])
        wins = [s.attrs["window"] for _, s in calls]
        m[p + "jobs"] = median([w.jobs for w in wins])
        m[p + "stages"] = median([w.stages for w in wins])
        m[p + "shuffle_bytes"] = median([w.shuffle_bytes for w in wins])
        m[f"cache.{shape}.persistent_rdds_after"] = max(
            s.attrs["persistent_rdds"] for _, s in calls
        )
        if shape in catalog.CORPUS_SHAPES:
            k = f"kernel.{shape}."
            m[k + "python_bytes_sent"] = median([w.py_sent for w in wins])
            m[k + "python_bytes_received"] = median([w.py_received for w in wins])
            m[k + "python_rows"] = median([w.py_rows for w in wins])
            m[k + "python_time_ms"] = median([w.py_time_ms for w in wins])
    m["spark.failed_tasks"] = sum(
        s.attrs["window"].failed_tasks for _, s in traced if "window" in s.attrs
    )
    m["cache.persistent_rdds_end"] = ctx.counters.persistent_rdds()
    m["trace.overhead_frac"] = overhead(ctx.tracer)
    undeclared = set(m) - set(catalog.PER_LAYER)
    if undeclared:
        raise ValueError(f"undeclared per-layer metrics: {sorted(undeclared)}")
    return m


def overhead(tracer) -> float:
    """Traced against untraced operations of the same shape, in the same
    run: the median over shapes of (median traced op wall / median
    untraced op wall) - 1. A traced op's wall includes reading Spark's
    counters; 0 when no shape ran both ways."""
    by = {}
    for s in tracer.spans:
        if s.name == "op" and s.attrs.get("measured") and "error" not in s.attrs:
            by.setdefault(s.attrs["shape"], ([], []))[bool(s.attrs["traced"])].append(s.seconds)
    ratios = [median(t) / median(u) - 1.0 for u, t in by.values() if u and t]
    return median(ratios)


# --- main --------------------------------------------------------------------


def run_one(a: argparse.Namespace) -> int:
    # Without the engine there is nothing to measure: fail before writing
    # anything, and print no result line.
    try:
        import apache_iceberg_with_clickhouse_olake_spark.operators.registry  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cpus)

    from perfbench.workloads import WORKLOADS, Ctx, measured_ops, run_loop

    load_before = loadavg()
    t0 = time.perf_counter()
    spark = _start_spark(work, cpus)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, a.seed, work, bool(a.trace), cpus)
        wl = WORKLOADS[a.workload](ctx)
        wl.make_inputs(os.path.join(work, "inputs"))
        preps = []
        for rep in range(SETUP_REPEATS):
            # Every repeat sets up afresh from the inputs; the last is used.
            with ctx.tracer.span("setup.prep") as sp:
                wl.prepare(os.path.join(work, f"setup{rep}"))
            preps.append(sp.seconds)
            if rep < SETUP_REPEATS - 1:
                shutil.rmtree(os.path.join(work, f"setup{rep}"), ignore_errors=True)
        with ctx.tracer.span("setup.warmup") as warm:
            wl.warm_up()
        setup_s = session_s + median(preps) + warm.seconds

        run_loop(ctx, wl, a.seconds)
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        rss = peak_rss_mb(jvm_pid.pid if jvm_pid else None)
        if a.trace:
            metrics = per_layer(ctx, session_s)
        else:
            metrics = end_to_end(ctx, setup_s, rss)
        with ctx.tracer.span("check") as checking:
            wl.check()
        named = {
            "op_s": [round(s.seconds, 4) for s in measured_ops(ctx.tracer)],
            "setup_s": setup_s,
            "warmup_s": warm.seconds,
            "check_s": checking.seconds,
            "peak_rss_mb": rss,
            "failed_ops_frac": len(ctx.failures) / max(ctx.attempted, 1),
            **wl.report(),
        }
        config = _config(spark, cpus, a.seed)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    config["loadavg_before"] = load_before
    config["loadavg_after"] = loadavg()
    named = {k: {"value": v, "unit": catalog.NAMED_UNITS[k]} for k, v in named.items()}
    print("report " + json.dumps(
        {"workload": a.workload, "trace": a.trace, "config": config, "named": named},
        default=str,
    ))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": catalog.UNITS[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if not ctx.failures else 1


def main(argv: list[str]) -> int:
    a = _args(argv)
    if a.workload != "all":
        return run_one(a)
    worst = 0
    for name in catalog.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        worst = max(worst, subprocess.run(cmd, check=False).returncode)
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
