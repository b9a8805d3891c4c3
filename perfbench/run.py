"""Benchmark of the mongo2pq_spark extract-load engine.

    python3 perfbench/run.py --workload el_dump --seed 1 --seconds 22 --trace 0

Run from the root of a checkout. One process, one client, a local
Spark session over every core; README.md lists the workloads, metrics
and checks. The run:

1. makes the workload's inputs from ``--seed`` (untimed, reported as
   ``gen_s``; cached inputs are reused only if their digests match);
2. sets up three times (session start, package shipping, a Python
   worker per core) and reports the median as ``setup_s``, then warms
   up once, untimed, on a small input (``warm_s``);
3. repeats the workload's operation a fixed number of times, sized so
   the timed phase lasts about ``--seconds`` on a 4-core host, checking
   each output, and reports per-operation medians;
4. runs a known-defect probe (quoted scalars in a dump), untimed;
5. with ``--trace 1``, replays the operation as a traced sequence of
   layer calls, checks that it wrote the same rows per partition, and
   reports the per-layer metrics and the tracing overhead.

The last stdout line is the JSON result. The line before it, prefixed
``perfbench-artifact``, holds the whole run record: host bookends,
every repetition, every check, the traced spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import inputs
from checks import rows_per_partition
from hostprobe import RssSampler, host_bookend, steal_s, tree_cpu_s, tree_pids
from tracing import Tracer, layer_metrics
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

#: maximum driver heap, pinned so the session fits small hosts (the
#: engine's default is 16g)
DRIVER_MEMORY = "2g"
SETUPS = 3


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment() -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONHASHSEED"] = "0"
    tempfile.tempdir = str(tmp)


def _session():
    from mongo2pq_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until every
    process this run started (the JVM, its Python workers) has exited."""
    from pyspark import SparkContext

    started = tree_pids() - {str(os.getpid())}
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in started
    ):
        time.sleep(0.1)


def _start_workers(spark) -> None:
    """Run one pandas task per core, so that every core has a Python
    worker running with pandas and pyarrow loaded."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(
        lambda batches: batches, "id long"
    ).collect()


def _setup(workload) -> tuple[object, list[float], float]:
    """Set up ``SETUPS`` times: start a session, ship the package and
    start a Python worker per core; each later set-up stops the previous
    session first, so it starts a new context and new workers in the
    running JVM. Then warm up once on the last session, untimed: the
    workload's operation on a small input."""
    from mongo2pq_spark.deploy import ensure_shipped

    times, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session()
            ensure_shipped(spark)
            _start_workers(spark)
            times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warm_up(spark)
        warm_s = time.perf_counter() - t0
    except BaseException:
        if spark is not None:
            _shutdown(spark)
        raise
    return spark, times, warm_s


def _measure(spark, workload, outdir: Path) -> list[dict]:
    """Run the operation ``workload.reps`` times and check every output
    between repetitions. The count is fixed, so the median is always
    taken over the same repetitions, whatever the host's speed."""
    reps: list[dict] = []
    for _ in range(workload.reps):
        cpu0, steal0 = tree_cpu_s(), steal_s()
        with RssSampler() as rss:
            t0 = time.perf_counter()
            result = workload.run(spark, outdir)
            wall = time.perf_counter() - t0
        rep = dict(result, wall_s=wall, cpu_s=tree_cpu_s() - cpu0,
                   peak_rss_mb=rss.peak_mb, sampler_cpu_s=rss.cpu_s,
                   steal_s=steal_s() - steal0)
        rep.update(workload.output_stats(outdir))
        rep["checks"] = [list(c) for c in workload.check(outdir)]
        reps.append(rep)
    return reps


def _probe(spark) -> dict:
    """Known defect: ``read_mongodump`` builds its read schema from the
    speculative string parse, so a field whose sampled values are all
    quoted scalars ("yes", "12", ISO strings) fails the whole job. The
    probe passes once a dump of that shape loads with every row."""
    from mongo2pq_spark import cli

    root = WORK / "probe"
    shutil.rmtree(root, ignore_errors=True)
    n = inputs.quoted_scalar_probe(root)
    out = root / "out"
    t0 = time.perf_counter()
    rc = cli.main(uri=f"file:{root / 'src'}", source_format="mongodump",
                  partition_key="answer", outdir=out, spark=spark)
    rows = 0
    if rc == 0:
        dataset = out / f"{inputs.PROBE_COLLECTION}.parquet"
        rows = sum(rows_per_partition(dataset)[0].values())
    return {"name": "quoted_scalar_probe", "rc": rc, "rows": rows,
            "want_rows": n, "ok": rc == 0 and rows == n,
            "s": time.perf_counter() - t0}


def _traced(spark, workload, untraced_wall: float, untraced_rows: dict) -> dict:
    from mongo2pq_spark.operators.cache import evicted_unmaterialized_count

    outdir = WORK / "out" / "traced"
    evicted0 = evicted_unmaterialized_count()
    tracer = Tracer(spark)
    t0 = time.perf_counter()
    workload.traced(spark, tracer, outdir)
    wall = time.perf_counter() - t0
    rows = workload.output_stats(outdir)["rows"]
    metrics = {}
    for w in WORKLOADS.values():
        metrics.update(layer_metrics(
            tracer.spans if w is type(workload) else [], w.layers
        ))
    metrics.update({
        "operators.cache.evicted_unmaterialized":
            float(evicted_unmaterialized_count() - evicted0),
        "trace.spill_mb": tracer.spill_mb,
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
    })
    return {
        "metrics": metrics,
        "spans": tracer.spans,
        "same_output": rows == untraced_rows,
        "rows": rows,
    }


def per_layer_names() -> list[str]:
    names = []
    for w in WORKLOADS.values():
        for prefix, (_, suffixes) in w.layers.items():
            names.extend(f"{prefix}.{s}" for s in suffixes)
    return names + [
        "operators.cache.evicted_unmaterialized", "trace.spill_mb",
        "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
    ]


UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "docs_per_s": "docs/s",
    "input_mb_per_s": "MB/s", "peak_rss_mb": "MB",
    "bytes_out_per_byte_in": "ratio", "files_out": "count",
    "ops_failed_share": "ratio",
}


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s") or suffix == "s":
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    return "count"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "mongo2pq_spark" / "__init__.py").is_file():
        print(f"error: no mongo2pq_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _pin_environment()
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": _cpus(), "master": f"local[{_cpus()}]",
        "driver_memory": DRIVER_MEMORY,
        "host_before": host_bookend(),
    }
    t0 = time.perf_counter()
    workload = WORKLOADS[args.workload](WORK, args.seed)
    record["gen_s"] = time.perf_counter() - t0
    record["input_cached"] = not workload.manifest["generated"]

    spark, setups, record["warm_s"] = _setup(workload)
    try:
        record["setup_runs_s"] = setups
        outdir = WORK / "out" / "untraced"
        reps = _measure(spark, workload, outdir)
        record["reps"] = reps
        probe = _probe(spark)
        record["probe"] = probe
        if args.trace:
            traced = _traced(
                spark, workload,
                statistics.median(r["wall_s"] for r in reps),
                reps[-1]["rows"],
            )
            record["traced"] = traced
    finally:
        _shutdown(spark)
    record["host_after"] = host_bookend()

    # `attempted`/`failed` count every operation and check of every
    # repetition (plus the traced run's output comparison); the
    # known-defect probe is left out of them, so `correct` reports the
    # workload alone
    attempted = sum(r["ops"] + len(r["checks"]) for r in reps)
    failed = sum(r["failed"] + sum(not c[1] for c in r["checks"]) for r in reps)
    if args.trace:
        attempted += 1
        failed += int(not traced["same_output"])
    # ops_failed_share counts each distinct operation once (failed if
    # it failed in any repetition), so it does not move with the number
    # of repetitions; it includes the probe, the failure a user sees
    kinds = reps[0]["ops"] + len(reps[0]["checks"]) + 1
    failed_kinds = (
        max(r["failed"] for r in reps)
        + len({c[0] for r in reps for c in r["checks"] if not c[1]})
        + (not probe["ok"])
    )

    med = lambda key: statistics.median(r[key] for r in reps)  # noqa: E731
    wall = med("wall_s")
    end_to_end = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "cpu_s": med("cpu_s"),
        "docs_per_s": workload.docs / wall,
        "input_mb_per_s": workload.bytes_in / 1e6 / wall,
        "peak_rss_mb": med("peak_rss_mb"),
        "bytes_out_per_byte_in": med("bytes_out") / workload.bytes_in,
        "files_out": med("files_out"),
        "ops_failed_share": failed_kinds / kinds,
    }
    record["end_to_end"] = end_to_end
    if args.trace:
        metrics = {
            n: {"value": float(traced["metrics"][n]), "unit": _layer_unit(n)}
            for n in per_layer_names()
        }
    else:
        metrics = {n: {"value": float(v), "unit": UNITS[n]}
                   for n, v in end_to_end.items()}
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
     ).write_text(json.dumps(record, indent=1, default=str))
    print("perfbench-artifact " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
