"""Benchmark of otel_arrow_spark: two workloads behind one command.

    python3 perfbench/run.py --workload transcripts_etl --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` before the clock starts, then starts one Spark session as
``local[N]`` over the N cores this process may use (the JVM and its
Python workers inherit that CPU set). It runs warm-up operations, the
first of which also checks the workload's outputs in full, then repeats
the workload's operation for ``--seconds`` (at least twice); every
operation also checks its own counts. It prints:

* the per-operation series, warm-up included, one line per phase;
* as the last line, one JSON object ``{"correct", "attempted", "failed",
  "metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones
  (see BENCHMARK.json). With ``--trace 1`` they are the per-layer ones:
  untraced and traced operations alternate, the traced ones record spans
  around the calls into each layer and read Spark's status store, and
  the tracing overhead is their difference.

Everything a run writes stays under ``.perfbench/`` in the repository
root: a per-run work directory (removed at exit) and, for traced runs,
the span log ``.perfbench/traces/<workload>-<seed>.jsonl``. The exit
status is 0 only when every output check passed. ``perfbench/smoke.py``
runs every workload at tiny sizes as a test of the benchmark itself.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes per workload. A run (generation, session start, warm-up,
# two timed operations) takes 40-50 s on a 4-core host; about 30 s of it
# is session start and the first, cold operation. An operation's time
# depends little on these sizes: most of it is per-job planning and
# scheduling.
SIZES = {
    "transcripts_etl": {"turns": 100_000},
    "otlp_codec": {"otlp_items": 12_000},
}
# Operations before the clock starts: past the JIT / Python-worker knee.
WARMUP = 2
MIN_TIMED = 2  # untraced operations (and as many traced ones in a traced run)
DRIVER_MEMORY = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Overrides for the smoke test; the benchmark itself runs the defaults.
    p.add_argument("--turns", type=int)
    p.add_argument("--otlp-items", type=int)
    p.add_argument("--expect-offset", type=int, default=0,
                   help="add to every expected count (tests that a wrong output fails)")
    return p.parse_args(argv)


def session(work: str, cores: int):
    from otel_arrow_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # No hsperfdata file in /tmp: the run writes only inside the checkout.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM must still end
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "otel_arrow_spark")):
        print(f"otel_arrow_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    size = dict(SIZES[args.workload])
    for key in ("turns", "otlp_items"):
        if getattr(args, key) is not None:
            size[key] = getattr(args, key)

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # Keep every file the JVM and the Python workers write inside the work dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = len(os.sched_getaffinity(0))

    try:
        return run(args, size, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, size: dict, work: str, cores: int) -> int:
    from tracing import StatusStore, Tracer, cpu_times, jvm_gc_s, steal_ratio, tree_peak_rss_bytes
    from workloads import WORKLOADS, median

    wl = WORKLOADS[args.workload](work, args.seed, size, args.expect_offset)
    t0 = time.monotonic()
    wl.generate()
    gen_s = time.monotonic() - t0

    spark = session(work, cores)
    off = Tracer(f"{args.workload}-{args.seed}", enabled=False)
    tracer = Tracer(off.run_id, enabled=bool(args.trace))
    store = StatusStore(spark) if args.trace else None
    attempted = failed = 0
    problems: list[str] = []
    series: dict[str, list[float]] = {"warmup": [], "timed": [], "traced": []}

    def one(phase: str, tr, check: bool = False) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            dt, bad = wl.op(spark, tr, store, check)
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            traceback.print_exc()
            dt, bad = None, [f"{type(e).__name__}: {e}"]
        if bad:
            failed += 1
            problems.extend(bad)
        else:
            series[phase].append(dt)

    try:
        # The first, cold operation also checks its outputs in full, outside
        # the timed region (for otlp_codec the check is itself a round trip).
        one("warmup", off, check=True)
        for _ in range(WARMUP - 1):
            one("warmup", off)
        if args.trace:
            # The layer prefixes are plans of their own: compile them once
            # before the spans that count.
            one("warmup", Tracer(off.run_id, enabled=True))
        setup_s = time.monotonic() - T_START - gen_s
        gc0, cpu0 = jvm_gc_s(spark), cpu_times()
        t_end = time.monotonic() + args.seconds
        # A traced run makes pairs of untraced and traced operations and
        # swaps their order each pair, so the drift of a still-warming JVM
        # cancels out of the tracing overhead.
        pair = ("timed", "traced") if args.trace else ("timed",)
        while not failed and (time.monotonic() < t_end or len(series["timed"]) < MIN_TIMED):
            for phase in pair:
                if not failed:
                    one(phase, tracer if phase == "traced" else off)
            pair = pair[::-1]
        gc_s, steal = jvm_gc_s(spark) - gc0, steal_ratio(cpu0, cpu_times())
        rss = tree_peak_rss_bytes(os.getpid())
        failed_tasks = store.since((-1, -1))["failed_tasks"] if store else 0
    finally:
        stop_session(spark)

    for phase, xs in series.items():
        if xs:
            print(f"{args.workload} {phase} ({len(xs)}): " + " ".join(f"{x:.3f}" for x in xs))
    for p in problems:
        print(f"CHECK FAILED: {p}")
    print(f"generation_s {gen_s:.3f}")

    if failed:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
        return 1

    timed = series["timed"]
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{tracer.run_id}.jsonl"))
        values = {name: 0.0 for name, _, _ in PER_LAYER}
        values.update(wl.layer_metrics(tracer))
        values.update({
            "spark.failed_tasks": failed_tasks,
            "jvm.gc_s": gc_s,
            "session.peak_rss_bytes": rss,
            "host.steal_ratio": steal,
            "trace.run_s": median(series["traced"]),
            "trace.overhead_s": median(series["traced"]) - median(timed),
        })
        units = {name: unit for name, unit, _ in PER_LAYER}
    else:
        values = {"setup_s": setup_s, "run_s": median(timed), "output_bytes_per_item": wl.bytes_per_item}
        units = dict(END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))
    return 0


# (name, unit) of the end-to-end metrics, printed with --trace 0.
END_TO_END = [
    ("setup_s", "s"),
    ("run_s", "s"),
    ("output_bytes_per_item", "B"),
]

# (name, unit, the end-to-end metric and workload it should move) of the
# per-layer metrics, printed with --trace 1. A workload that does not run
# a layer reports 0 for it.
ETL, CODEC = "run_s@transcripts_etl", "run_s@otlp_codec"
PER_LAYER = [
    ("sources.scan_s", "s", f"{ETL}, {CODEC}"),
    ("scanmeta.probe_s", "s", CODEC),
    ("operators.parse.self_s", "s", f"{ETL}; 0 on otlp_codec"),
    ("operators.parse.python_worker_s", "s", f"{ETL}; 0 on otlp_codec"),
    ("operators.parse.parsed_ratio", "ratio", f"{ETL}; 0 on otlp_codec"),
    ("operators.enrich.self_s", "s", ETL),
    ("operators.route.self_s", "s", ETL),
    ("sink.routed_write_self_s", "s", ETL),
    ("sink.routed_bytes", "B", "output_bytes_per_item@transcripts_etl"),
    ("sink.routed_files", "count", "output_bytes_per_item@transcripts_etl"),
    ("operators.aggregate.write_s", "s", ETL),
    ("operators.aggregate.shuffle_write_bytes", "B", ETL),
    ("operators.aggregate.shuffle_fetch_wait_s", "s", ETL),
    *[
        (f"otlp.{sig}.{m}", unit, moves)
        for sig in ("logs", "traces", "metrics")
        for m, unit, moves in (
            ("decode_s", "s", CODEC),
            ("encode_s", "s", CODEC),
            ("redecode_s", "s", CODEC),
            ("rows", "count", CODEC),
            ("encode.shuffle_write_bytes", "B", CODEC),
            ("encoded_bytes_per_item", "B", "output_bytes_per_item@otlp_codec"),
        )
    ],
    # The streaming job drains the transcripts_etl corpus once per traced
    # operation: the same parse/enrich/route layers, per-query fixed costs.
    ("stream.start_s", "s", "streaming latency (no end-to-end metric yet)"),
    ("stream.query_planning_ms", "ms", "streaming latency (no end-to-end metric yet)"),
    ("stream.wal_commit_ms", "ms", "streaming latency (no end-to-end metric yet)"),
    ("stream.add_batch_ms", "ms", "streaming latency (no end-to-end metric yet)"),
    ("stream.commit_offsets_ms", "ms", "streaming latency (no end-to-end metric yet)"),
    ("stream.rows_per_batch", "count", "streaming latency (no end-to-end metric yet)"),
    ("spark.failed_tasks", "count", f"{ETL}, {CODEC}"),
    ("jvm.gc_s", "s", f"{ETL}, {CODEC}"),
    ("session.peak_rss_bytes", "B", f"{ETL}, {CODEC}"),
    ("host.steal_ratio", "ratio", f"{ETL}, {CODEC}"),
    ("trace.run_s", "s", "traced run_s, for the tracing overhead"),
    ("trace.overhead_s", "s", "traced run_s minus untraced run_s"),
]


if __name__ == "__main__":
    sys.exit(main())
