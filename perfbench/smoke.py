"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py

For every workload it runs the benchmark untraced and traced (20k turns,
2k OTLP items per signal) and checks that the last line names every
metric of BENCHMARK.json with its unit, and that the layer metrics the
workload exercises are positive (so a counter that silently reads 0 is
caught). Then it runs every workload with an expected count that is off
by one and checks that the run reports a failed operation and exits
non-zero. Takes several minutes: one Spark session per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = {
    "transcripts_etl": ["--turns", "20000"],
    "otlp_codec": ["--otlp-items", "2000"],
}

# Per-layer metrics that must be positive in the traced run of each
# workload: the counters read from Spark's status store, the spans that
# wrap a whole layer, and the output sizes. Self times are differences of
# spans and may be near 0 at tiny sizes, so they are not listed.
EXERCISED = {
    "transcripts_etl": [
        "sources.scan_s", "operators.parse.python_worker_s", "operators.parse.parsed_ratio",
        "sink.routed_bytes", "sink.routed_files", "operators.aggregate.write_s",
        "operators.aggregate.shuffle_write_bytes", "stream.start_s", "stream.add_batch_ms",
        "stream.rows_per_batch", "session.peak_rss_bytes", "trace.run_s",
    ],
    "otlp_codec": [
        "sources.scan_s", "scanmeta.probe_s",
        *[
            f"otlp.{sig}.{m}"
            for sig in ("logs", "traces", "metrics")
            for m in ("rows", "encode.shuffle_write_bytes", "encoded_bytes_per_item")
        ],
        "session.peak_rss_bytes", "trace.run_s",
    ],
}


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict, str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace),
        *TINY[workload], *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return p.returncode, result, p.stdout + p.stderr[-2000:]


def check_run(workload: str, trace: int, want: dict) -> list[str]:
    rc, res, log = bench(workload, trace)
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if rc != 0 or not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        return [f"{workload} trace={trace}: run failed (rc={rc})\n{log}"]
    if got != want:
        return [f"{workload} trace={trace}: metrics {got} != {want}"]
    values = [v["value"] for v in res["metrics"].values()]
    if not all(isinstance(v, (int, float)) for v in values):
        return [f"{workload} trace={trace}: non-numeric value in {res}"]
    if not trace and min(values) <= 0:
        return [f"{workload}: an end-to-end metric is not positive: {res}"]
    zero = [k for k in EXERCISED[workload] if trace and res["metrics"][k]["value"] <= 0]
    if zero:
        return [f"{workload}: exercised layer metrics are not positive: {zero}"]
    return []


def check_wrong_count(workload: str) -> list[str]:
    rc, res, log = bench(workload, 0, "--expect-offset", "1")
    if rc == 0 or res.get("correct") is not False or res.get("failed", 0) < 1:
        return [f"{workload}: wrong expected count not reported as failed: {res}\n{log}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    if sorted(w["name"] for w in spec["workloads"]) != sorted(TINY):
        errors.append(f"BENCHMARK.json workloads differ from {sorted(TINY)}")
    for workload in TINY:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            found = check_run(workload, trace, {m["name"]: m["unit"] for m in spec[key]})
            print(f"{workload} trace={trace}: {'FAILED' if found else 'ok'}", flush=True)
            errors += found
        found = check_wrong_count(workload)
        print(f"{workload} wrong expected count fails: {'FAILED' if found else 'ok'}", flush=True)
        errors += found
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
