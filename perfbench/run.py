"""Benchmark command: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 35 --trace 0

The run starts a Spark session with the package's ``get_spark``,
generates the workload's inputs from the seed (several times, to time
set-up), warms up, then measures for ``--seconds``. Every operation's
outputs are checked against the DuckDB oracle; a mismatch or an
exception counts as a failed operation. ``--trace 1`` instead runs the
traced split of one operation into the package's layers.

Standard output ends with two JSON lines: the run's details (host,
input properties, sample counts, error rate, set-up parts), then the
result ``{"correct", "attempted", "failed", "metrics"}`` holding every
end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or every
per-layer metric (``--trace 1``; 0 where the workload does not touch the
layer). Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
PACKAGE = "opentelemetry_collector_contrib_spark"
SETUP_REPS = 3
# highest percentile reported when at least ten samples lie beyond it
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_block(specs: list[dict], values: dict[str, float]) -> dict:
    """Every metric of ``specs`` with its unit; layers a workload does not
    touch read 0."""
    unknown = set(values) - {s["name"] for s in specs}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return {
        s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
        for s in specs
    }


def end_to_end(m, setup_s: float) -> dict[str, float]:
    lat_ms = [x * 1e3 for x in m.latencies_s]
    return {
        "setup_s": setup_s,
        # input rows of an operation over the median operation time
        "rows_per_s": m.rows / len(lat_ms) / statistics.median(m.latencies_s) if lat_ms else 0.0,
        "batch_latency_p50_ms": statistics.median(lat_ms) if lat_ms else 0.0,
        "sink_bytes_per_row": m.sink_bytes / m.rows if m.rows else 0.0,
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [
        p for p in (PACKAGE, "__spark_entry__.py", "BENCHMARK.json")
        if not os.path.exists(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import env
    import gen
    from tracing import Tracer
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    cores = env.task_slots(cpus)  # one process at local[cores]
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec(root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    con = spark = wl = None
    try:
        con = gen.connect(cpus)
        con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
        spark, session_s = env.start_spark(root, work, cores)
        wl = WORKLOADS[args.workload](spark, con, work, args.seed, cores)
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare(os.path.join(work, f"in-{r}"))
            reps.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(os.path.join(work, f"in-{r - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        props = wl.build_oracle()
        oracle_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s

        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": env.host_info(wl.spark, cores),
            "input": props,
            "setup": {"session_s": session_s, "prepare_s": reps, "warm_up_s": warm_s,
                      "warm_up_latencies_s": getattr(wl, "warm_latencies_s", []),
                      "oracle_s": oracle_s},
        }
        if args.trace:
            values = wl.trace(Tracer(wl.spark))
            m = wl.checked
            values["peak_rss_mb"] = env.peak_rss_mb(env.jvm_pid(wl.spark))
            metrics = metric_block(spec["per_layer"], values)
        else:
            t0 = time.perf_counter()
            m = wl.measure(args.seconds)
            detail["setup"]["measure_s"] = time.perf_counter() - t0
            values = end_to_end(m, setup_s)
            detail["peak_rss_mb"] = env.peak_rss_mb(env.jvm_pid(wl.spark))
            metrics = metric_block(spec["end_to_end"], values)
            n = len(m.latencies_s)
            tail = tail_percentile(n)
            detail["samples"] = n
            detail["latencies_ms"] = [round(x * 1e3, 1) for x in m.latencies_s]
            detail["samples_beyond_p90"] = n - math.ceil(n * 0.9) if n else 0
            detail["tail_percentile"] = tail
            if tail is not None:
                detail[f"batch_latency_p{tail}_ms"] = percentile(
                    [x * 1e3 for x in m.latencies_s], tail
                )
        detail["elapsed_s"] = time.perf_counter() - T_START
        detail["error_rate"] = m.failed / m.attempted if m.attempted else 1.0
        detail["errors"] = m.errors[:5]
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": m.failed == 0 and not m.errors,
            "attempted": m.attempted,
            "failed": m.failed,
            "metrics": metrics,
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            env.stop_spark(wl.spark if wl else spark)  # the trace may restart it
        if con is not None:
            con.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run is using it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
