"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout: the engine (``eurovision_spark/``)
and its generators (``tools/``) are imported from there, the reference
tables are read from ``perfbench/data``, seeded inputs are generated
from ``--seed`` under ``perfbench/_work``, and Spark's scratch space is
kept there too. One process, one SparkSession on
``local[<cores>]``, one client thread.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the timed
sequence twice (plain, then traced on fresh state) and prints the
per-layer metrics. Either way the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it carries the run's context (host load, scheduling floor,
sample counts, tail percentile).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path
from statistics import median
from time import perf_counter

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402 — the benchmark's own modules, beside this file
from spans import Tracer  # noqa: E402
from workloads import CATALOG_FAMILIES, PATCHES, WORKLOADS, Ctx, percentile  # noqa: E402

SESSION_METRICS = [
    ("jobs", "count"),
    ("floor_share", "ratio"),
    ("driver_s", "s"),
    ("exec_run_s", "s"),
    ("exec_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("input_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("peak_exec_mem_bytes", "bytes"),
]


def host_env(work: Path, core_share: float) -> dict[str, str]:
    """Session sizing from the host, through the engine's own env knobs:
    ``core_share`` of the usable cores as task slots (the workload's
    choice), a quarter of RAM as heap. All Spark and JVM scratch space is
    inside the work dir."""
    cores = max(1, int(len(os.sched_getaffinity(0)) * core_share))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        # the engine defaults to a 24g heap; take a quarter of the host
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options=-Djava.io.tmpdir={tmp} pyspark-shell",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    }


def noop_job(spark) -> None:
    """One single-task JVM-only job (no Python worker involved)."""
    spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def floor_probe(spark, n: int = 5) -> float:
    """Median wall time of a one-task no-op job: the scheduling floor."""
    times = []
    for _ in range(n):
        t0 = perf_counter()
        noop_job(spark)
        times.append(perf_counter() - t0)
    return median(times)


def jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait()


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"n": n, "p": None, "value": None}
    p = int(100 * (n - 10) / n)
    return {"n": n, "p": p, "value": percentile(xs, p)}


def span_names() -> list[str]:
    return [p[0] for p in PATCHES] + ["search.collect"] + [
        f"catalog.{f}" for f in CATALOG_FAMILIES
    ]


def per_layer(tracer, floor_s: float, rss_mb: float, plain: list[float], traced: list[float],
              growth) -> dict:
    """Per-layer metrics of the traced pass: per-op medians of the
    session figures, per-span totals, sink ratios, tracing overhead."""
    m: dict[str, tuple[float, str]] = {}
    for key, unit in SESSION_METRICS:
        name = "jobs_per_op" if key == "jobs" else key
        m[f"session.{name}"] = (median(op[key] for op in tracer.ops), unit)
    m["session.floor_s"] = (floor_s, "s")
    m["session.peak_rss_mb"] = (rss_mb, "MB")
    records = tracer.span_records()
    for name in span_names():
        mine = [r for r in records if r["name"] == name]
        m[f"{name}.calls"] = (len(mine), "count")
        m[f"{name}.self_s"] = (sum(r["self_s"] for r in mine), "s")
        m[f"{name}.jobs"] = (sum(r["jobs"] for r in mine), "count")
    writes = [r for r in records if r["name"] == "sinks.write_parquet"]
    m["sinks.write_parquet.output_bytes"] = (sum(r["output_bytes"] for r in writes), "bytes")
    ups = [r for r in records if r["name"] == "sinks.upsert_parquet"]
    out_b = sum(r["output_bytes"] for r in ups)
    out_r = sum(r["output_rows"] for r in ups)
    new_b = sum(r["new_bytes"] for r in ups)
    new_r = sum(r["new_rows"] for r in ups)
    m["sinks.upsert_parquet.output_bytes"] = (out_b, "bytes")
    m["sinks.upsert_parquet.output_rows"] = (out_r, "count")
    m["sinks.upsert_parquet.write_amp"] = (out_b / new_b if new_b else 0.0, "ratio")
    m["sinks.upsert_parquet.new_row_frac"] = (new_r / out_r if out_r else 0.0, "ratio")
    m["intake.growth_ratio"] = (growth or 0.0, "ratio")
    m["trace.overhead_frac"] = (median(traced) / median(plain) - 1.0, "ratio")
    m["trace.bookkeeping_s_per_op"] = (tracer.overhead_s / max(1, len(tracer.ops)), "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test input sizes")
    args = ap.parse_args(argv)

    if not (ROOT / "eurovision_spark" / "__init__.py").is_file() or not (
        ROOT / "tools" / "gen_registry.py"
    ).is_file():
        print(f"perfbench: no engine source under {ROOT}; run from the repo root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = inputs.WORK / f"run-{args.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.environ.update(host_env(work, WORKLOADS[args.workload].core_share))
    load1 = os.getloadavg()[0]
    steal0, total0 = cpu_ticks()

    t0 = perf_counter()
    from eurovision_spark import get_spark
    from pyspark import SparkContext

    spark = get_spark("perfbench")
    noop_job(spark)  # the first job pays one-time scheduler setup
    session_s = perf_counter() - t0
    try:
        floor_s = floor_probe(spark)
        ctx = Ctx(spark, args.seed, args.seconds, args.size, work)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        wl.warm_up()
        times = wl.run_ops(wl.ops())
        wl.finish()
        lat, items_per_s = wl.summarize(times)
        growth = wl.growth_ratio(lat)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "loadavg_1m": load1,
            "floor_s": floor_s,
            "session_start_s": session_s,
            "warm_up_s": ctx.warm_up_s,
            "op_n": len(lat),
            "op_tail": tail(lat),
            "op_times_s": lat,
            "op_labels": wl.op_labels[-len(lat):],
            "growth_ratio": growth,
            "problems": ctx.problems,
            **wl.extra(),
        }
        if args.trace:
            wl.reset_for_trace()
            tracer = Tracer(spark)
            for span, module, attr, sink in PATCHES:
                tracer.patch(span, module, attr, sink)
            traced = wl.run_ops(wl.ops(tracer), tracer, floor_s)
            traced_lat, _ = wl.summarize(traced)
            metrics = per_layer(tracer, floor_s, jvm_peak_rss_mb(SparkContext._gateway.proc),
                                lat, traced_lat, growth)
            trace_dir = inputs.WORK / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            with open(trace_dir / f"{args.workload}-seed{args.seed}.jsonl", "w") as f:
                for rec in tracer.span_records():
                    f.write(json.dumps(rec) + "\n")
                for op in tracer.ops:
                    f.write(json.dumps({"op_record": op}) + "\n")
        else:
            metrics = {
                "setup_s": (session_s + sum(ctx.warm_up_s.values()), "s"),
                "op_p50_s": (median(lat), "s"),
                "op_p90_s": (percentile(lat, 90), "s"),
                "ops_per_s": (len(lat) / sum(lat), "1/s"),
                "items_per_s": (items_per_s, "1/s"),
            }
        context["peak_rss_mb"] = jvm_peak_rss_mb(SparkContext._gateway.proc)
        context["loadavg_1m_end"] = os.getloadavg()[0]
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests during the run
        context["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    finally:
        stop_session(spark)
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0 and ctx.attempted > 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
