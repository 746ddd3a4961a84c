"""Per-query optimization probe (r10): warm time, Spark JOB count, plan shape.

For each requested query (default: bench.HEADLINE) this measures, in one
local[$SPARK_GRAFT_CPUS] session at $SPARK_GRAFT_SF_DIR:

- cold and warm noop-sink seconds (eurovision_spark.obs's rep policy:
  min of 2 post-compilation runs, +1 adaptive, +1 load-suspect re-time);
- the number of Spark jobs one warm run launches (job-group counting —
  on this box a trivial job costs ~0.17-0.3s of pure scheduling, so job
  count bounds warm time below: the first thing to shrink);
- plan-shape counters from ``explain("formatted")``: parquet scans,
  Exchange nodes, SortMergeJoin/BroadcastHashJoin, Python eval nodes;
- optionally the full formatted plan, written to --plans=<dir>/<q>_<tag>.txt.

Usage:
  python tools/opt_probe.py [--plans=DIR] [--tag=before] [query ...]

Writes one JSON line per query to stdout and a summary at the end.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def plan_counters(plan: str) -> dict:
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "pyeval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas", plan)
        ),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    tag = "before"
    names = []
    for a in args:
        if a.startswith("--plans="):
            plans_dir = Path(a.split("=", 1)[1])
        elif a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        else:
            names.append(a)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE
    from eurovision_spark import get_spark
    from eurovision_spark.catalog import registry
    from eurovision_spark.obs import Probe, plan_text

    if not names:
        names = list(HEADLINE)
    spark = get_spark("opt_probe")
    probe = Probe(spark.sparkContext)
    specs = registry()
    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)

    # floor: what a trivial job costs on this box right now
    floor = probe.floor(5)
    print(json.dumps({"floor_sec": floor}), flush=True)

    rows = []
    for name in names:
        fn = specs[name].fn
        try:
            plan = plan_text(fn(spark, sf_dir))
            if plans_dir:
                (plans_dir / f"{name}_{tag}.txt").write_text(plan + "\n", "utf8")
            t = probe.time(lambda: fn(spark, sf_dir))
            jobs = probe.jobs(lambda: fn(spark, sf_dir))
            row = {
                "q": name,
                "warm": t.warm,
                "cold": t.cold,
                "jobs": jobs,
                "bound": round(jobs * floor, 2),
                **plan_counters(plan),
            }
        except Exception as exc:  # noqa: BLE001
            row = {"q": name, "err": f"{type(exc).__name__}: {exc}"[:300]}
        rows.append(row)
        print(json.dumps(row), flush=True)

    ok = [r for r in rows if "warm" in r]
    ok.sort(key=lambda r: -r["warm"])
    print(
        json.dumps(
            {
                "total_warm": round(sum(r["warm"] for r in ok), 2),
                "total_jobs": sum(r["jobs"] for r in ok),
                "top10": [(r["q"], r["warm"], r["jobs"]) for r in ok[:10]],
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
