"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is measured with the noop sink — full plan execution on the
cluster side, no driver-side collect in the timed path.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from realtime_data_pipeline_spark.plans.registry import REGISTRY
from realtime_data_pipeline_spark.session import default_parallelism, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


WARMUP_SF_DIR = "/root/testdata/sf0.001"

# Loadavg gate (r11 verdict #5): the committed artifact must either
# start on a quiet host or carry an explicit annotation — r11's
# headline was recorded at loadavg 5.5 (minutes after soak workers
# exited) and showed a phantom +14.6% that cost a manual re-run to
# adjudicate.  Wait and retry, bounded so an inherently busy host
# still produces an (annotated) artifact.
# r12 verdict tightened the default from 2.0 to 1.0: a gate passed at
# 1.99 on this 32-cpu box still admitted ~15% inflation in the
# committed r12 artifact vs the idle-host number (20.06 s vs 17.3 s).
LOADAVG_GATE = float(os.environ.get("SPARK_GRAFT_LOADAVG_GATE", "1.0"))
LOADAVG_WAIT_BUDGET_SEC = int(os.environ.get("SPARK_GRAFT_LOADAVG_WAIT", "600"))


def _await_idle_host() -> dict:
    # One sample per decision: `last` is both the loop's exit evidence
    # and the recorded final/passed value, so the artifact can never
    # disagree with the condition that let timing start.
    initial = last = os.getloadavg()[0]
    waited = 0
    while last > LOADAVG_GATE and waited < LOADAVG_WAIT_BUDGET_SEC:
        time.sleep(15)
        waited += 15
        last = os.getloadavg()[0]
    return {
        "threshold": LOADAVG_GATE,
        "initial_1min": round(initial, 2),
        "final_1min": round(last, 2),
        "waited_sec": waited,
        "passed": last <= LOADAVG_GATE,
    }


def main() -> None:
    loadavg_gate = _await_idle_host()
    n = default_parallelism()
    spark = get_spark(
        app_name="rdp-bench", master=f"local[{n}]", shuffle_partitions=n
    )
    bench_specs = [s for s in REGISTRY.values() if s.bench]

    # Warm-up: execute every bench query once at the smallest scale
    # factor so whole-stage codegen, Python worker pools, and parquet
    # footers are hot — the timed numbers then measure the engine's
    # steady state, not first-run JIT.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    for spec in bench_specs:
        spec.fn(spark, WARMUP_SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    # min of N timed runs per query (default 5 — round-5's shared-host
    # numbers carried ~35-90% load inflation that min-of-3 did not
    # saturate); the minimum is the stable estimate of what the plan
    # actually costs, the median is printed alongside so the artifact
    # itself reveals host noise (median >> min == loaded machine).
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for spec in bench_specs:
        runs: list[float] = []
        for _ in range(n_runs):
            # fn() is INSIDE the timed region: for most queries plan
            # construction is milliseconds, but iterative operators
            # (pagerank's supersteps, persisted-store builds) do their
            # real work eagerly during construction — timing only the
            # final noop write would report a fantasy number
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
            # queries that persist() an intermediate (tfidf's tf table,
            # ann_recall_report's ground truth) materialize a FRESH
            # cached copy per run — drop it so the min-of-N loop
            # measures each run cold and cache memory stays bounded.
            spark.catalog.clearCache()
        timings[spec.name] = round(min(runs), 3)
        medians[spec.name] = round(statistics.median(runs), 3)

    # Scale-curve probe (VERDICT r6 #3): re-time every bench query at a
    # 10x-smaller scale factor in the SAME process and report the
    # per-query time ratio.  The plan-shape pins say each query LOOKS
    # linear; this measures it — a query whose large/small ratio
    # materially exceeds the data-volume ratio is superlinear in data
    # volume (the iterative operators, pagerank and corpus_curation,
    # are the interesting rows).  Ratios hover BELOW the data ratio
    # when per-query fixed overhead (session round-trips, plan
    # analysis, Python worker startup) dominates the small-scale run.
    probe_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", "/root/testdata/sf0.01"
    )
    scale_curve: dict[str, dict] = {}
    sf_large, sf_small = _sf_from_dir(SF_DIR), _sf_from_dir(probe_dir)
    if (
        os.path.isdir(probe_dir)
        and probe_dir != SF_DIR
        and sf_large > 0
        and sf_small > 0
    ):
        # SPARK_GRAFT_SCALE_RUNS<=0 means "skip the probe" (leaving
        # scale_curve empty) rather than min()-ing an empty run list.
        probe_runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
        for spec in bench_specs if probe_runs >= 1 else []:
            runs = []
            for _ in range(probe_runs):
                t0 = time.perf_counter()
                spec.fn(spark, probe_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            t_small = min(runs)
            scale_curve[spec.name] = {
                "t_small": round(t_small, 3),
                "ratio": round(timings[spec.name] / t_small, 2)
                if t_small > 0
                else None,
            }

    out = {
        "metric": "headline_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "n_runs": n_runs,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        # pre-run idle-host gate: passed=false means the host never
        # quieted inside the wait budget — treat cross-round deltas
        # from this artifact as environmental until re-measured
        "loadavg_gate": loadavg_gate,
        # r6 convention change: timings now cover construct+execute
        # (rounds <=5 timed only the final noop write, which excluded
        # the eager supersteps of iterative operators — pagerank
        # benched at 0.04s while its real cost ran untimed during
        # plan construction).  Cross-round comparisons must account
        # for the ~0.2-0.3s of per-query read/analysis overhead this
        # adds to even pure-lazy queries.
        "timing": "construct+execute",
        "sf": _sf_from_dir(SF_DIR),
        # per-query time ratio vs the 10x-smaller probe scale; the
        # data-volume ratio is sf / scale_probe_sf
        "scale_probe_sf": sf_small if scale_curve else None,
        "scale_curve": scale_curve,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
