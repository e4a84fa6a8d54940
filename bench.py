"""Benchmark harness: run every registered query at a scale factor.

Prints ONE JSON line:
    {"metric": "bench_total_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "cpus": 32, ...}

Env:
    SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    (default 32)
    BENCH_QUERIES       (comma-separated subset; default: all)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bigdatafinalproject_spark import registry  # noqa: E402
from bigdatafinalproject_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    """Force full execution without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    subset = os.environ.get("BENCH_QUERIES")
    names = subset.split(",") if subset else sorted(registry.QUERIES)

    spark = get_spark(app_name="bdfp-bench")
    warm_session(spark, sf_dir)

    # Per-query noise guard (VERDICT r5): a single-query spike can slip
    # past the whole-run canary (BENCH_r05 carried price_band_join at
    # 6.3 s vs its steady ~1.5 s in an otherwise-quiet run). Reference
    # = the committed BENCH_FULL sidecar's per-query map at the same
    # sf; any reading >2.5x its reference is re-run once in-process and
    # the MIN recorded, with both raw readings kept in a `reruns`
    # field so the artifact self-describes the outlier.
    steady_ref: dict[str, float] = {}
    sidecar = Path(__file__).resolve().parent / "BENCH_FULL.json"
    try:
        prior = json.loads(sidecar.read_text())
        if prior.get("sf") == sf:
            steady_ref = prior.get("queries", {})
    except (OSError, ValueError):
        pass
    _MAX_RERUNS = 8  # bound added wall-clock on a genuinely hot host

    def _run_once(fn) -> float:
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    reruns: dict[str, list[float]] = {}
    runs_by_name: dict[str, list[float]] = {}
    for name in names:
        fn = registry.QUERIES[name]
        t = _run_once(fn)
        runs_by_name[name] = [t]
        ref = steady_ref.get(name)
        if ref and t > 2.5 * ref and len(reruns) < _MAX_RERUNS:
            t2 = _run_once(fn)
            reruns[name] = [t, t2]
            runs_by_name[name].append(t2)
            t = min(t, t2)
        timings[name] = t

    # Median-of-3 for the top-10 (VERDICT r7 #2): single-run timings
    # made round-over-round regressions undecidable — r7's
    # part_triangle_count read +29% vs r6 and nothing in the artifact
    # could say whether that was a plan regression or scheduler noise.
    # The 10 most expensive queries get two extra runs; the recorded
    # timing is the MEDIAN and the raw runs ship in a `spread` field,
    # so the next verdict can compare medians and judge significance
    # against the observed within-run spread. Subset runs skip this
    # (scale tooling wants one timing per invocation).
    spread: dict[str, dict[str, float | list[float]]] = {}
    if not subset:
        heavy = sorted(timings, key=lambda n: timings[n], reverse=True)[:10]
        # r15 (VERDICT r14 #8): the stream/index-maintenance family is
        # the volatile one (first readings 2-6x their reruns in the
        # r14 artifact's reruns/spread fields) and round-over-round
        # verdicts on it were being decided by first-reading heat.
        # Extend the median-of-3 protocol to the WHOLE family, not
        # just whichever members land in the top-10. Additions-only:
        # the timing recorded is still the median, raw runs ship in
        # `spread`.
        volatile = [
            n
            for n in timings
            if n.startswith("stream_") or "_index_" in n
        ]
        for name in dict.fromkeys(heavy + volatile):
            fn = registry.QUERIES[name]
            runs_by_name[name].extend(_run_once(fn) for _ in range(2))
            runs = sorted(runs_by_name[name])
            med = runs[len(runs) // 2] if len(runs) % 2 else round(
                (runs[len(runs) // 2 - 1] + runs[len(runs) // 2]) / 2, 3
            )
            timings[name] = med
            spread[name] = {
                "runs": runs_by_name[name],
                "median": med,
                "spread": round(runs[-1] - runs[0], 3),
            }

    total = round(sum(timings.values()), 3)
    # the session's parallelism: ALS blocking and the pinned partition
    # counts follow it, so every artifact records which value it ran at
    cpus = spark.sparkContext.defaultParallelism
    # Noise self-description (VERDICT r4): popular_parts is the host
    # canary — steady ~0.72 s at sf0.1 on a quiet host (NOTES.md).
    # r3/r4 both produced bench artifacts with 1.5-5x host inflation
    # that readers could only detect by forensics; embed the canary
    # value and a derived flag so every artifact says how noisy its
    # own run was.
    canary = timings.get("popular_parts")
    steady = 0.72 if sf == 0.1 else None
    hot_host = (
        bool(canary is not None and steady is not None and canary > steady * 1.35)
        if steady is not None
        else None
    )
    noise = {
        "canary_sec": canary,
        "canary_steady_sec": steady,
        "hot_host": hot_host,
        "reruns": reruns,
        "spread": spread,
    }
    # The driver captures a bounded tail of stdout: the ONE contract
    # JSON line must stay compact (r1's full 114-query map overflowed
    # the window and parsed as null). The line carries the total + the
    # slowest 10; the full per-query map goes to a sidecar file.
    # subset runs are small — print the full map (scale tooling parses
    # it); only the full-registry line needs the top-10 cap
    slowest = (
        dict(timings)
        if subset
        else dict(
            sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
        )
    )
    full = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": sf,
        "cpus": cpus,
        **noise,
    }
    # subset runs (BENCH_QUERIES) must not clobber the full-registry
    # sidecar with a 2-query map
    if not subset:
        sidecar.write_text(json.dumps(full, indent=1) + "\n")
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "sf": sf,
                "cpus": cpus,
                **noise,
            }
        )
    )


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM, the parquet footers and each Python worker kind,
    so per-query timings measure the query and not first-use spin-up."""
    registry.QUERIES["popular_parts"](spark, sf_dir).count()
    # ship the package zip BEFORE warming the worker pool: addPyFile
    # changes the Python-worker-factory key, so a pool warmed first
    # would be abandoned and re-forked at the first kernelized query
    # (~2-4 s of numpy/pyarrow imports charged to that query)
    from bigdatafinalproject_spark.operators import arrow_kernels as _ak

    _ak.ensure_shipped(spark)
    # warm the Python worker pool too — otherwise the alphabetically
    # first mapInPandas query absorbs the whole pool's spin-up cost
    spark.range(10_000).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # ... and make that warm-up import the Arrow kernel module (numpy +
    # pyarrow + the kernels) in every pooled worker: the r14 ANN/dedup
    # plans run operators/arrow_kernels kernels, and a cold worker pays
    # ~0.5-1 s of module import that would otherwise be charged to the
    # first kernelized query (same principle as the two warms above)
    def _warm_kernels(it):
        _ak.seq_dot  # resolved in the worker: the module is imported
        yield from it

    spark.range(10_000).repartition(32).mapInArrow(
        _warm_kernels, "id long"
    ).write.format("noop").mode("overwrite").save()
    # same principle for the Python DataSource worker kind (separate
    # from the pandas pool): first use costs ~3 s of interpreter
    # spin-up that would otherwise be charged to python_datasource_agg
    from bigdatafinalproject_spark.sources.pydatasource import register

    register(spark)
    (
        spark.read.format("bdfp_series")
        .option("n", 64)
        .option("parts", 8)
        .load()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


if __name__ == "__main__":
    main()
