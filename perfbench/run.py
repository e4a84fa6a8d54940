#!/usr/bin/env python3
"""Benchmark of the PySpark analytics engine, run from the repository root.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --report [--seed N] [--seconds S]

One process, one client, closed loop: each query of the workload is
called (``registry.QUERIES[name](spark, sf_dir)``), its result written
to the ``noop`` sink, then the next query runs. Spark runs
``local[<cores>]``. After an untimed warm pass, the run times whole
passes (the seed permutes query order per pass), then an untimed
correctness pass compares an order-insensitive digest of every query's
collected result with the DuckDB oracle's.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ledger with ``--trace 1``. ``--report``
runs every workload untraced and traced and prints all metrics by name
with their units, the failed queries and the tracing overhead.

All state lives under ``perfbench/.work``: generated data and oracle
digests (kept), and a fresh per-run temp root (removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import lib  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "3g"


def process_start_time() -> float:
    """Epoch time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(run_dir: Path) -> dict:
    """Fresh temp roots and a core-count-sized Spark; returns the env record."""
    cores = len(os.sched_getaffinity(0))
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(local),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    for var in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # spark-warehouse/, derby.log land in the run dir
    return {"cores": cores, "driver_mem": DRIVER_MEM}


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java[0] if java else "unknown",
    }


class RssSampler(threading.Thread):
    """Peak RSS of this process tree (``lib.tree_rss_bytes``), counting a
    level only once two consecutive samples reach it. A child caught in
    the few milliseconds between the JVM's fork and its exec reports the
    JVM's own pages; a single such sample would count the JVM twice."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        prev = 0
        while not self._stop_evt.is_set():
            cur = lib.tree_rss_bytes(os.getpid())
            self.peak = max(self.peak, min(prev, cur))
            prev = cur
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def warm_workers(spark) -> None:
    """Ship the package and start the Python worker pool with the Arrow
    kernel module imported, so no query pays for either."""
    from bigdatafinalproject_spark.operators import arrow_kernels

    arrow_kernels.ensure_shipped(spark)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def _import_kernels(it):
        arrow_kernels.seq_dot  # noqa: B018  resolved in the worker
        yield from it

    spark.range(10_000).repartition(cores).mapInArrow(_import_kernels, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def dir_usage(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return files, size


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, workload, data, tracer=None):
        self.w = workload
        self.data = data
        self.tracer = tracer
        self.samples: list[float] = []
        self.by_query: dict[tuple[str, str], list[float]] = {}  # (phase, query)
        self.pass_s: list[float] = []
        self.failures: dict[str, str] = {}
        self.n_failed = 0
        self.attempted = 0
        self.check_s = 0.0  # digest comparison time, kept out of setup_s

    def span(self, name, **attrs):
        return nullcontext() if self.tracer is None else self.tracer.span(name, **attrs)

    def sf_dir(self, label: str) -> str:
        return self.data[label]["dir"]

    def run_pass(self, spark, order, phase):
        """One pass over ``order``. The ``check`` pass collects each
        result and compares it with the oracle; the ``warm`` and
        ``timed`` passes write it to ``noop``."""
        from bigdatafinalproject_spark import registry

        t0 = time.perf_counter()
        with self.span("pass", phase=phase):
            for name, label in order:
                self.attempted += 1
                with self.span("query", phase=phase, query=name):
                    t = time.perf_counter()
                    try:
                        with self.span("call"):
                            df = registry.QUERIES[name](spark, self.sf_dir(label))
                        with self.span("materialize"):
                            if phase == "check":
                                rows = df.collect()
                            else:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # a failing query is counted, not fatal
                        traceback.print_exc(file=sys.stderr)
                        self.fail(name, f"{type(e).__name__}: {e}".splitlines()[0][:300])
                        continue
                    elapsed = time.perf_counter() - t
                self.by_query.setdefault((phase, name), []).append(elapsed)
                if phase == "timed":
                    self.samples.append(elapsed)
                elif phase == "check":
                    t = time.perf_counter()
                    reason = self.verify(name, label, df.columns, rows)
                    self.check_s += time.perf_counter() - t
                    if reason:
                        self.fail(name, reason)
        return time.perf_counter() - t0

    def fail(self, name: str, reason: str) -> None:
        self.failures.setdefault(name, reason)
        self.n_failed += 1

    def verify(self, name, label, columns, rows) -> str | None:
        """Why a result differs from its oracle, or None if it matches."""
        if name in self.w.rows_only:
            cols, n = self.w.rows_only[name]
            if tuple(columns) != cols or len(rows) != n:
                return f"schema/rows {tuple(columns)}/{len(rows)} != {cols}/{n}"
            return None
        want = self.data[label]["oracle"].get(name)
        if want is None:
            return "no oracle and no rows-only expectation"
        digest, n = lib.result_digest(columns, rows)
        if digest != want["digest"]:
            return f"digest mismatch ({n} rows vs oracle {want['rows']})"
        return None


def stop_children(timeout: float = 30.0) -> None:
    """Terminate and wait for every process this one started."""
    pids = lib.tree_pids(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    for pid in pids:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    break
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def bench(args) -> int:
    t_process = process_start_time()
    if not (ROOT / "bigdatafinalproject_spark" / "registry.py").is_file() or not (
        ROOT / "scripts" / "gen_scale.py"
    ).is_file():
        print("perfbench: the engine sources are not in this checkout", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    t_prep = time.time()
    WORK.mkdir(exist_ok=True)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_environment(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        return _bench(args, workload, env, t_process, t_prep)
    finally:
        os.chdir(ROOT)
        stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def _bench(args, workload, env, t_process, t_prep) -> int:
    from bigdatafinalproject_spark import catalog, registry

    import prepare

    testdata = Path(catalog.DEFAULT_SF_DIR).parent
    needs: dict[str, list[str]] = {}
    for w in WORKLOADS.values():
        for name, label in w.queries:
            needs.setdefault(label, []).append(name)
    data = prepare.prepare(ROOT, WORK, testdata, catalog.TABLES, needs, registry.ORACLES)
    prep_s = time.time() - t_prep
    env["versions"] = versions()
    env["data"] = {k: {"fingerprint": v["fingerprint"], "rows": v["rows"], "gen_s": v["gen_s"]} for k, v in data.items()}

    tracer = None
    extra = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap (-Xms = driver memory) keeps GC sizing, and with it
        # run-to-run time and RSS, from depending on heap-growth history
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        extra.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            }
        )
    run = Run(workload, data, tracer)
    rss = RssSampler()
    rss.start()

    from bigdatafinalproject_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    session_s = time.time() - t0
    t0 = time.time()
    if workload.python_workers:
        warm_workers(spark)
    warm_s = time.time() - t0
    batches: list[dict] = []
    if tracer is not None:
        bindings = tracing.install_wrappers(tracer)
        listener = tracing.make_stream_listener(batches)
        spark.streams.addListener(listener)

    rng = random.Random(args.seed)
    index_root = Path(os.environ["TMPDIR"]) / f"bdfp_annidx_{os.getuid()}"

    def order():
        q = list(workload.queries)
        rng.shuffle(q)
        return q

    with run.span("workload", workload=args.workload):
        # two untimed passes: the first also checks every result; the
        # second lets the JIT settle (the first pass after a cold one
        # still ran 20-40% slower than the next on a 4-core host)
        warm_pass_s = [run.run_pass(spark, order(), phase) for phase in ("check", "warm")]
        t_first = time.time()
        setup_s = t_first - t_process - prep_s - run.check_s
        n_passes = workload.passes(args.seconds)
        for _ in range(n_passes):
            run.pass_s.append(run.run_pass(spark, order(), "timed"))
        timed_s = time.time() - t_first
        files, disk = dir_usage(index_root)
    peak_rss = rss.stop()

    failed = run.n_failed
    tail = lib.tail_percentile(run.samples, min_samples=20)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": n_passes,
        "queries": len(workload.queries),
        "timed_s": round(timed_s, 3),
        "pass_s_all": [round(x, 3) for x in run.pass_s],
        "query_s": {f"{p}:{q}": [round(x, 3) for x in v] for (p, q), v in sorted(run.by_query.items())},
        "warm_pass_s": [round(x, 3) for x in warm_pass_s],
        "prepare_s": round(prep_s, 3),
        "failed_frac": failed / max(run.attempted, 1),
        "failed_queries": run.failures,
        "index_disk_mb": disk / 2**20,
        "query_tail_percentile": tail[0],
        "query_tail_samples": tail[2],
        "env": env,
    }

    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(run.pass_s), "s"),
            "query_p50_s": (statistics.median(run.samples), "s"),
            "query_tail_s": (tail[1], "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MiB"),
        }
    else:
        spark.streams.removeListener(listener)
        rest = tracing.spark_rest(spark.sparkContext)
        layer = tracing.ledger(tracer, rest, batches, n_passes)
        layer.update(
            {
                "session.start_s": session_s,
                "session.worker_warm_s": warm_s,
                "ann_index.files": files,
                "ann_index.disk_bytes": disk,
                "ann_index.setup_build_s": tracing.setup_build_s(tracer),
                "trace.pass_s": statistics.median(run.pass_s),
            }
        )
        calls = tracer.calls
        missing = [f for f in workload.required_calls if not calls.get(f)]
        summary["wrapper_bindings"] = bindings
        summary["wrapper_calls"] = calls
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(traces / f"{args.workload}-seed{args.seed}.json")
        if missing:
            print(f"perfbench: wrapped functions recorded no calls on {args.workload}: {missing}", file=sys.stderr)
            spark.stop()
            return 3
        metrics = {k: (layer[k], u) for k, u in tracing.LAYER_UNITS.items()}
    spark.stop()

    print("perfbench summary " + json.dumps(summary, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def report(args) -> int:
    """Every workload untraced then traced, printed as a table."""
    for name in WORKLOADS:
        results = {}
        for trace_flag in (0, 1):
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace_flag)]
            out = subprocess.run(cmd, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{name} trace={trace_flag}: exit {out.returncode}\n{out.stderr[-2000:]}")
                return 1
            summary = json.loads(next(l for l in lines if l.startswith("perfbench summary ")).split(" ", 2)[2])
            results[trace_flag] = (json.loads(lines[-1]), summary)
        (e2e, s0), (layer, _) = results[0], results[1]
        print(f"== {name}: {s0['passes']} passes x {s0['queries']} queries, {s0['env']['cores']} cores")
        for k, v in e2e["metrics"].items():
            print(f"  {k:<34} {v['value']:>14.4f} {v['unit']}")
        print(f"  {'failed_frac':<34} {s0['failed_frac']:>14.4f} ratio ({e2e['failed']}/{e2e['attempted']})")
        print(f"  {'index_disk_mb':<34} {s0['index_disk_mb']:>14.4f} MiB")
        print(f"  query_tail_s is p{s0['query_tail_percentile']} of {s0['query_tail_samples']} samples")
        for q, why in s0["failed_queries"].items():
            print(f"  FAILED {q}: {why}")
        for k, v in layer["metrics"].items():
            print(f"  {k:<34} {v['value']:>14.4f} {v['unit']}")
        overhead = layer["metrics"]["trace.pass_s"]["value"] - e2e["metrics"]["pass_s"]["value"]
        print(f"  {'tracing overhead (pass_s)':<34} {overhead:>14.4f} s")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true", help="run every workload, print all metrics")
    args = ap.parse_args()
    if args.report:
        return report(args)
    if args.workload is None:
        ap.error("--workload or --report is required")
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
