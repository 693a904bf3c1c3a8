"""Benchmark of candia_spark on two workloads, measured from outside.

    python3 perfbench/run.py --workload iterative_chains --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Each run starts one Spark session at
``local[N]`` with N shuffle partitions (N = usable cores), generates its
inputs from ``--seed``, runs one untimed pass that warms the JVM and checks
every output (the DuckDB oracle for queries, the generator's ledger for the
pipeline), then runs timed passes as a closed loop from one client for
``--seconds``, and at least the workload's number of passes.
Each timed pass checks its output row counts against the first pass
through observed metrics, without an extra Spark action.

``--trace 0`` prints the end-to-end metrics (medians over timed passes).
``--trace 1`` adds a traced pass that runs every call under a job group of
its own and prints the per-layer metrics. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; a wrong or
failed output makes the command exit 1.

``--workload all`` runs every workload, each in its own process, and
``--write-benchmark-json`` renders BENCHMARK.json from perfbench/spec.py.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_SECONDS = 1
GENERATIONS = 3

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def _fail(msg: str) -> None:
    print(msg, file=sys.stderr)
    raise SystemExit(2)


def _import_program() -> None:
    """Import the package from this checkout, never from elsewhere."""
    try:
        import candia_spark
    except ImportError as exc:
        _fail(f"candia_spark is not importable from {ROOT}: {exc}")
    pkg = os.path.dirname(os.path.abspath(candia_spark.__file__))
    if pkg != os.path.join(ROOT, "candia_spark"):
        _fail(f"candia_spark resolved to {pkg}, not to this checkout")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


class Run:
    """State of one benchmark run: its arguments, work directory, passes
    and the count of attempted and failed output checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.oracle_s = 0.0
        self.passes: list[dict] = []
        self.cores = len(os.sched_getaffinity(0))

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG: {what}", file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAILED: {what}\n{traceback.format_exc()}", file=sys.stderr)


def _observed_rows(df, write):
    """Run ``write`` on ``df`` with a row count observed on the same
    execution (no extra Spark action) and return that count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet(path: str):
    return lambda df: df.write.mode("overwrite").parquet(path)


# --------------------------------------------------------------------------
# Query workloads
# --------------------------------------------------------------------------

class QueryWorkload:
    def __init__(self, run: Run, spec):
        self.run = run
        self.spec = spec
        self.names = list(spec.queries)
        random.Random(run.args.seed).shuffle(self.names)
        self.tables = os.path.join(run.work, "tables")
        self.expected: dict[str, int] = {}
        self.scanned: dict[str, list[str]] = {}
        self.table_rows: dict[str, int] = {}

    def generate(self) -> None:
        from perfbench.tablegen import write_tables

        self.table_rows = write_tables(self.tables, self.run.args.seed, self.spec.tables, self.spec.fraction)

    @property
    def input_rows(self) -> int:
        return sum(self.table_rows[t] for n in self.names for t in self.scanned.get(n, ()))

    def verify(self, spark) -> None:
        """First pass: every query against its DuckDB oracle, recording the
        tables each query loads and its row count."""
        import importlib

        # the package re-exports a function named ``queries`` over its module
        compare = importlib.import_module("candia_spark.plans.compare")
        queries = importlib.import_module("candia_spark.plans.queries")

        load_table, connect = queries.load_table, compare.duckdb_connection
        current: list[str] = []
        oracle_start: list[float] = []

        def counting_load(spark_, sf_dir, name, *a, **kw):
            self.scanned.setdefault(current[-1], []).append(name)
            return load_table(spark_, sf_dir, name, *a, **kw)

        def timed_connect(sf_dir):
            oracle_start.append(time.perf_counter())
            return connect(sf_dir)

        queries.load_table, compare.duckdb_connection = counting_load, timed_connect
        try:
            for name in self.names:
                current.append(name)
                oracle_start.clear()
                try:
                    res = compare.compare_query(spark, self.tables, name)
                except Exception:
                    self.run.error(f"{name} (verification pass)")
                    continue
                finally:
                    if oracle_start:
                        self.run.oracle_s += time.perf_counter() - oracle_start[0]
                if self.run.check(bool(res["match"]), f"{name}: oracle {res.get('status')}"):
                    self.expected[name] = int(res["rows"])
        finally:
            queries.load_table, compare.duckdb_connection = load_table, connect

    def timed_pass(self, spark, tracer) -> None:
        from candia_spark.plans.queries import QUERY_REGISTRY

        for name in self.names:
            with tracer.span(name):
                try:
                    rows = _observed_rows(QUERY_REGISTRY[name].spark(spark, self.tables), _noop)
                except Exception:
                    self.run.error(name)
                    continue
            self.run.check(rows == self.expected.get(name), f"{name}: {rows} rows, first pass {self.expected.get(name)}")

    @staticmethod
    @contextmanager
    def instrumented(tracer):
        """Operator entry points wrapped in spans for the traced pass."""
        import importlib

        from perfbench import spec

        def spanned(fn, label):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                with tracer.span(label):
                    return fn(*args, **kwargs)

            return call

        wrapped = []
        for mod_name, attr, label in spec.OPERATORS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, spanned(orig, label))
            wrapped.append((mod, attr, orig))
        try:
            yield
        finally:
            for mod, attr, orig in wrapped:
                setattr(mod, attr, orig)

    def layer_metrics(self, spark, tracer, top) -> dict[str, float]:
        from perfbench import spec

        out = {}
        for sp in tracer.spans:
            if sp.parent != top.span_id:
                continue
            tot = tracer.total(sp)
            out[f"{sp.name}.wall_s"] = sp.wall_s
            out[f"{sp.name}.jobs"] = tot.jobs
            out[f"{sp.name}.task_s"] = tot.task_s
            out[f"{sp.name}.shuffle_write_mb"] = tot.shuffle_write_mb
        for _mod, _attr, op in spec.OPERATORS:
            calls = [sp for sp in tracer.spans if sp.name == op]
            if calls:
                out[f"{op}.s"] = sum(tracer.self_s(sp) for sp in calls)
                out[f"{op}.jobs"] = sum(sp.spark.jobs for sp in calls)
        return out


# --------------------------------------------------------------------------
# DIA pipeline workload
# --------------------------------------------------------------------------

def _window_centers(adjusted):
    """(swath_lower_adjusted, window_center) per window, as stage 10 of
    ``run_pipeline`` builds them."""
    from pyspark.sql import functions as F

    return (
        adjusted.select("swath_lower_adjusted", "swath_upper_adjusted")
        .distinct()
        .select(
            "swath_lower_adjusted",
            ((F.col("swath_lower_adjusted") + F.col("swath_upper_adjusted")) / 2).alias("window_center"),
        )
    )


class DiaWorkload:
    def __init__(self, run: Run):
        from candia_spark.pipeline import CandiaConfig

        from perfbench import spec

        self.run = run
        self.spec = spec.DIA
        self.ranks = list(spec.DIA_RANKS)
        self.max_iter = spec.DIA_MAX_ITER
        self.cfg = CandiaConfig(
            min_scan_intensity=self.spec.min_intensity,
            window_size_sec=self.spec.window_size_sec,
            parafac_max_iter=self.max_iter,
        )
        self.mzml_dir = os.path.join(run.work, "mzml")
        self.paths: list[str] = []
        self.ledger = None
        self.expected: int | None = None
        self._pass_no = 0

    def generate(self) -> None:
        from perfbench.diagen import write_dia_experiment

        self.paths, self.ledger = write_dia_experiment(self.mzml_dir, self.spec, self.run.args.seed)

    @property
    def input_rows(self) -> int:
        return self.ledger.points + self.ledger.dropped_low_intensity

    def _out_dir(self) -> str:
        # a fresh directory per pass: overwriting a store that this session
        # has already listed would leave stale entries in its file cache
        self._pass_no += 1
        prev = os.path.join(self.run.work, f"out{self._pass_no - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        return os.path.join(self.run.work, f"out{self._pass_no}")

    @staticmethod
    def _write_output(sample_modes, out: str) -> int:
        return _observed_rows(sample_modes, _parquet(os.path.join(out, "sample_modes")))

    def _run_pipeline(self, spark, out: str) -> dict:
        from candia_spark.pipeline import run_pipeline

        return run_pipeline(
            spark,
            self.paths,
            self.cfg,
            ncomp_range=self.ranks,
            max_iter=self.max_iter,
            slice_store_path=os.path.join(out, "slices"),
        )

    def verify(self, spark) -> None:
        """First pass, checked against the generator's ledger."""
        from pyspark.sql import functions as F

        out = self._out_dir()
        factors = None
        try:
            res = self._run_pipeline(spark, out)
            # cached here only, so the factor checks below do not decompose again
            factors = res["factors"].persist()
            rows = self._write_output(res["sample_modes"], out)
            led = self.ledger
            store = spark.read.parquet(os.path.join(out, "slices"))
            points, windows = store.agg(F.count(F.lit(1)), F.countDistinct("swath_lower_adjusted")).first()
            slices = res["best_models"].select("swath_lower_adjusted", "rt_window").distinct().count()
            lo, rsq_lo, rsq_hi = factors.agg(F.min("value"), F.min("rsq"), F.max("rsq")).first()
        except Exception:
            self.run.error("dia_pipeline (verification pass)")
            return
        finally:
            if factors is not None:
                factors.unpersist()
        ok = all([
            self.run.check(points == led.points, f"scan points {points}, ledger {led.points}"),
            self.run.check(windows == led.windows, f"windows {windows}, ledger {led.windows}"),
            self.run.check(slices == len(led.slices), f"best-model slices {slices}, ledger {len(led.slices)}"),
            self.run.check(lo is not None and lo >= 0.0, f"negative factor value {lo}"),
            self.run.check(rsq_lo is not None and 0.0 <= rsq_lo <= rsq_hi <= 1.0, f"rsq range [{rsq_lo}, {rsq_hi}]"),
        ])
        if ok:
            self.expected = rows

    def _check_rows(self, rows: int) -> None:
        self.run.check(rows == self.expected, f"sample_modes {rows} rows, first pass {self.expected}")

    def timed_pass(self, spark, tracer) -> None:
        out = self._out_dir()
        with tracer.span("run_pipeline"):
            try:
                res = self._run_pipeline(spark, out)
                rows = self._write_output(res["sample_modes"], out)
            except Exception:
                self.run.error("dia_pipeline")
                return
        self._check_rows(rows)

    @staticmethod
    def instrumented(tracer):
        return nullcontext()

    def layer_metrics(self, spark, tracer, _top) -> dict[str, float]:
        """A profile pass: each stage function on its persisted input, so
        each stage's time is its own; then the PARAFAC fleet is replayed
        serially in the driver as the single-threaded baseline."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        import candia_spark.pipeline as P
        from candia_spark.sources.mzml import mzml_to_scan_table

        out = self._out_dir()
        cached = []

        def keep(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            cached.append(df)
            return df, df.count()

        try:
            with tracer.span("stages") as top:
                with tracer.span("mzml.parse") as parse:
                    scan_map, points = keep(mzml_to_scan_table(spark, self.paths, self.cfg.min_scan_intensity))
                with tracer.span("pipeline.adjust"):
                    adjusted, _ = keep(P.adjust_swath_windows(scan_map))
                with tracer.span("pipeline.slice"):
                    sliced = P.slice_scan_map(adjusted, self.cfg.window_size_sec, os.path.join(out, "slices"))
                with tracer.span("pipeline.tensorize") as tens:
                    tensor_long, mz_dim = P.tensorize_slices(sliced, self.cfg.mass_tol_ppm, self.cfg.min_tensor_points)
                    tensor_long, _ = keep(tensor_long)
                    mz_dim, _ = keep(mz_dim)
                with tracer.span("pipeline.decompose") as dec:
                    factors, _ = keep(P.decompose(tensor_long, self.cfg, self.ranks, self.max_iter))
                with tracer.span("pipeline.peaks"):
                    peaks, _ = keep(P.time_mode_peaks(factors, self.cfg))
                with tracer.span("pipeline.select"):
                    best, _ = keep(P.select_best_models(peaks))
                with tracer.span("pipeline.sample_modes"):
                    sm_rows = self._write_output(P.collect_sample_modes(factors, best), out)
                with tracer.span("pipeline.export"):
                    _models, spectra = P.index_models(spark, factors)
                    scans = P.export_best_models_mzxml(
                        factors, best, mz_dim, spectra, os.path.join(out, "best.mzXML"),
                        window_centers=_window_centers(adjusted),
                    )
                components = best.agg(F.sum("ncomp")).first()[0] or 0
            self._check_rows(sm_rows)
            stages = {sp.name: sp for sp in tracer.spans if sp.parent == top.span_id}
            layer = {f"{name}_s": sp.wall_s for name, sp in stages.items() if name.startswith("pipeline.")}
            layer["mzml.parse_s"] = parse.wall_s
            layer["mzml.points"] = points
            layer["mzml.points_per_s"] = points / parse.wall_s
            layer["pipeline.tensorize.jobs"] = tracer.total(tens).jobs
            layer["pipeline.slice_write_mb"] = _dir_mb(os.path.join(out, "slices"))
            # a correct export writes one scan per best-model component, less
            # the components whose points all fall below the intensity cutoff
            layer["pipeline.export_scans"] = scans
            layer["pipeline.export_scan_frac"] = scans / components if components else 0.0
            # the timed pass runs no export, so the export is not in the sum
            layer["_stage_sum_s"] = sum(sp.wall_s for n, sp in stages.items() if n != "pipeline.export")
            layer.update(self._kernels(factors, tensor_long, dec.wall_s))
        finally:
            for df in cached:
                df.unpersist()
        return layer

    def _kernels(self, factors, tensor_long, decompose_s: float) -> dict[str, float]:
        import numpy as np

        from candia_spark.operators.kernels import impute_tensor, nn_parafac

        slice_cols = ["swath_lower_adjusted", "rt_window"]
        fits = factors.select(*slice_cols, "ncomp", "iterations").distinct().collect()
        pdf = tensor_long.toPandas()
        dims, dense = {}, {}
        for key, g in pdf.groupby(slice_cols):
            axes = [np.sort(g[c].unique()) for c in ("sample_no", "cycle", "mz_idx")]
            dims[key] = tuple(len(a) for a in axes)
            if dims[key][0] < 2 or dims[key][1] < 3 or dims[key][2] < 3:
                continue
            t = np.full(dims[key], np.nan)
            idx = [np.searchsorted(a, g[c].to_numpy()) for a, c in zip(axes, ("sample_no", "cycle", "mz_idx"))]
            t[tuple(idx)] = g["intensity"].to_numpy(dtype=np.float64)
            dense[key] = impute_tensor(t)
        flops = 0.0
        for f in fits:
            s, t, m = dims[(f["swath_lower_adjusted"], f["rt_window"])]
            r = f["ncomp"]
            flops += f["iterations"] * (8.0 * s * t * m * r + 4.0 * (s + t + m) * r * r)
        walls = []
        for tensor in dense.values():
            for rank in self.ranks:
                t0 = time.perf_counter()
                nn_parafac(tensor, rank, seed=self.cfg.seed, max_iter=self.max_iter, tol=self.cfg.parafac_tol)
                walls.append(time.perf_counter() - t0)
        serial_s = sum(walls)
        n_cores = self.run.cores
        return {
            "kernels.tensors": len(fits),
            "kernels.als_iterations": sum(f["iterations"] for f in fits),
            "kernels.flops": flops,
            "kernels.nn_parafac_serial_s": serial_s,
            "kernels.nn_parafac_p50_ms": 1000.0 * _median(walls),
            "kernels.nn_parafac_max_ms": 1000.0 * max(walls, default=0.0),
            "kernels.fleet_overhead_s": decompose_s * n_cores - serial_s,
            "kernels.converged_frac": (
                sum(1 for f in fits if f["iterations"] < self.max_iter) / len(fits) if fits else 0.0
            ),
        }


# --------------------------------------------------------------------------
# One run
# --------------------------------------------------------------------------

def _spark_layer(tracer, top, clock_offset: float, cores: int) -> dict[str, float]:
    from perfbench.tracing import driver_gap_s

    tot = tracer.total(top)
    walls = [hi - lo for lo, hi in tot.job_intervals]
    return {
        "spark.jobs": tot.jobs,
        "spark.stages": tot.stages,
        "spark.tasks": tot.tasks,
        # a mean: job times are whole milliseconds, so a median repeats exactly
        "spark.job_wall_mean_s": sum(walls) / len(walls) if walls else 0.0,
        "spark.driver_gap_s": driver_gap_s(top.start, top.end, tot.job_intervals, clock_offset),
        "spark.task_s": tot.task_s,
        "spark.gc_s": tot.gc_s,
        "spark.core_busy_frac": tot.task_s / (top.wall_s * cores),
        "spark.shuffle_write_mb": tot.shuffle_write_mb,
        "spark.shuffle_read_mb": tot.shuffle_read_mb,
        "spark.spill_mb": tot.spill_mb,
        "spark.failed_tasks": tot.failed_tasks,
    }


def _stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM and every process it started
    (Python workers) and wait until all of them are gone."""
    from perfbench.tracing import live_pids, tree_pids

    started = tree_pids(os.getpid()) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + timeout_s
    while started & live_pids() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started & live_pids():
        os.kill(pid, signal.SIGKILL)


def run_workload(args) -> int:
    _import_program()
    from perfbench import spec
    from perfbench.tracing import JobLedger, ProcSampler, Tracer

    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of the run, JVMs included, inside the checkout
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    run = Run(args, work)
    wl_spec = next(w for w in spec.WORKLOADS if w.name == args.workload)
    workload = DiaWorkload(run) if not wl_spec.queries else QueryWorkload(run, wl_spec)
    spark = None
    metrics: dict[str, float] = {}
    try:
        # peak RSS is reported on traced runs only; without tracing, /proc is
        # read at the start and end of each pass and nothing runs in between
        with ProcSampler(background=bool(args.trace)) as sampler:
            gen = []
            for _ in range(GENERATIONS):
                t0 = time.perf_counter()
                workload.generate()
                gen.append(time.perf_counter() - t0)

            from candia_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{run.cores}]",
                shuffle_partitions=run.cores,
            )
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            workload.verify(spark)
            untraced = Tracer(f"{args.workload}-{args.seed}")
            warm_s = time.perf_counter() - t0 - run.oracle_s
            setup_s = _median(gen) + session_s + warm_s

            start = time.perf_counter()
            while len(run.passes) < wl_spec.passes or time.perf_counter() - start < args.seconds:
                sampler.reset_peak()
                cpu0, _ = sampler.sample()
                first_span = len(untraced.spans)
                t0 = time.perf_counter()
                workload.timed_pass(spark, untraced)
                wall = time.perf_counter() - t0
                cpu1, _ = sampler.sample()
                run.passes.append({"wall_s": wall, "cpu_s": cpu1 - cpu0, "peak_rss_mb": sampler.peak_rss_mb()})
                calls = " ".join(f"{sp.name} {sp.wall_s:.2f}s" for sp in untraced.spans[first_span:])
                print(f"pass {wall:.2f}s cpu {cpu1 - cpu0:.2f}s: {calls}", file=sys.stderr)

            wall_s = _median([p["wall_s"] for p in run.passes])
            print(
                f"setup: generate {_median(gen):.2f}s session {session_s:.2f}s warm-up {warm_s:.2f}s "
                f"oracle {run.oracle_s:.2f}s; {len(run.passes)} timed passes",
                file=sys.stderr,
            )
            if args.trace:
                clock_offset = time.time() - time.perf_counter()
                tracer = Tracer(f"{args.workload}-{args.seed}-traced", JobLedger(spark))
                with workload.instrumented(tracer), tracer.span("pass") as top:
                    workload.timed_pass(spark, tracer)
                layer = workload.layer_metrics(spark, tracer, top)
                tracer.write(os.path.join(out_root, f"spans-{args.workload}-{args.seed}.json"))
                metrics = {m.name: 0.0 for m in spec.PER_LAYER}
                metrics.update(_spark_layer(tracer, top, clock_offset, run.cores))
                stage_sum = layer.pop("_stage_sum_s", None)
                metrics.update((k, v) for k, v in layer.items() if k in metrics)
                metrics["session.start_s"] = session_s
                metrics["proc.peak_rss_mb"] = _median([p["peak_rss_mb"] for p in run.passes])
                metrics["trace.overhead_s"] = top.wall_s - wall_s
                if stage_sum is not None:
                    metrics["pipeline.recompute_s"] = wall_s - stage_sum
            else:
                metrics = {
                    "wall_s": wall_s,
                    "input_rows_per_s": workload.input_rows / wall_s,
                    "cpu_s": _median([p["cpu_s"] for p in run.passes]),
                    "setup_s": setup_s,
                }
    except Exception:
        run.error(f"{args.workload} run")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {m.name: m.unit for m in (*spec.END_TO_END, *spec.PER_LAYER)}
    correct = run.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; prints each workload's line."""
    from perfbench import spec

    status, results = 0, {}
    for name in spec.WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        results[name] = json.loads(last)
        for metric, v in results[name].get("metrics", {}).items():
            print(f"{name} {metric} {v['value']:.6g} {v['unit']}")
        attempted = results[name].get("attempted", 1)
        print(f"{name} error_rate {results[name].get('failed', attempted) / attempted:.6g} fraction")
        status = status or proc.returncode
    print(json.dumps(results))
    return status


def main(argv=None) -> int:
    from perfbench import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*spec.WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true",
                    help="render BENCHMARK.json at the checkout root and exit")
    args = ap.parse_args(argv)
    if args.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w", encoding="utf-8") as f:
            json.dump(spec.benchmark_json(RUN_SECONDS), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
