"""What the benchmark runs and reports: workloads, input sizes and every
metric with its unit and direction. ``BENCHMARK.json`` is rendered from
this module (``python3 perfbench/run.py --write-benchmark-json``), so the
two cannot drift apart. Which end-to-end metric each layer metric should
move, and on which workload, is in perfbench/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.diagen import DiaSpec

# Short relational queries that run beside the chains as their control:
# they reach functions.numeric (q01), the bucketed band join (q09) and the
# as-of join (q22), and no dedup, similarity or kernel code.
RELATIONAL = (
    "q01_pricing_summary",
    "q09_band_join",
    "q22_asof_join",
)

ITERATIVE_CHAINS = (
    "q81_containment_witness_lsh",
    "q124_trained_ivfadc",
)

# Operator entry points wrapped in spans on the query workloads; each
# query imports them from the module at call time.
OPERATORS = (
    ("candia_spark.operators.dedup", "ngram_containment_pairs", "dedup.ngram_containment_pairs"),
    ("candia_spark.operators.dedup", "containment_candidate_pairs", "dedup.containment_candidate_pairs"),
    ("candia_spark.operators.similarity", "pq_topk_ivf_trained", "similarity.pq_topk_ivf_trained"),
)

DIA = DiaSpec(samples=3, rt_windows=2, windows=4, features_per_slice=3)
DIA_RANKS = (2, 3)
DIA_MAX_ITER = 200
PIPELINE_STAGES = ("adjust", "slice", "tensorize", "decompose", "peaks", "select", "sample_modes", "export")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...] = ()
    # generated tables and their size as a share of the sf0.1 row counts
    tables: tuple[str, ...] = ()
    fraction: float = 0.0
    # timed passes at least, whatever --seconds says; their median is
    # reported. The query chains still warm up in their second and third
    # executions in a JVM (25-60% slower than from the fourth on) and the VM
    # has slow spells, so a median over three passes is steadier than one.
    passes: int = 1


WORKLOADS = (
    Workload(
        "iterative_chains",
        "trained IVF-PQ chain (42 Spark jobs on KB-scale state), witness-LSH containment (the shuffle seat), and numeric/band/as-of control queries",
        ITERATIVE_CHAINS + RELATIONAL,
        ("customer", "documents", "embeddings", "events", "lineitem", "supplier"),
        0.1,
        passes=3,
    ),
    Workload(
        "dia_pipeline",
        "the paper's pipeline on seeded DIA mzML (parse, slice store, tensorize, NN-PARAFAC fleet, sample modes written); control: no dedup/similarity code",
    ),
)
WORKLOAD_NAMES = tuple(w.name for w in WORKLOADS)


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None


END_TO_END = (
    Metric("wall_s", "s", "lower", bound=0.25),
    Metric("input_rows_per_s", "1/s", "higher", bound=0.25),
    Metric("cpu_s", "s", "lower", bound=0.25),
    Metric("setup_s", "s", "lower", bound=0.25),
)


def _per_layer() -> tuple[Metric, ...]:
    m = [
        Metric("spark.jobs", "count", "lower"),
        Metric("spark.stages", "count", "lower"),
        Metric("spark.tasks", "count", "lower"),
        Metric("spark.job_wall_mean_s", "s", "lower"),
        Metric("spark.driver_gap_s", "s", "lower"),
        Metric("spark.task_s", "s", "lower"),
        Metric("spark.gc_s", "s", "lower"),
        Metric("spark.core_busy_frac", "fraction", "higher"),
        Metric("spark.shuffle_write_mb", "MB", "lower"),
        Metric("spark.shuffle_read_mb", "MB", "lower"),
        Metric("spark.spill_mb", "MB", "lower"),
        Metric("spark.failed_tasks", "count", "lower"),
        Metric("session.start_s", "s", "lower"),
        Metric("trace.overhead_s", "s", "lower"),
        Metric("proc.peak_rss_mb", "MB", "lower"),
    ]
    for q in RELATIONAL:
        m.append(Metric(f"{q}.wall_s", "s", "lower"))
        m.append(Metric(f"{q}.jobs", "count", "lower"))
    for q in ITERATIVE_CHAINS:
        m.append(Metric(f"{q}.wall_s", "s", "lower"))
        m.append(Metric(f"{q}.jobs", "count", "lower"))
        m.append(Metric(f"{q}.task_s", "s", "lower"))
        m.append(Metric(f"{q}.shuffle_write_mb", "MB", "lower"))
    for _mod, _attr, op in OPERATORS:
        m.append(Metric(f"{op}.s", "s", "lower"))
        m.append(Metric(f"{op}.jobs", "count", "lower"))
    m += [
        Metric("mzml.parse_s", "s", "lower"),
        Metric("mzml.points", "count", "higher"),
        Metric("mzml.points_per_s", "1/s", "higher"),
    ]
    m += [Metric(f"pipeline.{s}_s", "s", "lower") for s in PIPELINE_STAGES]
    m += [
        Metric("pipeline.tensorize.jobs", "count", "lower"),
        Metric("pipeline.slice_write_mb", "MB", "lower"),
        Metric("pipeline.recompute_s", "s", "lower"),
        Metric("pipeline.export_scans", "count", "higher"),
        Metric("pipeline.export_scan_frac", "fraction", "higher"),
        Metric("kernels.tensors", "count", "lower"),
        Metric("kernels.als_iterations", "count", "lower"),
        Metric("kernels.flops", "flop_computed", "lower"),
        Metric("kernels.nn_parafac_serial_s", "s", "lower"),
        Metric("kernels.nn_parafac_p50_ms", "ms", "lower"),
        Metric("kernels.nn_parafac_max_ms", "ms", "lower"),
        Metric("kernels.fleet_overhead_s", "s", "lower"),
        Metric("kernels.converged_frac", "fraction", "higher"),
    ]
    return tuple(m)


PER_LAYER = _per_layer()


def benchmark_json(run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS],
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
        ],
    }
