"""Stage 4 (tensorize) on a generated multi-slice DIA experiment.

``tensorize_slices`` builds each slice's tensor in one grouped task. Here
it is held to an oracle that composes the global operators it replaced
(as-of cycle binning, the greedy ppm join, the two-level count filter)
and ranks the ids within each slice; the end-to-end checks then follow
the per-slice ids into the sample modes and the mzXML export.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from candia_spark.operators.relational import two_level_count_filter
from candia_spark.operators.sequential import assign_scan_cycles, greedy_ppm_partition
from candia_spark.pipeline import (
    CYCLE_TAIL_SEC,
    CandiaConfig,
    adjust_swath_windows,
    run_pipeline,
    slice_scan_map,
    tensorize_slices,
)
from candia_spark.sources.mzml import mzml_to_scan_table
from perfbench.diagen import DiaSpec, write_dia_experiment

SLICE = ["swath_lower_adjusted", "rt_window"]
SPEC = DiaSpec(samples=3, rt_windows=2, windows=3, features_per_slice=2)
CFG = CandiaConfig(
    min_scan_intensity=SPEC.min_intensity, window_size_sec=SPEC.window_size_sec
)


@pytest.fixture(scope="module")
def experiment(tmp_path_factory):
    paths, ledger = write_dia_experiment(
        str(tmp_path_factory.mktemp("dia") / "mzml"), SPEC, seed=7
    )
    return paths, ledger


@pytest.fixture(scope="module")
def sliced(spark, experiment, tmp_path_factory):
    paths, ledger = experiment
    scan_map = mzml_to_scan_table(spark, paths, CFG.min_scan_intensity)
    store = str(tmp_path_factory.mktemp("store") / "slices")
    out = slice_scan_map(adjust_swath_windows(scan_map), CFG.window_size_sec, store)
    assert out.select(*SLICE).distinct().count() == len(ledger.slices) >= 6
    return out


def _oracle(sliced, tol_ppm, min_points):
    """Stage 4 from the global operators, with ids ranked per slice."""
    markers = (
        sliced.filter(F.col("level") == 1)
        .select(*SLICE, "sample", F.col("rt").alias("t"))
        .distinct()
    )
    binned = assign_scan_cycles(
        sliced.withColumnRenamed("rt", "t"),
        time_col="t",
        group_cols=SLICE + ["sample"],
        marker_times=markers,
        tail=CYCLE_TAIL_SEC,
    )
    parted = greedy_ppm_partition(
        binned, "mz", SLICE + ["level"], tol_ppm=tol_ppm, out_col="mz_partition_start"
    )
    kept = two_level_count_filter(
        parted,
        inner_key=SLICE + ["level", "mz_partition_start", "sample"],
        outer_key=SLICE + ["level", "mz_partition_start"],
        min_count=min_points,
    )
    w = Window.partitionBy(*SLICE)
    ranked = kept.withColumn(
        "sample_no", F.dense_rank().over(w.orderBy("sample")) - 1
    ).withColumn(
        "mz_idx", F.dense_rank().over(w.orderBy("level", "mz_partition_start")) - 1
    )
    return ranked.groupBy(*SLICE, "sample_no", "cycle", "mz_idx").agg(
        F.sum("intensity").alias("intensity")
    )


def _cells(df):
    return {
        (r.swath_lower_adjusted, r.rt_window, r.sample_no, r.cycle, r.mz_idx): r.intensity
        for r in df.collect()
    }


@pytest.mark.parametrize("min_points", [5, 1])
def test_tensorize_matches_global_operator_oracle(sliced, min_points):
    tensor_long, _ = tensorize_slices(sliced, CFG.mass_tol_ppm, min_points)
    got = _cells(tensor_long)
    want = _cells(_oracle(sliced, CFG.mass_tol_ppm, min_points))
    assert got.keys() == want.keys()
    assert got == want  # exact: the same points summed per cell
    assert len({k[:2] for k in got}) == SPEC.windows * SPEC.rt_windows


def test_tensor_ids_dense_within_each_slice(sliced):
    tensor_long, mz_dim = tensorize_slices(sliced, CFG.mass_tol_ppm, CFG.min_tensor_points)
    per_slice = tensor_long.groupBy(*SLICE).agg(
        F.collect_set("sample_no").alias("samples"), F.collect_set("mz_idx").alias("mz")
    )
    for r in per_slice.collect():
        assert sorted(r.samples) == list(range(len(r.samples)))
        assert sorted(r.mz) == list(range(len(r.mz)))
    # the m/z dimension is one row per mz_idx, in (level, start) order
    dims = mz_dim.groupBy(*SLICE).agg(
        F.sort_array(F.collect_list(F.struct("mz_idx", "level", "mz_partition_start"))).alias("d")
    )
    for r in dims.collect():
        assert [d.mz_idx for d in r.d] == list(range(len(r.d)))
        keys = [(d.level, d.mz_partition_start) for d in r.d]
        assert keys == sorted(set(keys))


def test_pipeline_exports_one_scan_per_best_component(spark, experiment, tmp_path):
    paths, _ = experiment
    out_path = str(tmp_path / "best.mzXML")
    res = run_pipeline(
        spark,
        paths,
        CFG,
        ncomp_range=[2, 3],
        max_iter=50,
        slice_store_path=str(tmp_path / "slices"),
        mzxml_out=out_path,
    )
    components = res["best_models"].agg(F.sum("ncomp")).first()[0]
    raw = open(out_path, "rb").read()
    assert components and len(re.findall(rb"<scan ", raw)) == components
    lo, hi = res["sample_modes"].agg(F.min("sample_no"), F.max("sample_no")).first()
    assert 0 <= lo <= hi < SPEC.samples
