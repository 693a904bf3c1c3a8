from __future__ import annotations

from pyspark.sql import functions as F

from perfbench.diagen import DiaSpec, write_dia_experiment


def test_tiny_experiment_matches_ledger_through_the_parser(spark, tmp_path):
    from candia_spark.sources.mzml import extract_swath_windows, mzml_to_scan_table

    spec = DiaSpec(samples=2, rt_windows=1, windows=3, features_per_slice=2)
    paths, ledger = write_dia_experiment(str(tmp_path), spec, seed=5)
    assert ledger.dropped_low_intensity > 0  # the ingest filter has work to do

    scan = mzml_to_scan_table(spark, paths, spec.min_intensity)
    by_level = dict(scan.groupBy("level").count().collect())
    assert by_level == {1: ledger.ms1_points, 2: ledger.ms2_points}
    assert scan.count() == ledger.points
    assert extract_swath_windows(spark, paths).count() == ledger.windows
    slices = scan.select(
        "prec_isolation_window_start",
        F.floor(F.col("rt") / spec.window_size_sec).alias("rt_window"),
    ).distinct()
    assert slices.count() == len(ledger.slices)


def test_same_seed_same_files(tmp_path):
    spec = DiaSpec(samples=2, rt_windows=1, windows=2, features_per_slice=1)
    a, la = write_dia_experiment(str(tmp_path / "a"), spec, seed=3)
    b, lb = write_dia_experiment(str(tmp_path / "b"), spec, seed=3)
    assert la.as_dict() == lb.as_dict()
    for pa, pb in zip(a, b):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
