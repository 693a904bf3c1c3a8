"""The CANDIA pipeline façade: the reference's 10 config-driven stages
(``candia:1-69`` bash driver) composed from the operator layer as
DataFrame -> DataFrame functions under ONE SparkSession.

Stage map (reference process boundary -> here a function call):
 1. mzml2csv            -> sources.mzml.mzml_to_scan_table   (S1-S3,F1,F2,J1)
 2. adjust_swaths       -> adjust_swath_windows              (W1,J2)
 3. split to slices     -> slice_scan_map                    (W2,S5)
 4. tensorize           -> tensorize_slices                  (W3,W4,A1,A5,J4,J8)
 5. decompose           -> decompose                         (K1,K2,F5,A10)
 6. index models        -> index_models                      (J7,W9,W10)
 7. collect time modes  -> time_mode_peaks                   (A11,F7)
 8. select best models  -> select_best_models                (A6,W5)
 9. collect sample modes-> collect_sample_modes              (A7,J3)
10. export spectra      -> export_best_models_mzxml          (S9,K5)

Config keys mirror ``test/test_experiment/config/candia.yaml`` names, so a
reference experiment file drives this pipeline unchanged.

Scale: stages 1-3 are narrow transforms plus one keyed shuffle that writes
the slice store (the one materialization barrier, where the reference
writes its slice files); stage 4 is one grouped apply over the slice key
(one task per slice builds that slice's whole tensor, as the reference's
per-slice process does); stage 5 is an embarrassingly parallel
applyInPandas fleet (one task per slice — the unit the reference
schedules on GPUs); 6-9 are dimension-sized.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from candia_spark.operators.kernels import (
    count_time_mode_peaks,
    decompose_slices,
)
from candia_spark.operators.relational import (
    adjust_overlapping_windows,
    bucketize,
    cross_index,
    explode_index,
    groupwise_argmax,
)
from candia_spark.operators.sequential import greedy_partition_starts


@dataclass
class CandiaConfig:
    """The algorithm-relevant subset of candia.yaml (same key names)."""

    min_scan_intensity: float = 1.0
    window_size_sec: float = 60.0
    mass_tol_ppm: float = 40.0
    avg_peak_fwhm_sec: float = 12.0
    parafac_min_comp: int = 10
    parafac_max_comp: int = 14
    parafac_max_iter: int = 5000
    parafac_tol: float = 1e-7
    seed: int = 123
    min_tensor_points: int = 5
    extra: dict = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, path: str) -> "CandiaConfig":
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f)
        known = {k: raw[k] for k in cls.__dataclass_fields__ if k in raw}
        cfg = cls(**known)
        cfg.extra = raw
        return cfg

    @property
    def ncomp_range(self) -> list[int]:
        return list(range(self.parafac_min_comp, self.parafac_max_comp + 1))


# --- stage 2: SWATH window adjustment (W1 + J2) ---------------------------

def adjust_swath_windows(scan_map: DataFrame) -> DataFrame:
    """De-overlap the isolation windows and re-annotate every point with
    its adjusted bounds (adjust_swaths.R:26-43). The window table is tiny:
    adjust on its distinct set, broadcast-join back on the original
    bounds."""
    adj = adjust_overlapping_windows(
        scan_map.select(
            F.col("prec_isolation_window_start").alias("lo"),
            F.col("prec_isolation_window_end").alias("hi"),
        ),
        lo_col="lo",
        hi_col="hi",
        digits=2,
    )
    return scan_map.join(
        F.broadcast(
            adj.select(
                F.col("lo").alias("prec_isolation_window_start"),
                F.col("hi").alias("prec_isolation_window_end"),
                F.col("lower_adj").alias("swath_lower_adjusted"),
                F.col("upper_adj").alias("swath_upper_adjusted"),
            )
        ),
        on=["prec_isolation_window_start", "prec_isolation_window_end"],
        how="left",
    )


# --- stage 3: slicing (W2 + S5) -------------------------------------------

def slice_scan_map(
    scan_map: DataFrame, window_size_sec: float, out_path: str | None = None
) -> DataFrame:
    """Bucket rt into fixed windows and (optionally) persist the slice
    store Hive-partitioned by (swath_lower_adjusted, rt_window)
    (split_csv_maps_to_slices.py:69-100 minus its coalesce(1) anti-pattern
    — partitionBy alone yields one directory per slice and scales)."""
    sliced = bucketize(scan_map, "rt", window_size_sec, out_col="rt_window")
    if out_path is not None:
        (
            sliced.repartition("swath_lower_adjusted", "rt_window")
            .write.partitionBy("swath_lower_adjusted", "rt_window")
            .mode("overwrite")
            .parquet(out_path)
        )
        sliced = sliced.sparkSession.read.parquet(out_path)
    return sliced


# --- stage 4: tensorize (W3 + W4 + A1 + A5/J4 + J8) -----------------------

# Points up to this long after a sample's last MS1 scan still belong to its
# last cycle (the reference's right-open pd.cut tail,
# generate_slice_tensor.py:99-145).
CYCLE_TAIL_SEC = 0.1


def _slice_tensor(
    key: tuple, pdf: pd.DataFrame, tol_ppm: float, min_points: int
) -> pd.DataFrame:
    """Stage 4 on one slice's points (``sample, level, rt, mz,
    intensity``): its tensor cells, each carrying the ``(level,
    mz_partition_start)`` that its ``mz_idx`` stands for."""
    level = pdf["level"].to_numpy()
    rt = pdf["rt"].to_numpy()
    mz = pdf["mz"].to_numpy()
    intensity = pdf["intensity"].to_numpy(dtype=np.float64)
    samples, sid = np.unique(pdf["sample"].to_numpy(), return_inverse=True)

    # W3: backward as-of onto the sample's sorted distinct MS1 times (the
    # marker wins a tie); points before the first marker or past the tail
    # of the last one belong to no cycle
    cycle = np.full(len(pdf), -1, dtype=np.int64)
    for s in range(len(samples)):
        rows = np.flatnonzero(sid == s)
        t = rt[rows]
        markers = np.unique(t[level[rows] == 1])
        if markers.size:
            c = np.searchsorted(markers, t, side="right") - 1
            c[t > markers[-1] + CYCLE_TAIL_SEC] = -1
            cycle[rows] = c
    binned = cycle >= 0
    level, mz, intensity, sid, cycle = (
        a[binned] for a in (level, mz, intensity, sid, cycle)
    )

    # W4: greedy ppm partitions over the sorted distinct m/z of each level
    start = np.empty(len(mz))
    for lv in np.unique(level):
        rows = np.flatnonzero(level == lv)
        values, inv = np.unique(mz[rows], return_inverse=True)
        start[rows] = np.asarray(greedy_partition_starts(values.tolist(), tol_ppm))[inv]

    # A5/J4: keep a partition when some sample has >= min_points in it
    parts, pid = np.unique(
        np.rec.fromarrays([level, start], names="level,start"), return_inverse=True
    )
    counts = np.zeros((len(parts), len(samples)), dtype=np.int64)
    np.add.at(counts, (pid, sid), 1)
    kept_parts = counts.max(axis=1, initial=0) >= min_points
    keep = kept_parts[pid]
    if not keep.any():
        return pd.DataFrame(
            columns=[
                *pdf.columns[: len(key)],
                *("sample_no", "cycle", "mz_idx", "intensity", "level", "mz_partition_start"),
            ]
        )

    # J8/W6: dense ids within the slice, in sample-name and (level,
    # partition start) order
    mz_idx = (np.cumsum(kept_parts) - 1)[pid[keep]]
    present = np.zeros(len(samples), dtype=bool)
    present[sid[keep]] = True
    sample_no = (np.cumsum(present) - 1)[sid[keep]]
    cycle = cycle[keep]

    # A1: one summed intensity per (sample_no, cycle, mz_idx) cell
    n_cycles, n_mz = int(cycle.max()) + 1, int(kept_parts.sum())
    cells, inv = np.unique((sample_no * n_cycles + cycle) * n_mz + mz_idx, return_inverse=True)
    sample_cycle, cell_mz = np.divmod(cells, n_mz)
    dim = parts[kept_parts][cell_mz]
    out = pd.DataFrame(
        {
            "sample_no": sample_cycle // n_cycles,
            "cycle": sample_cycle % n_cycles,
            "mz_idx": cell_mz,
            "intensity": np.bincount(inv, weights=intensity[keep]),
            "level": dim["level"],
            "mz_partition_start": dim["start"],
        }
    )
    for i, value in enumerate(key):
        out.insert(i, pdf.columns[i], value)
    return out


def tensorize_slices(
    sliced: DataFrame,
    mass_tol_ppm: float,
    min_tensor_points: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Long-format slice tensors: one row per (slice, sample_no, cycle,
    mz_idx) with summed intensity (generate_slice_tensor.py:67-233), and
    the m/z dimension (slice, level, mz_partition_start, mz_idx).

    One grouped apply over the slice key builds each slice's tensor in a
    single task, in the reference's order:

    - cycles: per sample, points binned by the sample's MS1 acquisition
      times (W3; backward as-of, right-open with a ``CYCLE_TAIL_SEC`` tail)
    - m/z partitions: ``greedy_partition_starts`` over the sorted distinct
      m/z of each MS level, after cycle binning (W4)
    - partition filter: keep partitions where some sample has >=
      ``min_tensor_points`` points (A5/J4)
    - sample_no: ordinal of the sorted distinct sample names (J8/W9)
    - mz_idx: ordinal of (level, partition_start) (W6)

    Both ids are dense from 0 within each slice, so they line up with the
    per-slice ``row_idx`` of the decomposition's factors.

    Scale: one shuffle on the slice key, and nothing is collected. A slice is
    bounded by one isolation window times one RT window, the unit the
    reference holds in memory per process.
    """
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    cells_schema = StructType(
        [sliced.schema[c] for c in slice_cols]
        + [
            StructField("sample_no", LongType()),
            StructField("cycle", LongType()),
            StructField("mz_idx", LongType()),
            StructField("intensity", DoubleType()),
            sliced.schema["level"],
            StructField("mz_partition_start", DoubleType()),
        ]
    )

    def tensorize(key, pdf):
        return _slice_tensor(key, pdf, mass_tol_ppm, min_tensor_points)

    cells = (
        sliced.select(*slice_cols, "sample", "level", "rt", "mz", "intensity")
        .groupBy(*slice_cols)
        .applyInPandas(tensorize, schema=cells_schema)
    )
    tensor_long = cells.select(*slice_cols, "sample_no", "cycle", "mz_idx", "intensity")
    mz_dim = cells.select(*slice_cols, "level", "mz_partition_start", "mz_idx").distinct()
    return tensor_long, mz_dim


# --- stage 5: decomposition (K1 + K2 + F5 + A10) --------------------------

def decompose(
    tensor_long: DataFrame,
    cfg: CandiaConfig,
    ncomp_range: list[int] | None = None,
    max_iter: int | None = None,
) -> DataFrame:
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    return decompose_slices(
        tensor_long,
        slice_cols,
        ncomp_range=ncomp_range or cfg.ncomp_range,
        sample_col="sample_no",
        time_col="cycle",
        feature_col="mz_idx",
        value_col="intensity",
        seed=cfg.seed,
        max_iter=max_iter or cfg.parafac_max_iter,
        tol=cfg.parafac_tol,
    )


# --- stage 6: model / spectrum index (J7 + W9 + W10) ----------------------

def index_models(spark: SparkSession, factors: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Model index = cross of observed (swath, rt_window) slices with the
    decomposed ncomp range; spectrum index = one row per component
    (models.py:61-117): globally unique scan ids by deterministic order."""
    slices = factors.select("swath_lower_adjusted", "rt_window").distinct()
    ncomps = factors.select("ncomp").distinct()
    model_index = cross_index([slices, ncomps], id_col="model_id")
    spectrum_index = explode_index(model_index, count_col="ncomp")
    return model_index, spectrum_index


# --- stage 7: time-mode peak counting (A11 + F7) --------------------------

def time_mode_peaks(factors: DataFrame, cfg: CandiaConfig) -> DataFrame:
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    time_modes = factors.filter(F.col("mode") == 1)
    return count_time_mode_peaks(
        time_modes,
        slice_cols,
        clip_frac=0.1,
        peak_width_frac=cfg.avg_peak_fwhm_sec / cfg.window_size_sec,
    )


# --- stage 8: best-model selection (A6 + W5) ------------------------------

def select_best_models(peaks: DataFrame) -> DataFrame:
    """unimodal_fraction = mean(npeaks == 1) per model; keep per-slice
    argmax with ties (select_best_models.R:16-36)."""
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    uf = peaks.groupBy(*slice_cols, "ncomp").agg(
        F.avg(F.when(F.col("npeaks") == 1, 1.0).otherwise(0.0)).alias(
            "unimodal_fraction"
        )
    )
    return groupwise_argmax(uf, slice_cols, "unimodal_fraction")


# --- stage 9: sample modes + CV (A7 + J3) ---------------------------------

def collect_sample_modes(
    factors: DataFrame, best: DataFrame, spectrum_index: DataFrame | None = None
) -> DataFrame:
    """Sample-mode abundances of the best models with per-component
    coefficient of variation (collect_sample_modes.py:65-95)."""
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    sample_modes = factors.filter(F.col("mode") == 0).join(
        F.broadcast(best.select(*slice_cols, "ncomp")), on=slice_cols + ["ncomp"]
    )
    cv = sample_modes.groupBy(*slice_cols, "ncomp", "comp").agg(
        (F.stddev_pop("value") / F.avg("value")).alias("cv_across_samples"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    return sample_modes.selectExpr(
        *slice_cols,
        "ncomp",
        "comp",
        "row_idx as sample_no",
        "value as abundance",
    ).join(cv, on=slice_cols + ["ncomp", "comp"])


# --- stage 10: spectra export (S9 + K5) -----------------------------------

def export_best_models_mzxml(
    factors: DataFrame,
    best: DataFrame,
    mz_dim: DataFrame,
    spectrum_index: DataFrame,
    path: str,
    window_centers: DataFrame | None = None,
    intensity_cutoff_bin: int = 0,
) -> int:
    """Mass-mode components of the best models -> indexed mzXML, ordered
    by global scan id; single driver-side writer over toLocalIterator
    (msproc.py:229-420 byte format).

    Before serialization each component's MS2 points pass the per-component
    background filter: 100-bin histogram over that component's MS2
    intensities, keep ``intensity > lower edge of bin intensity_cutoff_bin``;
    MS1 points are kept unconditionally (msproc.py:270-274 call site,
    filter at msproc.py:661-685). Components whose points all drop simply
    emit no scan, matching the reference's empty-spectrum skip."""
    from candia_spark.operators.relational import histogram_cutoff_filter
    from candia_spark.sources.mzxml import iter_component_scans, write_mzxml

    slice_cols = ["swath_lower_adjusted", "rt_window"]
    mass = factors.filter(F.col("mode") == 2).join(
        F.broadcast(best.select(*slice_cols, "ncomp")), on=slice_cols + ["ncomp"]
    )
    with_scan = mass.join(
        F.broadcast(spectrum_index),
        on=slice_cols + ["ncomp"],
    ).filter(F.col("comp") == F.col("spectrum_num"))
    joined = with_scan.join(
        mz_dim.withColumnRenamed("mz_idx", "row_idx"), on=slice_cols + ["row_idx"]
    )
    if window_centers is not None:
        joined = joined.join(F.broadcast(window_centers), on="swath_lower_adjusted", how="left")
        center = F.coalesce(F.col("window_center"), F.col("swath_lower_adjusted"))
    else:
        center = F.col("swath_lower_adjusted")
    rows = joined.select(
        F.col("scan").alias("scan_no"),
        "level",
        F.col("mz_partition_start").alias("mz"),
        F.col("value").alias("intensity"),
        center.cast("double").alias("window_center"),
    )
    rows = histogram_cutoff_filter(
        rows,
        ["scan_no"],
        "intensity",
        nbins=100,
        cutoff_bin=intensity_cutoff_bin,
        subset=F.col("level") == 2,
    ).orderBy("scan_no", "mz")
    return write_mzxml(path, iter_component_scans(rows.toLocalIterator()))


# --- identification seam (S13 + J5 + spectrum index) ----------------------

def identify_results(
    reports: dict[str, DataFrame],
    spectrum_index: DataFrame,
    adjusted_windows: DataFrame | None = None,
    tol: float = 1e-5,
) -> DataFrame:
    """Concatenated identification table: per-tool search/de-novo reports
    resolved to their models.

    Parity: the reference joins search results back to the model index by
    scan id and matches each model's swath_start to the adjusted isolation
    windows with ``np.isclose`` to recover the window center
    (scripts/identification/id_models_concat.py:85-90; report parsing
    scripts/denovo/seqproc.py:23-58). Here: normalize every tool report to
    (scan, sequence?, score?, qvalue?) + a ``tool`` provenance column,
    union them column-aligned (U2), resolve scan -> model via the spectrum
    index, and attach ``isolation_window_center`` with a tolerance band
    join (J5) instead of the float ``isclose`` scan.

    Scale: reports are result-sized; the spectrum index and window set are
    dimension-sized broadcasts — no fact-table shuffle anywhere.
    """
    from candia_spark.operators.relational import band_join

    norm = []
    for tool, df in reports.items():
        cols = [F.col("scan").cast("long").alias("scan")]
        for c in ("sequence", "score", "qvalue"):
            if c in df.columns:
                cols.append(F.col(c))
        norm.append(df.select(*cols).withColumn("tool", F.lit(tool)))
    ids = norm[0]
    for d in norm[1:]:
        ids = ids.unionByName(d, allowMissingColumns=True)
    out = ids.join(F.broadcast(spectrum_index), on="scan", how="inner")
    if adjusted_windows is not None:
        centers = (
            adjusted_windows.select(
                "swath_lower_adjusted", "swath_upper_adjusted"
            )
            .distinct()
            .select(
                F.col("swath_lower_adjusted").alias("__wlo"),
                (
                    (
                        F.col("swath_lower_adjusted")
                        + F.col("swath_upper_adjusted")
                    )
                    / 2
                ).alias("isolation_window_center"),
            )
        )
        out = band_join(
            out, F.broadcast(centers), "swath_lower_adjusted", "__wlo", tol, how="left"
        ).drop("__wlo")
    return out


# --- full run -------------------------------------------------------------

def run_pipeline(
    spark: SparkSession,
    mzml_paths: list[str],
    cfg: CandiaConfig,
    ncomp_range: list[int] | None = None,
    max_iter: int | None = None,
    slice_store_path: str | None = None,
    mzxml_out: str | None = None,
) -> dict[str, DataFrame]:
    """Stages 1-9 (+10 when ``mzxml_out`` is set) as one lineage. Returns
    the per-stage DataFrames for inspection/persistence."""
    from candia_spark.sources.mzml import mzml_to_scan_table

    scan_map = mzml_to_scan_table(spark, mzml_paths, cfg.min_scan_intensity)
    adjusted = adjust_swath_windows(scan_map)
    sliced = slice_scan_map(adjusted, cfg.window_size_sec, slice_store_path)
    tensor_long, mz_dim = tensorize_slices(
        sliced, cfg.mass_tol_ppm, cfg.min_tensor_points
    )
    factors = decompose(tensor_long, cfg, ncomp_range, max_iter)
    model_index, spectrum_index = index_models(spark, factors)
    peaks = time_mode_peaks(factors, cfg)
    best = select_best_models(peaks)
    sample_modes = collect_sample_modes(factors, best)
    out = {
        "scan_map": scan_map,
        "adjusted": adjusted,
        "sliced": sliced,
        "tensor_long": tensor_long,
        "mz_dim": mz_dim,
        "factors": factors,
        "model_index": model_index,
        "spectrum_index": spectrum_index,
        "peaks": peaks,
        "best_models": best,
        "sample_modes": sample_modes,
    }
    if mzxml_out is not None:
        centers = (
            adjusted.select("swath_lower_adjusted", "swath_upper_adjusted")
            .distinct()
            .select(
                "swath_lower_adjusted",
                (
                    (F.col("swath_lower_adjusted") + F.col("swath_upper_adjusted")) / 2
                ).alias("window_center"),
            )
        )
        export_best_models_mzxml(
            factors, best, mz_dim, spectrum_index, mzxml_out, window_centers=centers
        )
    return out
