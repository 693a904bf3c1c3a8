"""Seeded synthetic DIA (SWATH) mzML writer with a ledger of what the
parser must keep.

Each sample is one mzML file of ``cycles`` acquisition cycles: one MS1
spectrum, then one MS2 spectrum per isolation window. Consecutive windows
overlap by 1 m/z, so the pipeline's window adjustment has work to do.
Analyte features are shared across samples: every feature has a precursor
m/z inside one window, a few fragment m/z values, an elution apex and a
per-sample abundance; each sample sees the feature's m/z values with its
own few-ppm jitter. Every (window, rt window) slice holds
``features_per_slice`` features that elute entirely inside it, so every
slice yields a tensor big enough to decompose. Every MS2 spectrum also gets
``noise_points`` noise points, half of them below ``min_intensity`` so the
ingest filter drops them. Point counts depend on the spec only, not on the
seed, so runs with different seeds read inputs of one size.

The ledger counts, with the parser's own rules, the points that survive
ingest (MS2 points below ``min_intensity`` dropped; MS1 points kept when
their m/z falls in some window), the windows, and the expected
(window, rt window) slices. Only numpy and the standard library are used.
"""

from __future__ import annotations

import base64
import math
import os
import zlib
from dataclasses import dataclass, field

import numpy as np

MZ_LO = 400.0
WINDOW_WIDTH = 25.0
WINDOW_OVERLAP = 1.0
CYCLE_SEC = 3.0
ELUTION_CYCLES = 7


@dataclass(frozen=True)
class DiaSpec:
    samples: int
    rt_windows: int
    windows: int
    features_per_slice: int
    fragments: int = 4
    noise_points: int = 12
    min_intensity: float = 1.0
    window_size_sec: float = 30.0

    @property
    def cycles(self) -> int:
        return int(self.rt_windows * self.window_size_sec / CYCLE_SEC)


@dataclass
class Ledger:
    points: int = 0
    ms1_points: int = 0
    ms2_points: int = 0
    dropped_low_intensity: int = 0
    windows: int = 0
    spectra: int = 0
    slices: set = field(default_factory=set)

    def as_dict(self) -> dict:
        return {
            "points": self.points,
            "ms1_points": self.ms1_points,
            "ms2_points": self.ms2_points,
            "dropped_low_intensity": self.dropped_low_intensity,
            "windows": self.windows,
            "spectra": self.spectra,
            "slices": len(self.slices),
        }


def window_bounds(spec: DiaSpec) -> list[tuple[float, float, float]]:
    """(target, lower offset, upper offset) per window; window ``i`` spans
    ``[target - off, target + off)`` and overlaps its neighbours by
    ``WINDOW_OVERLAP`` m/z in total."""
    off = (WINDOW_WIDTH + WINDOW_OVERLAP) / 2
    return [
        (MZ_LO + WINDOW_WIDTH * (i + 0.5), off, off) for i in range(spec.windows)
    ]


def _b64(arr: np.ndarray) -> str:
    return base64.b64encode(zlib.compress(arr.tobytes())).decode("ascii")


def _spectrum_xml(index, level, rt, mz, inten, window=None) -> str:
    parts = [
        f'<spectrum index="{index}" id="scan={index + 1}" '
        f'defaultArrayLength="{len(mz)}">',
        f'<cvParam cvRef="MS" accession="MS:1000511" name="ms level" '
        f'value="{level}"/>',
        "<scanList><scan>",
        f'<cvParam cvRef="MS" accession="MS:1000016" name="scan start time" '
        f'value="{rt!r}" unitAccession="UO:0000010" unitName="second"/>',
        "</scan></scanList>",
    ]
    if window is not None:
        target, lo_off, hi_off = window
        parts.append(
            "<precursorList><precursor><isolationWindow>"
            f'<cvParam cvRef="MS" accession="MS:1000827" value="{target!r}"/>'
            f'<cvParam cvRef="MS" accession="MS:1000828" value="{lo_off!r}"/>'
            f'<cvParam cvRef="MS" accession="MS:1000829" value="{hi_off!r}"/>'
            "</isolationWindow></precursor></precursorList>"
        )
    parts.append(
        f'<binaryDataArrayList count="2">'
        '<binaryDataArray><cvParam cvRef="MS" accession="MS:1000523"/>'
        '<cvParam cvRef="MS" accession="MS:1000574"/>'
        '<cvParam cvRef="MS" accession="MS:1000514"/>'
        f"<binary>{_b64(mz.astype('<f8'))}</binary></binaryDataArray>"
        '<binaryDataArray><cvParam cvRef="MS" accession="MS:1000521"/>'
        '<cvParam cvRef="MS" accession="MS:1000574"/>'
        '<cvParam cvRef="MS" accession="MS:1000515"/>'
        f"<binary>{_b64(inten.astype('<f4'))}</binary></binaryDataArray>"
        "</binaryDataArrayList></spectrum>"
    )
    return "".join(parts)


def _window_of(mz: float, bounds: list[tuple[float, float]]) -> int | None:
    """First window by lower bound with ``lo <= mz < hi`` (the parser's
    assignment rule)."""
    for i, (lo, hi) in enumerate(bounds):
        if lo <= mz < hi:
            return i
    return None


def write_dia_experiment(out_dir: str, spec: DiaSpec, seed: int) -> tuple[list[str], Ledger]:
    """Write ``spec.samples`` mzML files under ``out_dir``; return their
    paths and the ledger of what ingest must keep."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    wins = window_bounds(spec)
    bounds = [(t - lo, t + hi) for t, lo, hi in wins]
    ledger = Ledger(windows=len(wins))

    # shared features: precursor inside window w, away from the overlaps,
    # eluting over ELUTION_CYCLES cycles that all lie inside rt window r
    nf = spec.features_per_slice
    per_rtw = int(spec.window_size_sec / CYCLE_SEC)
    half = ELUTION_CYCLES // 2
    feat_win = np.repeat(np.arange(spec.windows), nf * spec.rt_windows)
    feat_rtw = np.tile(np.repeat(np.arange(spec.rt_windows), nf), spec.windows)
    prec = MZ_LO + WINDOW_WIDTH * (feat_win + rng.uniform(0.1, 0.9, feat_win.size))
    frags = np.sort(rng.uniform(150.0, 1200.0, (feat_win.size, spec.fragments)), axis=1)
    frag_w = rng.uniform(0.2, 1.0, (feat_win.size, spec.fragments))
    apex = feat_rtw * per_rtw + rng.integers(half, per_rtw - half, feat_win.size)
    sigma = rng.uniform(1.0, 2.0, feat_win.size)
    base = rng.uniform(5e3, 5e4, feat_win.size)

    paths = []
    for s in range(spec.samples):
        abundance = base * rng.lognormal(0.0, 0.3, base.size)
        jitter_p = 1.0 + rng.normal(0.0, 3e-6, prec.size)
        jitter_f = 1.0 + rng.normal(0.0, 3e-6, frags.shape)
        spectra = []
        index = 0
        for c in range(spec.cycles):
            live = np.abs(c - apex) <= half
            # floor at min_intensity: every eluting point survives the filter
            elution = np.exp(-0.5 * ((c - apex) / sigma) ** 2) * abundance + spec.min_intensity
            step = CYCLE_SEC / (spec.windows + 1)
            for j in range(spec.windows + 1):
                rt = round(c * CYCLE_SEC + j * step, 4)
                if j == 0:
                    mz = prec[live] * jitter_p[live]
                    inten = elution[live].astype(np.float32)
                    order = np.argsort(mz)
                    mz, inten = mz[order], inten[order]
                    for m in mz:
                        w = _window_of(round(float(m), 10), bounds)
                        if w is not None:
                            ledger.ms1_points += 1
                            ledger.slices.add((w, math.floor(rt / spec.window_size_sec)))
                    spectra.append(_spectrum_xml(index, 1, rt, mz, inten))
                else:
                    w = j - 1
                    fi = np.flatnonzero((feat_win == w) & live)
                    mz_sig = (frags[fi] * jitter_f[fi]).ravel()
                    in_sig = (frag_w[fi] * elution[fi, None]).ravel() + spec.min_intensity
                    k = spec.noise_points // 2
                    mz_noise = rng.uniform(150.0, 1200.0, spec.noise_points)
                    in_noise = spec.min_intensity * np.concatenate(
                        [rng.uniform(0.05, 0.95, k), rng.uniform(1.5, 20.0, spec.noise_points - k)]
                    )
                    mz = np.concatenate([mz_sig, mz_noise])
                    inten = np.concatenate([in_sig, in_noise]).astype(np.float32)
                    order = np.argsort(mz)
                    mz, inten = mz[order], inten[order]
                    kept = int(np.count_nonzero(inten >= spec.min_intensity))
                    ledger.ms2_points += kept
                    ledger.dropped_low_intensity += len(inten) - kept
                    if kept:
                        ledger.slices.add((w, math.floor(rt / spec.window_size_sec)))
                    spectra.append(_spectrum_xml(index, 2, rt, mz, inten, wins[w]))
                index += 1
        ledger.spectra += index
        path = os.path.join(out_dir, f"sample{s:02d}.mzML")
        with open(path, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="utf-8"?>\n')
            f.write('<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">\n')
            f.write(f'<run id="sample{s:02d}"><spectrumList count="{index}">\n')
            f.write("\n".join(spectra))
            f.write("\n</spectrumList></run>\n</mzML>\n")
        paths.append(path)
    ledger.points = ledger.ms1_points + ledger.ms2_points
    return paths, ledger
