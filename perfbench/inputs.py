"""Seeded inputs: corpus specs, the analyst query mix, and the on-disk
corpus cache.

Everything here is a pure function of the workload seed; the engine
receives only the generated tables. Layout sizes are fixed per workload
so every seed asks for the same amount of work; the seed moves the
coastline's phase and erosion rate, the observation noise and the
clouds.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict
from pathlib import Path

import numpy as np

from harness import ROOT, WORK

# --- fixed workload layouts (tiles_x x tiles_y tiles, years, obs/year)
ANNUAL_LAYOUT = dict(tiles_x=8, tiles_y=2, year0=2000, year1=2007,
                     obs_per_year=6, fmt="png")
RATES_LAYOUT = dict(tiles_x=16, tiles_y=1, year0=2000, year1=2019,
                    obs_per_year=2, fmt="tiff", tile_px=64, halo_px=4,
                    amp_m=500.0, y0_m=-960.0)
BASELINE_YEAR = 2000
HOTSPOT_RADII = (10000.0, 5000.0, 1000.0)


def coast_spec(seed: int, layout: dict):
    """CorpusSpec for `layout` whose coastline and noise follow `seed`."""
    from dea_coastlines_spark.synth.corpus import CorpusSpec

    rng = np.random.default_rng([seed, 0xC0A57])
    return CorpusSpec(
        seed=seed % 2**31,
        phase=float(rng.uniform(0.0, 2 * np.pi)),
        erosion_m_per_year=float(rng.uniform(-14.0, -10.0)),
        **layout,
    )


def n_tiles(spec) -> int:
    return spec.tiles_x * spec.tiles_y * len(spec.years) * spec.obs_per_year


def spec_digest(spec, sample: int | None = None) -> str:
    """sha256 over the generated rows (all, or the first `sample` keys)."""
    from dea_coastlines_spark.synth import corpus

    h = hashlib.sha256()
    for i, key in enumerate(corpus.iter_keys(spec)):
        if sample is not None and i >= sample:
            break
        row = corpus.make_row(spec, *key)
        h.update(row["image_id"].encode())
        h.update(row["bytes"])
        h.update(row["caption"].encode())
    return h.hexdigest()


# ------------------------------------------------------------ AOI queries


def aoi_queries(seed: int, spec, n: int) -> list[dict]:
    """Seeded analyst lookups: a random polygon near the coast plus a
    year range. Every fifth query asks for rate points, the others for
    shorelines, so each window of queries holds the same 80/20 mix."""
    from dea_coastlines_spark.synth.corpus import y_coast

    rng = np.random.default_rng([seed, 0xA01])
    x_lo = spec.x0_m + 500.0
    x_hi = spec.x0_m + spec.tiles_x * spec.core_m - 500.0
    out = []
    for qid in range(n):
        kind = "rates" if qid % 5 == 4 else "shorelines"
        cx = float(rng.uniform(x_lo, x_hi))
        mid_year = (spec.year0 + spec.year1) // 2
        cy = float(y_coast(spec, np.array([cx]), mid_year)[0] + rng.normal(0.0, 200.0))
        radius = float(rng.uniform(400.0, 1500.0))
        k = int(rng.integers(5, 10))
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
        rad = radius * rng.uniform(0.6, 1.0, k)
        shell = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        lo = int(rng.integers(spec.year0, spec.year1 + 1))
        hi = min(spec.year1, lo + int(rng.integers(0, 6)))
        out.append({"qid": qid, "kind": kind, "shell": shell.round(3),
                    "years": (lo, hi)})
    return out


# ----------------------------------------------------------- corpus cache


def source_hash() -> str:
    """Hash of the engine sources. Cached tables come from the
    generator and the sources layer, and the rates/AOI tables also from
    the operators, so the whole package is hashed."""
    h = hashlib.sha256()
    pkg = ROOT / "dea_coastlines_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def cache_key(kind: str, spec, seed: int) -> str:
    blob = json.dumps(
        {"kind": kind, "spec": asdict(spec), "seed": seed, "src": source_hash()},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


class NotBuilt(LookupError):
    """A cache entry is missing and this process may not build it."""


# The measuring process leaves building to a child process (run.py
# --build-inputs), so its own JVM is equally cold whether or not the
# corpus was cached before the run.
ALLOW_BUILD = True


def cached(kind: str, spec, seed: int, build) -> tuple[Path, float]:
    """Directory holding `build(dir)`'s tables for this key, built once.

    Returns (dir, seconds the build took when it ran). The build writes
    into a private temp dir that is renamed into place, so a killed
    build never leaves a half-written entry. Raises NotBuilt when the
    entry is missing and ALLOW_BUILD is off."""
    final = WORK / "cache" / f"{kind}-{cache_key(kind, spec, seed)}"
    if not final.is_dir():
        if not ALLOW_BUILD:
            raise NotBuilt(final.name)
        tmp = final.with_name(f"{final.name}.tmp-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        t0 = time.perf_counter()
        build(tmp)
        (tmp / "build.json").write_text(
            json.dumps({"build_s": time.perf_counter() - t0})
        )
        os.rename(tmp, final)
    return final, json.loads((final / "build.json").read_text())["build_s"]
