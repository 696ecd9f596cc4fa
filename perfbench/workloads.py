"""The four coastline workloads.

Each workload builds (or finds in the cache) its seeded input tables,
opens them, runs its user-visible operation repeatedly for the timed
window, and afterwards checks its outputs. The traced variant runs the
same operation with every public call's output materialized through a
noop sink inside its own span, so per-layer times can be read off.

All timing is taken from outside, around public calls of the engine.
"""

from __future__ import annotations

import json
import struct
import threading
import time
from pathlib import Path

import numpy as np

import inputs
from harness import frame_digest, frame_digests, job_counts, tree_cpu_s
from spans import Tracer

PINNED = Path(__file__).resolve().parent / "pinned_digests.json"


def noop(df) -> None:
    """Materialize a frame without keeping it (Spark's noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def _pinned(workload: str, seed: int) -> str | None:
    if not PINNED.exists():
        return None
    return json.loads(PINNED.read_text()).get(workload, {}).get(str(seed))


# ------------------------------------------------- independent oracles


def linestring_coords(buf: bytes) -> np.ndarray:
    """Vertices of a little-endian WKB LineString."""
    order, gtype, n = struct.unpack_from("<BII", buf, 0)
    if order != 1 or gtype != 2:
        raise ValueError("expected a little-endian WKB LineString")
    return np.frombuffer(buf, "<f8", count=2 * n, offset=9).reshape(n, 2)


def brute_pip(px: np.ndarray, py: np.ndarray, shell: np.ndarray) -> np.ndarray:
    """Even-odd ray casting, one point at a time per edge (numpy)."""
    inside = np.zeros(px.shape, bool)
    ring = shell if np.array_equal(shell[0], shell[-1]) else np.vstack([shell, shell[:1]])
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
    return inside


def coast_errors(spec, sl_pdf) -> list[float]:
    """Per year: (median, p95) |y - analytic coast| of shoreline vertices
    at the median tide the tide filter keeps."""
    from dea_coastlines_spark.synth.corpus import tide_for, y_coast

    tides = {
        (y, o): tide_for(spec, y, o)
        for y in spec.years for o in range(spec.obs_per_year)
    }
    vals = np.array(list(tides.values()))
    centre, half = (vals.min() + vals.max()) / 2, (vals.max() - vals.min()) * 0.25
    out = []
    for year, grp in sl_pdf.groupby("year"):
        kept = [t for (y, _), t in tides.items()
                if y == year and centre - half <= t <= centre + half]
        tide = float(np.median(kept)) if kept else 0.0
        verts = np.vstack([linestring_coords(bytes(g)) for g in grp.geometry])
        err = np.abs(verts[:, 1] - y_coast(spec, verts[:, 0], int(year), tide))
        out.append((float(np.median(err)), float(np.percentile(err, 95))))
    return out


# --------------------------------------------------------- kernel layers


def kernel_layers(arrays: list[np.ndarray], native: dict[str, list[bytes]]) -> dict:
    """Single-thread kernel costs on the workload's own sampled rasters."""
    from dea_coastlines_spark.codecs import image as img
    from dea_coastlines_spark.functions import marching
    from dea_coastlines_spark.geometry import algorithms as ga
    from dea_coastlines_spark.index import cells

    out = {}
    for fmt, n in (("png", 16), ("tiff", 16), ("jpeg", 2)):
        bufs = native.get(fmt) or [img.encode_tile(a, fmt) for a in arrays[:n]]
        bufs = bufs[:n]
        t0 = time.perf_counter()
        for b in bufs:
            img.decode_tile(b, fmt)
        out[f"codecs.decode_ms_per_tile.{fmt}"] = 1e3 * (time.perf_counter() - t0) / len(bufs)

    t0 = time.perf_counter()
    chains = []
    for a in arrays:
        chains += marching.find_contours(a, 0.0, min_vertices=10)
    out["functions.find_contours_ms"] = 1e3 * (time.perf_counter() - t0) / len(arrays)

    verts = np.vstack(chains) if chains else np.zeros((1, 2))
    cy, cx = verts.mean(axis=0)
    ring = ga.disc_polygon(cx, cy, max(1.0, float(np.ptp(verts[:, 1])) / 3), n=64)
    t0 = time.perf_counter()
    for _ in range(5):
        ga.points_in_polygon(verts[:, 1], verts[:, 0], ring)
    out["geometry.points_in_polygon_ms_per_kvertex"] = (
        1e3 * (time.perf_counter() - t0) / 5 / (len(verts) / 1e3)
    )

    n = 1_000_000
    pts = np.resize(verts * 30.0, (n, 2))
    t0 = time.perf_counter()
    cells.xy_to_cell(pts[:, 1], pts[:, 0], 29)
    out["index.xy_to_cell_ms_per_mpoint"] = 1e3 * (time.perf_counter() - t0)
    return out


# ----------------------------------------------------------- workloads


class Workload:
    """One workload run: seeded inputs, the timed operation, the gate."""

    name = ""

    def __init__(self, spark, seed: int, run_dir: Path):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.op_tags: list[str] = []  # every operation run, in order
        self.bad: set[str] = set()    # operations that raised or were wrong
        self.problems: list[str] = []
        self.details: dict = {}

    def ran(self, tag: str) -> str:
        self.op_tags.append(tag)
        return tag

    def gate(self, ok: bool, msg: str, tag: str | None = None) -> None:
        """A failed check marks operation `tag` wrong, or every operation
        when the check covers them all."""
        if not ok:
            self.problems.append(msg)
            self.bad.update([tag] if tag is not None else self.op_tags)

    # subclasses implement: build() -> synth seconds, open(), warm(),
    # timed(seconds) -> (latencies_s, items, wall_s, cpu_s_per_item), check(),
    # traced(tracer) -> per-layer metrics, sample() -> kernel inputs

    def sample(self) -> tuple[list[np.ndarray], dict[str, list[bytes]]]:
        raise NotImplementedError

    def unit(self, tag: str) -> None:
        """The untraced counterpart of one `traced` call."""
        self.op(tag)

    def warm(self) -> None:
        self.unit(f"warm{len(self.op_tags)}")

    def extra_layers(self, tr: Tracer) -> dict:
        """Layers measured once per traced run, outside the traced units."""
        return {}

    def _loop(self, seconds: float, op):
        """Runs `op` back to back for `seconds`: (latencies, items, wall,
        process-tree CPU seconds per item of each op)."""
        lats, items, cpu_per_item = [], 0, []
        t_start = time.perf_counter()
        while True:
            t0, c0 = time.perf_counter(), tree_cpu_s()
            n = op(f"op{len(self.op_tags)}")
            lats.append(time.perf_counter() - t0)
            cpu_per_item.append((tree_cpu_s() - c0) / n)
            items += n
            if time.perf_counter() - t_start >= seconds:
                break
        return lats, items, time.perf_counter() - t_start, cpu_per_item

    def spark_counts(self, op) -> dict:
        """Spark jobs, stages and tasks of one untraced `op`."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self.name}-counts"
        sc.setJobGroup(group, group)
        op("counts")
        sc.setJobGroup("perfbench", "perfbench")
        return {f"spark.{k}": float(v) for k, v in job_counts(sc, group).items()}

    def tile_sample(self, tiles_df, n: int = 16):
        from dea_coastlines_spark.codecs import image as img

        rows = tiles_df.select("bytes", "fmt").limit(n).collect()
        native = {}
        for r in rows:
            native.setdefault(r.fmt, []).append(bytes(r.bytes))
        return [img.decode_tile(bytes(r.bytes), r.fmt) for r in rows], native


class AnnualShorelines(Workload):
    """tiles snapshot -> shoreline_pipeline -> committed SnapshotTable."""

    name = "annual_shorelines"
    checkpoint_batch = 2

    def build(self) -> float:
        from dea_coastlines_spark.sources import write_tiles
        from dea_coastlines_spark.synth import corpus

        self.spec = inputs.coast_spec(self.seed, inputs.ANNUAL_LAYOUT)

        def build(d: Path) -> None:
            write_tiles(corpus.generate_spark(self.spark, self.spec), str(d / "tiles"))

        d, dt = inputs.cached("annual", self.spec, self.seed, build)
        self.tiles_path = str(d / "tiles")
        self.outputs: list[tuple[str, str]] = []  # (op tag, table path)
        return dt

    def open(self) -> None:
        from dea_coastlines_spark.sources import read_tiles

        self.n_tiles = read_tiles(self.spark, self.tiles_path).count()

    def op(self, tag: str) -> int:
        from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
        from dea_coastlines_spark.sources import read_tiles
        from dea_coastlines_spark.sources.table import SnapshotTable

        path = str(self.run_dir / f"shorelines-{self.ran(tag)}")
        tiles = read_tiles(self.spark, self.tiles_path)
        SnapshotTable(self.spark, path).create(
            shoreline_pipeline(tiles), partition_by=["year"]
        )
        self.outputs.append((tag, path))
        return self.n_tiles

    def timed(self, seconds: float):
        return self._loop(seconds, self.op)

    def check(self) -> None:
        from dea_coastlines_spark.sources.table import SnapshotTable

        self.gate(self.n_tiles == inputs.n_tiles(self.spec),
                  f"tiles table holds {self.n_tiles} rows")
        digests = frame_digests(
            {tag: SnapshotTable(self.spark, p).read() for tag, p in self.outputs})
        ref = digests[self.outputs[0][0]]
        for tag, d in digests.items():
            self.gate(d == ref, f"{tag}: digest {d} != {ref}", tag)
        pinned = _pinned(self.name, self.seed)
        if pinned is not None:
            self.gate(ref == pinned, f"digest {ref} != pinned {pinned}")
        pdf = SnapshotTable(self.spark, self.outputs[0][1]).read().toPandas()
        self.gate(len(pdf) > 0, "no shorelines")
        for med, p95 in coast_errors(self.spec, pdf):
            self.gate(med < self.spec.res_m and p95 < 3 * self.spec.res_m,
                      f"shoreline off the analytic coast: median {med:.1f} m, p95 {p95:.1f} m")
        self.details.update(digest=ref, shorelines=len(pdf))

    def sample(self):
        from dea_coastlines_spark.sources import read_tiles

        return self.tile_sample(read_tiles(self.spark, self.tiles_path))

    def traced(self, tr: Tracer) -> dict:
        from dea_coastlines_spark.operators import composite as comp_op
        from dea_coastlines_spark.operators import contours as cont_op
        from dea_coastlines_spark.sources import read_tiles
        from dea_coastlines_spark.sources.table import SnapshotTable

        path = str(self.run_dir / f"shorelines-{self.ran(f'traced{len(tr.spans)}')}")
        with tr.span("plans.pipeline.shoreline_pipeline"):
            with tr.span("sources.read_tiles"):
                tiles = read_tiles(self.spark, self.tiles_path).persist()
                noop(tiles)
            with tr.span("operators.composite.annual_composites"):
                comps = comp_op.annual_composites(tiles).persist()
                noop(comps)
            with tr.span("operators.contours.shorelines"):
                sl = cont_op.shorelines(comps).persist()
                noop(sl)
        with tr.span("sources.table.commit"):
            SnapshotTable(self.spark, path).create(sl, partition_by=["year"])
        self.outputs.append((self.op_tags[-1], path))
        rows = SnapshotTable(self.spark, path).snapshots()[-1]["n_rows"]
        self.spark.catalog.clearCache()
        return {"shorelines.rows": rows, "sources.table.commits": 1}

    def extra_layers(self, tr: Tracer) -> dict:
        """plans.checkpoint on this corpus, as `run_shorelines.py
        --checkpoint-dir` runs it: phase A commits half the cell_ids (a
        job killed after those commits), phase B resumes over all tiles
        and commits the output. Checked against the plain pipeline."""
        from pyspark.sql import functions as F

        from dea_coastlines_spark.plans.checkpoint import CheckpointedPipeline
        from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
        from dea_coastlines_spark.sources import read_tiles
        from dea_coastlines_spark.sources.table import SnapshotTable

        tag = self.ran("checkpoint")
        base, path = (str(self.run_dir / f"{k}-{tag}") for k in ("ckpt", "shorelines"))
        tiles = read_tiles(self.spark, self.tiles_path)
        cells = sorted(r.cell_id for r in tiles.select("cell_id").distinct().collect())
        first = cells[: len(cells) // 2]

        def run_stage(part):
            ck = CheckpointedPipeline(self.spark, base)
            out = ck.run_stage("shorelines", part, key_cols=["cell_id"],
                               fn=shoreline_pipeline, batch_keys=self.checkpoint_batch)
            return ck, out

        t0 = time.perf_counter()
        plain = shoreline_pipeline(tiles)
        noop(plain)
        plain_s = time.perf_counter() - t0
        with tr.span("plans.checkpoint.run_stage.A"):
            run_stage(tiles.filter(F.col("cell_id").isin(first)))
        with tr.span("plans.checkpoint.run_stage.B"):
            ck, out = run_stage(tiles)
        with tr.span("sources.table.commit"):
            SnapshotTable(self.spark, path).create(out.drop("cell_key"), partition_by=["year"])

        resumed, want = (frame_digest(df) for df in (SnapshotTable(self.spark, path).read(), plain))
        self.gate(resumed == want, f"resumed digest {resumed} != plain {want}", tag)
        lin = ck.metrics().toPandas()
        per_run = lin.groupby("run_id").cell_key.nunique()
        recomputed = int(per_run.get(ck.run_id, 0))
        self.gate(recomputed == len(cells) - len(first),
                  f"phase B recomputed {recomputed} of {len(cells) - len(first)} keys", tag)
        staged = tr.total("plans.checkpoint.run_stage.A") + tr.total("plans.checkpoint.run_stage.B")
        self.details.update(checkpoint_cells=len(cells), checkpoint_plain_s=plain_s,
                            overhead_ratio_base="plain shoreline_pipeline, same tiles, noop sink")
        return {
            "plans.checkpoint.keys_recomputed": recomputed,
            "plans.checkpoint.lineage_commits": int(lin.groupby("run_id").completed_at.nunique().sum()),
            "plans.checkpoint.overhead_ratio": staged / plain_s,
        }


class RatesChain:
    """The rates-of-change products of one seeded coastline: a composites
    table (built once, cached) and the chain `jobs/run_continental.py`
    runs over it -- contours, baseline points, annual nearest, signed
    distances, rates of change, certainty, continental hotspots."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.spec = inputs.coast_spec(seed, inputs.RATES_LAYOUT)
        d, self.build_s = inputs.cached("rates", self.spec, seed, self._build)
        self.comps_path = str(d / "composites")

    def _build(self, d: Path) -> None:
        from dea_coastlines_spark.operators import composite as comp_op
        from dea_coastlines_spark.sources.table import SnapshotTable
        from dea_coastlines_spark.synth import corpus

        comps = comp_op.annual_composites(
            corpus.generate_spark(self.spark, self.spec), apply_tide_filter=False
        )
        # one file per core: every scan of the table runs one task per core
        SnapshotTable(self.spark, str(d / "composites")).create(comps.repartition(4))

    def composites(self):
        from dea_coastlines_spark.sources.table import SnapshotTable

        return SnapshotTable(self.spark, self.comps_path).read()

    def run(self, comps, tr: Tracer | None = None, materialize: bool = False,
            hotspots: bool = True):
        """(shorelines, signed distances, rates, hotspots or None). With
        `materialize`, each step's output is cached and forced through
        the noop sink inside its own span."""
        from pyspark import StorageLevel

        from dea_coastlines_spark.operators import contours as cont_op
        from dea_coastlines_spark.operators import hotspots as hs_op
        from dea_coastlines_spark.operators import rates as rates_op

        tr = tr or Tracer(enabled=False)
        spec, base = self.spec, inputs.BASELINE_YEAR

        def step(name, fn, keep=False):
            with tr.span(name):
                df = fn()
                if keep or materialize:
                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                if materialize:
                    noop(df)
            return df

        sl = step("operators.contours.shorelines", lambda: cont_op.shorelines(comps), keep=True)
        pts = step("operators.rates.baseline_points",
                   lambda: rates_op.baseline_points(sl, base), keep=True)
        near = step("operators.rates.annual_nearest", lambda: rates_op.annual_nearest(pts, sl))
        signed = step("operators.rates.signed_distances",
                      lambda: rates_op.signed_distances(near, comps, base), keep=True)
        roc = step("operators.rates.rates_of_change",
                   lambda: rates_op.rates_of_change(signed, initial_year=spec.year0))
        rates = step("operators.rates.with_certainty",
                     lambda: rates_op.with_certainty(
                         roc, n_years=len(spec.years), baseline_year=base))
        hs = None
        if hotspots:
            hs = step("operators.hotspots.continental_hotspots",
                      lambda: hs_op.continental_hotspots(
                          sl, pts, signed, base, inputs.HOTSPOT_RADII))
        return sl, signed, rates, hs

    def rate_errors(self, rates_pdf) -> tuple[int, float, float]:
        """(good points, median and p90 |error|) of rate_time against the
        analytic erosion rate at each good point."""
        spec = self.spec
        good = rates_pdf[rates_pdf.certainty == "good"]
        ero = spec.erosion_m_per_year * (
            1.0 + 0.5 * np.sin(2 * np.pi * good.x.to_numpy() / (3.7 * spec.wavelen_m))
        )
        err = good.rate_time.to_numpy() - ero
        if not len(err):
            return 0, float("inf"), float("inf")
        return len(good), abs(float(np.median(err))), float(np.percentile(np.abs(err), 90))


class AoiQueries(Workload):
    """Two closed-loop clients sending seeded AOI lookups against the
    shoreline and rate-point tables of a seeded coastline."""

    name = "aoi_queries"
    clients = 2

    def build(self) -> float:
        from dea_coastlines_spark.sources.table import SnapshotTable

        self.rates = RatesChain(self.spark, self.seed)
        self.spec = self.rates.spec

        def build(d: Path) -> None:
            sl, _signed, rates, _hs = self.rates.run(self.rates.composites(), hotspots=False)
            SnapshotTable(self.spark, str(d / "shorelines")).create(sl, partition_by=["year"])
            SnapshotTable(self.spark, str(d / "rates")).create(rates)
            self.spark.catalog.clearCache()

        d, dt = inputs.cached("aoi", self.spec, self.seed, build)
        self.sl_path, self.rates_path = str(d / "shorelines"), str(d / "rates")
        self.queries = inputs.aoi_queries(self.seed, self.spec, 5000)
        self.answers: dict[int, tuple] = {}
        self.next_q = 0
        self.lock = threading.Lock()
        return self.rates.build_s + dt

    def open(self) -> None:
        from dea_coastlines_spark.sources.table import SnapshotTable

        self.sl_table = SnapshotTable(self.spark, self.sl_path)
        self.rates_df = SnapshotTable(self.spark, self.rates_path).read().select(
            "point_id", "x", "y", "rate_time", "certainty")
        self.n_rates = self.rates_df.count()

    def aoi_frame(self, q):
        from dea_coastlines_spark.geometry import wkb

        return self.spark.createDataFrame(
            [(q["qid"], wkb.polygon(q["shell"]))], "aoi_id long, geometry binary")

    def query(self, q, tr: Tracer | None = None) -> tuple:
        from dea_coastlines_spark.operators.spatial_join import points_in_polygons
        from dea_coastlines_spark.plans.pipeline import shorelines_in_aoi_fused

        tr = tr or Tracer(enabled=False)
        self.ran(f"q{q['qid']}")
        aoi = self.aoi_frame(q)
        if q["kind"] == "shorelines":
            with tr.span("sources.table.read"):
                sl = self.sl_table.read(where={"year": q["years"]})
            with tr.span("plans.pipeline.shorelines_in_aoi_fused"):
                rows = shorelines_in_aoi_fused(sl, aoi).select(
                    "tile_x", "tile_y", "year", "n_inside").collect()
            ans = tuple(sorted((r.tile_x, r.tile_y, r.year, r.n_inside) for r in rows))
        else:
            with tr.span("operators.spatial_join.points_in_polygons"):
                rows = points_in_polygons(self.rates_df, aoi).select("point_id").collect()
            ans = tuple(sorted(r.point_id for r in rows))
        with self.lock:
            self.answers[q["qid"]] = ans
        return ans

    def _take(self) -> dict:
        with self.lock:
            q = self.queries[self.next_q % len(self.queries)]
            self.next_q += 1
            return q

    def _next_of(self, kind: str) -> dict:
        q = self._take()
        while q["kind"] != kind:
            q = self._take()
        return q

    def unit(self, tag: str = "") -> None:
        for kind in ("shorelines", "rates"):
            self.query(self._next_of(kind))

    def timed(self, seconds: float):
        lats: list[float] = []
        errors: list[tuple[int, Exception]] = []
        deadline = time.perf_counter() + seconds

        def client() -> None:
            while time.perf_counter() < deadline:
                q = self._take()
                t0 = time.perf_counter()
                try:
                    self.query(q)
                except Exception as e:  # counted as a failed operation
                    with self.lock:
                        errors.append((q["qid"], e))
                    continue
                dt = time.perf_counter() - t0
                with self.lock:
                    lats.append(dt)

        t_start, c0 = time.perf_counter(), tree_cpu_s()
        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall, cpu_s = time.perf_counter() - t_start, tree_cpu_s() - c0
        for qid, e in errors:
            self.gate(False, f"query {qid} raised {e!r}", f"q{qid}")
        # concurrent queries share the CPU: one sample for the window
        return lats, len(lats), wall, [cpu_s / max(1, len(lats))]

    def check(self) -> None:
        from dea_coastlines_spark.sources.table import SnapshotTable

        tables = "|".join(frame_digest(SnapshotTable(self.spark, p).read())
                          for p in (self.sl_path, self.rates_path))
        pinned = _pinned(self.name, self.seed)
        if pinned is not None:
            self.gate(tables == pinned, f"table digests {tables} != pinned {pinned}")
        rates = SnapshotTable(self.spark, self.rates_path).read().toPandas()
        n_good, med, p90 = self.rates.rate_errors(rates)
        self.gate(n_good > 0.5 * len(rates) and med < 5.0 and p90 < 10.0,
                  f"rates off the analytic erosion rate: {n_good}/{len(rates)} good, "
                  f"median {med:.2f}, p90 {p90:.2f} m/yr")
        sl = SnapshotTable(self.spark, self.sl_path).read().select(
            "tile_x", "tile_y", "year", "geometry").toPandas()
        sl_verts = [linestring_coords(bytes(g)) for g in sl.geometry]
        by_id = {q["qid"]: q for q in self.queries}
        done = sorted(self.answers)
        rng = np.random.default_rng([self.seed, 0xC4EC])
        sample = rng.choice(done, size=min(40, len(done)), replace=False) if done else []
        for qid in sample:
            q, got = by_id[int(qid)], self.answers[int(qid)]
            shell = q["shell"]
            if q["kind"] == "shorelines":
                lo, hi = q["years"]
                want = []
                for r, v in zip(sl.itertuples(), sl_verts):
                    if lo <= r.year <= hi:
                        k = int(brute_pip(v[:, 0], v[:, 1], shell).sum())
                        if k:
                            want.append((r.tile_x, r.tile_y, r.year, k))
                want = tuple(sorted(want))
            else:
                inside = brute_pip(rates.x.to_numpy(), rates.y.to_numpy(), shell)
                want = tuple(sorted(rates.point_id.to_numpy()[inside].tolist()))
            self.gate(tuple(got) == want, f"query {qid} ({q['kind']}) answer differs", f"q{qid}")
        self.gate(len(done) > 0, "no query completed")
        self.details.update(digest=tables, queries=len(done), checked=len(sample),
                            rate_points=len(rates))

    def sample(self):
        from dea_coastlines_spark.codecs import tiff

        rows = self.rates.composites().select("mndwi_bytes").limit(16).collect()
        bufs = [bytes(r.mndwi_bytes) for r in rows]
        return [tiff.decode_f32(b) for b in bufs], {"tiff": bufs}

    def traced(self, tr: Tracer) -> dict:
        from dea_coastlines_spark.index import cells
        from dea_coastlines_spark.operators.spatial_join import DEFAULT_RES

        self.query(self._next_of("shorelines"), tr)
        q = self._next_of("rates")
        self.query(q, tr)
        pts = self.rates_df.select("x", "y").toPandas()
        x0, y0 = q["shell"].min(axis=0)
        x1, y1 = q["shell"].max(axis=0)
        cover = cells.polyfill_bbox(x0, y0, x1, y1, DEFAULT_RES)
        cand = np.isin(cells.xy_to_cell(pts.x.to_numpy(), pts.y.to_numpy(), DEFAULT_RES), cover)
        return {"spatial_join.candidates": int(cand.sum())}

    def extra_layers(self, tr: Tracer) -> dict:
        """The rates chain with hotspots, traced step by step over the
        composites this workload's tables were built from; its rate
        points must equal the table the queries ran against."""
        from dea_coastlines_spark.sources.table import SnapshotTable

        tag = self.ran("rates_chain")
        with tr.span("sources.table.read"):
            comps = self.rates.composites().persist()
            noop(comps)
        _sl, signed, rates, hs = self.rates.run(comps, tr, materialize=True)
        rp, hp = (str(self.run_dir / f"{k}-{tag}") for k in ("rates", "hotspots"))
        with tr.span("sources.table.commit"):
            SnapshotTable(self.spark, rp).create(rates)
            SnapshotTable(self.spark, hp).create(hs, partition_by=["radius_m"])
        got, want = (frame_digest(SnapshotTable(self.spark, p).read())
                     for p in (rp, self.rates_path))
        self.gate(got == want, f"traced rates digest {got} != table {want}", tag)
        hs_tab = SnapshotTable(self.spark, hp)
        radii = {r.radius_m for r in hs_tab.read().select("radius_m").distinct().collect()}
        self.gate(radii == set(inputs.HOTSPOT_RADII), f"hotspot radii {sorted(radii)}", tag)
        out = {
            "rates.points": SnapshotTable(self.spark, rp).snapshots()[-1]["n_rows"],
            "rates.signed_rows": signed.count(),
            "hotspots.rows": hs_tab.snapshots()[-1]["n_rows"],
        }
        self.spark.catalog.clearCache()
        return out


WORKLOADS = {w.name: w for w in (AnnualShorelines, AoiQueries)}
