"""Flat-file scans/sinks beyond the snapshot table (SURVEY.md §2.1).

* `read_csv_survey` — the validation-CSV scan analog
  (`pd.read_csv(val_path, parse_dates=["date"])`,
  coastlines/validation.py:2269): explicit schema + timestamp parsing,
  never schema inference (inference = an extra full scan at 100 TB).
* `write_geojson` — GeoJSON FeatureCollection export of a WKB-geometry
  DataFrame for parity checks against the reference's `gdf.to_file`
  sinks (coastlines/vector.py:1613-1626). Geometry decoding runs
  distributed (mapInPandas); only the final feature strings are
  collected, and the writer refuses tables above a row cap — GeoJSON is
  an exchange format for small outputs, not a data-plane sink (the
  data-plane sink is the snapshot table).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

SURVEY_SCHEMA = (
    "site string, date timestamp, distance double, z double, id string"
)


def read_csv_survey(
    spark: SparkSession,
    path: str,
    schema: str = SURVEY_SCHEMA,
    timestamp_format: str = "yyyy-MM-dd",
    dms_cols: list[str] | None = None,
) -> DataFrame:
    """dms_cols: survey columns holding DMS coordinate strings (read as
    string in `schema`) to convert to decimal degrees in-place."""
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", timestamp_format)
        .csv(path)
    )
    for c in dms_cols or []:
        df = df.withColumn(c, dms2dd(c))
    return df


SURVEY_DMS_SCHEMA = (
    "site string, obs_time string, chainage_m double, elevation double, "
    "profile_id string, lat_dms string, lon_dms string"
)


def read_csv_survey_dms(
    spark: SparkSession,
    path: str,
    tz: str | None = None,
) -> DataFrame:
    """Second survey CSV layout — the multi-source validation fan-out
    (reference validation.py:2525 preprocessor family: every agency
    ships a different spreadsheet). This one carries ISO-8601
    timestamps WITH UTC offsets (field crews log local time),
    chainage/elevation column names, and site coordinates as DMS
    strings. Normalized here to the read_csv_survey frame (site, date,
    distance, z, id) plus decimal-degree lat/lon columns, so every
    downstream operator is layout-agnostic.

    tz: IANA timezone for YEAR ATTRIBUTION. The offset-aware parse
    yields an absolute instant; a survey logged 2001-01-01 08:00+10:30
    is 2000-12-31 21:30 UTC, and attributing it to 2000 would join it
    against the wrong annual shoreline. Passing the survey programme's
    timezone shifts the wall-clock before year extraction (the same
    tz_localize/tz_convert step the reference applies to tide-gauge
    records). None keeps the session-timezone (UTC) attribution."""
    from pyspark.sql import functions as F

    df = (
        spark.read.schema(SURVEY_DMS_SCHEMA)
        .option("header", "true")
        # RFC-4180 doubled-quote escaping ("" inside a quoted field),
        # the convention every spreadsheet export uses — Spark's
        # default escape is backslash, which would hand back the DMS
        # seconds mark with its wrapping quotes intact
        .option("escape", '"')
        .csv(path)
    )
    ts = F.to_timestamp("obs_time")
    if tz:
        # shift ONLY offset-bearing strings: to_timestamp reads them as
        # absolute instants (UTC under the pinned session tz), which
        # from_utc_timestamp converts to the survey programme's wall
        # clock. A NAIVE string in the same file already IS local wall
        # clock — to_timestamp keeps its digits verbatim under the UTC
        # session, and shifting it again would move a 20:00 New Year's
        # Eve survey into the next year.
        # the offset must FOLLOW a time component: a bare date like
        # '2001-01-01' ends in '-01', which the unanchored alternative
        # read as a -01 hour offset and double-shifted — moving a
        # midnight survey into the previous day (wrong year
        # attribution) for negative-offset zones.
        # Assumption: offsets are parsed only after a COLON-separated
        # time (HH:MM[:SS]). ISO-8601 basic format ('20010101T003000Z')
        # and hour-only times never match here, so they are read as
        # naive; to_timestamp itself rejects the basic format under
        # ANSI mode, so such a file fails to load instead of landing
        # in a shifted year.
        has_offset = F.col("obs_time").rlike(
            r"\d{2}:\d{2}(:\d{2})?(\.\d+)?\s*(Z|[+-]\d{2}:?\d{2}|[+-]\d{2})\s*$"
        )
        ts = F.when(has_offset, F.from_utc_timestamp(ts, tz)).otherwise(ts)
    return df.select(
        F.col("site"),
        ts.alias("date"),
        F.col("chainage_m").alias("distance"),
        F.col("elevation").alias("z"),
        F.col("profile_id").alias("id"),
        dms2dd("lat_dms").alias("lat"),
        dms2dd("lon_dms").alias("lon"),
    )


def dms2dd(col) -> "F.Column":
    """Degrees-minutes-seconds coordinate string -> decimal degrees,
    JVM-only (regex + array expressions, codegen-friendly, no Python).

    Port of the reference's `dms2dd` (coastlines/validation.py:212-219):
    a POSITIVE degrees field adds the minute/second terms
    (`12°30'` -> 12.5); zero or negative degrees subtract them, so
    `-33°42'12"` -> -33.70333 and `0°51'56.29` -> **-0.8656** (the
    reference quirk: a bare zero-degree string is treated as southern/
    western — pinned by tests/test_sources.py). Extended beyond the
    reference for real survey CSVs: minutes/seconds may be omitted, and
    a trailing hemisphere letter is honored (S/W negate: `33°42'S` ->
    -33.7). Malformed strings yield NULL (try_cast), not a job abort.
    """
    from pyspark.sql import functions as F

    s = F.trim(F.col(col) if isinstance(col, str) else col)
    hemi = F.upper(F.regexp_extract(s, r"([NSEWnsew])\s*$", 1))
    body = F.regexp_replace(s, r"\s*[NSEWnsew]\s*$", "")
    parts = F.filter(
        F.split(body, r"[^0-9+.\-]+"), lambda x: x != ""
    )
    num = lambda i: F.try_element_at(parts, F.lit(i)).try_cast("double")  # noqa: E731
    deg = num(1)
    mins = F.when(F.size(parts) >= 2, F.coalesce(num(2), F.lit(0.0))).otherwise(0.0)
    secs = F.when(F.size(parts) >= 3, F.coalesce(num(3), F.lit(0.0))).otherwise(0.0)
    frac = mins / 60.0 + secs / 3600.0
    # reference sign rule: degrees > 0 adds the fraction, else (zero or
    # negative degrees) subtracts — bit-matching validation.py:215-218
    dd = F.when(deg > 0, deg + frac).otherwise(deg - frac)
    return F.when(
        hemi.isin("S", "W"), -F.abs(dd)
    ).when(hemi.isin("N", "E"), F.abs(dd)).otherwise(dd)


def _feature_kernel(geometry_col: str, attr_cols, part_cols=()):
    """Shared Arrow kernel turning (WKB geometry + attrs) rows into
    GeoJSON Feature strings (column `feature`), passing `part_cols`
    through for partitioned writers."""
    import pandas as pd

    from ..geometry import wkb as _wkb

    part_cols = list(part_cols)

    def to_features(batches):
        for pdf in batches:
            feats = []
            for i in range(len(pdf)):
                geom = _wkb.to_geojson_dict(bytes(pdf[geometry_col].iloc[i]))
                props = {}
                for c in attr_cols:
                    v = pdf[c].iloc[i]
                    if hasattr(v, "item"):
                        v = v.item()
                    props[c] = v
                feats.append(
                    json.dumps(
                        {"type": "Feature", "geometry": geom,
                         "properties": props},
                        sort_keys=True,
                    )
                )
            out = {"feature": feats}
            for c in part_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out, columns=["feature"] + part_cols)

    return to_features


def write_geojson(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    max_rows: int = 100_000,
) -> int:
    """Write df (WKB geometry + attribute columns) as one GeoJSON
    FeatureCollection. Returns feature count."""
    attr_cols = [c for c in df.columns if c != geometry_col]
    to_features = _feature_kernel(geometry_col, attr_cols)

    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"GeoJSON export capped at {max_rows} rows (got {n}); "
            "use write_geojsonseq (distributed) or SnapshotTable for "
            "data-plane output"
        )
    feats = [r.feature for r in df.mapInPandas(to_features, "feature string").collect()]
    with open(path, "w") as f:
        f.write('{"type": "FeatureCollection", "features": [\n')
        f.write(",\n".join(feats))
        f.write("\n]}\n")
    return len(feats)


def write_geojsonseq(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    partition_by: list[str] | None = None,
) -> int:
    """Distributed newline-delimited GeoJSON (RFC 8142 GeoJSONSeq)
    export: every executor writes its own part files — no driver
    collect, no row cap — so continental/100 TB-scale vector exports
    stay on the data plane. `partition_by` produces one directory per
    key (e.g. per H3 cell or per year), the layout GDAL/tippecanoe
    consume shard-parallel; `ogrmerge.py -single out/*.geojsonl` (or
    the engine's external-merge reader) reassembles a single layer.

    Feature building is the same Arrow kernel as write_geojson (shared
    `_feature_kernel`; WKB parse = numpy slicing, JVM-side text write).
    Returns the feature count, taken by counting the WRITTEN text back
    (a cheap scan of the emitted part files) rather than re-running the
    upstream plan a second time."""
    part_cols = list(partition_by or [])
    attr_cols = [c for c in df.columns if c != geometry_col]
    to_features = _feature_kernel(geometry_col, attr_cols, part_cols)

    schema = "feature string" + "".join(
        f", `{c}` {df.schema[c].dataType.simpleString()}" for c in part_cols
    )
    feats = df.mapInPandas(to_features, schema)
    writer = feats.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.text(path)
    return df.sparkSession.read.text(path).count()
