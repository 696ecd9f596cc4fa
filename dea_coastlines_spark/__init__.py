"""dea_coastlines_spark — a from-scratch PySpark-native spatial-join +
tiling engine with the query/data-processing capabilities of
GeoscienceAustralia/dea-coastlines (reference, read-only at
/root/reference/).

The reference is a single-node xarray/dask/geopandas raster→vector
shoreline pipeline; this engine re-expresses its full operator inventory
(SURVEY.md §2) as Spark DataFrame plans + Arrow-vectorized pandas UDFs
over an Iceberg-style table of (image bytes + caption) tile rows:

    tiles(image_id string, bytes binary, w int, h int, fmt string,
          caption string, phash bigint)

Design rules (SURVEY.md §7):
  * DataFrame/SQL first — Catalyst owns pushdown/pruning/join choice.
  * No per-row Python anywhere: all kernels are Arrow-batched
    (pandas_udf / applyInPandas / applyInArrow / mapInPandas),
    numpy-vectorized inside.
  * Partition key = quadtree cell_id (S2-style Morton index over the
    projected plane); salting for dense coastal cells.
  * One fat UDF per pipeline stage (Catalyst can't fuse across Python
    UDF boundaries, so fusion is by construction).
  * Checkpoint/lineage table for resume-by-skip (reference semantics:
    `run_completed` markers, coastlines/raster.py:716-754).
"""

__version__ = "0.1.0"
