"""Synthetic structured-mesh generator — entirely JVM-side
(spark.range + column arithmetic, no driver-side data), used to
exercise the regrid pipeline at arbitrary scale.

An n x n node grid over [0,1]^2, each quad split into two triangles
(2*(n-1)^2 elements), T hourly timesteps of a per-timestep linear field
value = 4*lon - 7*lat + 2 + k. Linear fields barycentric-interpolate
exactly, so the regrid output is analytically checkable at ANY scale —
the property that lets the same generator back both the DuckDB oracle
(small n) and the bench workload (large n).

This is the HSOFS-shaped workload of the reference (~1.8M nodes,
~3.6M elements, run/adcircTime2cogs.py:166-168) scaled by one knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark import memo
from adcirctime2cogs_spark.plans.grid import GridSpec, raster_cells


def synth_nodes(spark: SparkSession, n: int) -> DataFrame:
    """n^2 nodes at (j/(n-1), i/(n-1)) — generated, never collected."""
    return spark.range(n * n).select(
        F.col("id").alias("node_id"),
        ((F.col("id") % n).cast("double") / (n - 1)).alias("lon"),
        (F.expr(f"id div {n}").cast("double") / (n - 1)).alias("lat"),
    )


def synth_elements(spark: SparkSession, n: int) -> DataFrame:
    """2 triangles per quad: (a, b, d) and (a, d, c) with
    a = i*n+j, b = a+1, c = a+n, d = c+1."""
    quads = spark.range((n - 1) * (n - 1)).select(
        F.col("id").alias("q"),
        F.expr(f"id div {n - 1}").alias("i"),
        (F.col("id") % (n - 1)).alias("j"),
    )
    return quads.selectExpr(
        "q",
        f"i * {n} + j AS a",
        f"i * {n} + j + 1 AS b",
        f"(i + 1) * {n} + j AS c",
        f"(i + 1) * {n} + j + 1 AS d",
    ).selectExpr(
        "stack(2, 2 * q,     a, b, d,"
        "         2 * q + 1, a, d, c) AS (elem_id, n0, n1, n2)"
    )


def synth_timeseries(spark: SparkSession, n: int, n_ts: int) -> DataFrame:
    """T timesteps x n^2 nodes, value = 4*lon - 7*lat + 2 + k."""
    ts = spark.range(n_ts).select(F.col("id").alias("k"))
    return ts.crossJoin(synth_nodes(spark, n)).select(
        F.concat(F.lit("t"), F.col("k")).alias("ts"),
        "node_id",
        (4.0 * F.col("lon") - 7.0 * F.col("lat") + 2.0 + F.col("k")).alias("value"),
    )


def synth_grid(grid_n: int) -> GridSpec:
    """grid_n x grid_n edge raster over [0,1]^2 (centroids strictly
    inside, so every cell is in-domain)."""
    return GridSpec(
        ul_lon=0.0, ul_lat=1.0, res=1.0 / (grid_n - 1), nx=grid_n, ny=grid_n
    )


def _synth_weights(spark: SparkSession, n: int, grid_n: int,
                   bin_size: float) -> DataFrame:
    """The one persisted weights build per parameter set, shared
    through the session memo (the synthetic mesh reads no files)."""
    from adcirctime2cogs_spark.plans.weights import build_weights

    return memo.get(
        spark, f"synthetic.weights:{n}:{grid_n}:{bin_size}", None,
        lambda: build_weights(
            raster_cells(spark, synth_grid(grid_n)),
            synth_nodes(spark, n), synth_elements(spark, n), bin_size,
        ).persist(),
    )


def synth_regrid(
    spark: SparkSession, n: int, grid_n: int, n_ts: int, bin_size: float
) -> DataFrame:
    """End-to-end: generate mesh + field, build weights once, regrid all
    timesteps (the full SURVEY O11+O13-O17 pipeline at parameterized
    scale)."""
    from adcirctime2cogs_spark.plans.regrid import regrid

    # weights are the compute-once static table (SURVEY P6), persisted
    # once per parameter set via the shared memo
    w = _synth_weights(spark, n, grid_n, bin_size)
    # params are known here: broadcast the node values when the whole
    # timeseries is under ~64 MB packed (16B/row), else shuffle-join
    broadcast_ts = n * n * n_ts * 16 < 64 * 1024 * 1024
    return regrid(w, synth_timeseries(spark, n, n_ts), broadcast_ts=broadcast_ts)


def synth_regrid_multi(
    spark: SparkSession, n: int, grid_n: int, n_ts: int, bin_size: float
) -> DataFrame:
    """Two linear fields regridded in one pass (regrid_multi): value as
    in synth_timeseries, value2 = -3*lon + 5*lat + 11 + 2*k — both
    analytically checkable at every centroid."""
    from adcirctime2cogs_spark.plans.regrid import regrid_multi

    w = _synth_weights(spark, n, grid_n, bin_size)
    ts = spark.range(n_ts).select(F.col("id").alias("k"))
    tsv = ts.crossJoin(synth_nodes(spark, n)).select(
        F.concat(F.lit("t"), F.col("k")).alias("ts"),
        "node_id",
        (4.0 * F.col("lon") - 7.0 * F.col("lat") + 2.0 + F.col("k")).alias("value"),
        (-3.0 * F.col("lon") + 5.0 * F.col("lat") + 11.0 + 2.0 * F.col("k")).alias(
            "value2"
        ),
    )
    broadcast_ts = n * n * n_ts * 24 < 64 * 1024 * 1024
    return regrid_multi(w, tsv, ["value", "value2"], broadcast_ts=broadcast_ts)
