"""Streaming spatial join (S-series × G-series composition): a stream of
timestamped points joined against a static polygon table, with windowed
per-polygon aggregation — the live-ingest counterpart of
operators/spatial_join (G6) built on the same kernels.

Plan shape: the polygon side is prepared ONCE as an exploded cell cover
(static, broadcast into every micro-batch — stream-static equi-joins are
stateless in Structured Streaming, so no join state accumulates), each
micro-batch encodes point cells in a vectorized Arrow UDF, joins on
`cell`, and hands the candidates to the batch operator's residual.
Both the cover and the residual are the batch G6 operator's own helpers
(operators/spatial_join ``_region_cover`` and ``_pip_residual``: same
cover, same bbox prune, same outer-minus-holes PIP kernel grouped by
the ``__geom`` geometry key), so containment semantics are identical —
a pytest pins streamed pairs == batch spatial_join pairs on the same
rows.

Scale notes (10^12-image firehose): per-batch work is a narrow map +
broadcast hash join — no shuffle before the windowed aggregation, whose
state is bounded by (windows in watermark horizon) × (polygons), not by
input rows. The static cover must fit a broadcast (same
BROADCAST_MAX_COVER_ROWS bound as batch); for continental vector sides,
use foreach_batch_spatial_join, which runs the batch operator (salted
cell-SMJ path and all) per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from ..functions.cells import cell_encode_udf
from ..operators.spatial_join import (DEFAULT_LEVEL, _pip_residual,
                                      _region_cover)

# streamed point rows: id + event time + position
POINT_STREAM_SCHEMA = StructType([
    StructField("point_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("lat", DoubleType()),
    StructField("lon", DoubleType()),
])


def point_stream_source(spark: SparkSession, src_dir: str,
                        max_files_per_trigger: int | None = None,
                        schema: StructType | None = None) -> DataFrame:
    """S1 over point rows: file stream of (point_id, ts, lat, lon).
    ``schema`` overrides the default for streams carrying extra payload
    columns (e.g. a measurement value for windowed_poly_stats)."""
    r = spark.readStream.schema(schema or POINT_STREAM_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def region_cover(regions: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Static-side prep: explode each polygon into its covering cells,
    carrying ring/holes/bbox for the residual tests. Same cover as the
    batch operator.

    The result is persist()-ed (ADVICE r4): in a stream-static join Spark
    re-executes the static subplan every micro-batch, so without the cache
    the pandas cover UDF would re-run over ALL polygons per trigger —
    contradicting the once-per-query cost this module's plan notes claim.
    The first trigger pays the cover computation and fills the cache;
    callers that tear a query down may cov.unpersist() (blocks are also
    LRU-evicted under memory pressure, so leaking one is benign)."""
    return _region_cover(regions, level).persist()


def spatial_join_stream(stream: DataFrame, regions: DataFrame, *,
                        point_id: str = "point_id",
                        level: int = DEFAULT_LEVEL,
                        watermark: str | None = None,
                        keep_point_cols: list[str] | None = None) -> DataFrame:
    """Exact point-in-polygon join of a point stream against a static
    polygon table → streaming (point_id, ts, poly_id) pairs.

    ``regions`` may be the raw polygon frame (cover computed here) or an
    already-exploded region_cover() result (reused across queries); a
    pre-exploded cover without the ``__geom`` key raises ValueError —
    rebuild it with region_cover(). Unlike the batch path there is no
    geometry clustering sort (Spark disallows sorts on unaggregated
    streams); pip_udf groups by geometry WITHIN each Arrow batch, so
    correctness is unchanged and the per-ring setup cost is paid per
    (batch, geometry) instead of per run.

    ``watermark``: when downstream does windowed aggregation, set the
    watermark HERE, before the join — the watermark node tracks max
    event time where it sits in the plan, so points that miss every
    polygon still advance it; applied after the join, a miss-heavy
    stream (the common case) would stall window finalization."""
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    cov = regions if "cell" in regions.columns else region_cover(regions, level)
    pts = stream.withColumn(
        "cell", cell_encode_udf(F.col("lat"), F.col("lon"), level))
    hit = _pip_residual(pts.join(F.broadcast(cov), "cell"))
    # extra point columns (e.g. a measurement value for
    # windowed_poly_stats) ride the per-batch join for free, same as the
    # batch operator's keep_point_cols
    return hit.select(point_id, "ts", "poly_id", *(keep_point_cols or []))


def foreach_batch_spatial_join(stream: DataFrame, regions: DataFrame, *,
                               sink, point_id: str = "point_id",
                               level: int = DEFAULT_LEVEL,
                               keep_point_cols: list[str] | None = None,
                               **spatial_join_kwargs):
    """Continental-scale fallback (VERDICT r4 #5): when the polygon
    cover exceeds BROADCAST_MAX_COVER_ROWS, the stream-static broadcast
    join of spatial_join_stream is off the table — instead run the full
    BATCH operator (size guard, salted cell-SMJ path, AQE skew handling
    and all) on each micro-batch via foreachBatch.

    ``sink(result_df, batch_id)`` receives the exact (point_id, ts,
    poly_id[, keep_point_cols]) pairs for each micro-batch — write them
    to a table, metrics, etc. Returns the DataStreamWriter (caller adds
    trigger/checkpoint options and .start()s it).

    Latency trade, stated: the batch operator runs its cover-estimate
    guard and (on the SMJ path) a hot-key pre-pass PER TRIGGER, so this
    is for big micro-batches against continental vector sides, not
    low-latency small triggers — there, shrink the vector side or raise
    the level so the broadcast path fits."""
    from ..operators.spatial_join import spatial_join

    ts_cols = [c for c in ("ts",) if c in stream.columns]

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        out = spatial_join(batch_df, regions, point_id=point_id,
                           level=level,
                           keep_point_cols=ts_cols + (keep_point_cols or []),
                           **spatial_join_kwargs)
        cols = [point_id, *ts_cols, "poly_id", *(keep_point_cols or [])]
        sink(out.select(*cols), batch_id)

    return stream.writeStream.foreachBatch(_fb)


def windowed_poly_stats(pairs: DataFrame, value_col: str,
                        window: str = "10 minutes",
                        watermark: str | None = None) -> DataFrame:
    """Streaming zonal statistics: per-polygon tumbling-window value
    aggregation (n, sum, mean, min, max) — the live counterpart of
    operators/zonal.zonal_stats. Build the pairs stream with
    spatial_join_stream(..., watermark=..., keep_point_cols=[value_col]);
    state stays O(windows × polygons) because the aggregates fold
    incrementally."""
    if watermark is not None:
        pairs = pairs.withWatermark("ts", watermark)
    return (pairs
            .groupBy(F.window("ts", window).alias("win"), "poly_id")
            .agg(F.count("*").alias("n"),
                 F.sum(value_col).alias("sum"),
                 F.avg(value_col).alias("mean"),
                 F.min(value_col).alias("min"),
                 F.max(value_col).alias("max"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "poly_id", "n", "sum", "mean", "min", "max"))


def windowed_poly_counts(pairs: DataFrame, window: str = "10 minutes",
                         watermark: str | None = None) -> DataFrame:
    """S3 over the joined stream: per-polygon tumbling-window hit counts
    with late-data handling; state is O(windows × polygons). Pass the
    watermark to spatial_join_stream (pre-join) rather than here —
    ``watermark`` exists for pairs streams built without one."""
    if watermark is not None:
        pairs = pairs.withWatermark("ts", watermark)
    return (pairs
            .groupBy(F.window("ts", window).alias("win"), "poly_id")
            .agg(F.count("*").alias("n_points"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "poly_id", "n_points"))
