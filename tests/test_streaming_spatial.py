"""Streaming spatial join (streaming/spatial — S1+S3 composed with
G4/G5/G6): a file stream of timestamped points joined against a static
polygon table (holes included), pinned pair-for-pair against the batch
spatial_join operator, plus windowed per-polygon counts with watermark
finalization across micro-batches."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.operators.spatial_join import spatial_join
from geopy_spark.streaming import events as S
from geopy_spark.streaming import spatial as SS

LEVEL = 6


@pytest.fixture(scope="module")
def regions_pdf():
    # holed fixture: at least one polygon carries an interior ring, so the
    # stream path exercises outer-minus-hole containment too
    return synth.polygons_pdf(synth.oracle_polygons_holed(12, seed=7))


@pytest.fixture(scope="module")
def regions(spark, regions_pdf):
    return spark.createDataFrame(regions_pdf, schema=_REGIONS_SCHEMA)


def _point_rows(regions_pdf, start_id, n, t0):
    """Deterministic points seeded around polygon bbox centers (mostly
    hits) plus far-away misses, timestamped 1s apart from t0."""
    base = pd.Timestamp(t0)
    rows = []
    for i in range(n):
        r = regions_pdf.iloc[i % len(regions_pdf)]
        if i % 3 == 2:   # guaranteed miss: outside every clipped bbox
            lat, lon = 75.0 + (i % 10) * 0.1, 10.0 + i
        else:            # bbox center — usually a hit, sometimes the hole
            lat = float((r.lat_min + r.lat_max) / 2)
            lon = float((r.lon_min + r.lon_max) / 2)
        rows.append((start_id + i, base + pd.Timedelta(seconds=i), lat, lon))
    return pd.DataFrame(rows, columns=["point_id", "ts", "lat", "lon"])


def _write_file(pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("point_id", pa.int64()),
                        ("ts", pa.timestamp("us")),
                        ("lat", pa.float64()), ("lon", pa.float64())])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), str(path))


def test_stream_pairs_match_batch_spatial_join(spark, tmp_path, regions_pdf,
                                               regions):
    """Two micro-batches of points through the stream path must produce
    exactly the batch G6 operator's (point_id, poly_id) pairs."""
    b0 = _point_rows(regions_pdf, 0, 18, "2026-01-01 00:00:00")
    b1 = _point_rows(regions_pdf, 100, 18, "2026-01-01 00:05:00")
    src = tmp_path / "src"
    src.mkdir()
    _write_file(b0, src / "b0.parquet")
    _write_file(b1, src / "b1.parquet")

    out = SS.spatial_join_stream(
        SS.point_stream_source(spark, str(src), max_files_per_trigger=1),
        regions, level=LEVEL)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    S.run_available_now(out, ckpt, sink)
    streamed = {(r.point_id, r.poly_id)
                for r in spark.read.parquet(sink).collect()}

    all_pts = spark.createDataFrame(pd.concat([b0, b1], ignore_index=True))
    batch = {(r.point_id, r.poly_id)
             for r in spatial_join(all_pts, regions, point_id="point_id",
                                   level=LEVEL, broadcast_regions=True)
             .collect()}
    assert streamed == batch and len(batch) > 0


def test_windowed_poly_counts_finalize_across_batches(spark, tmp_path,
                                                      regions_pdf, regions):
    """Windowed counts in append mode: only watermark-finalized windows
    land in the sink, and their counts equal a batch twin computed with
    the same window expression over the batch join result."""
    b0 = _point_rows(regions_pdf, 0, 18, "2026-01-01 00:00:00")
    b1 = _point_rows(regions_pdf, 100, 18, "2026-01-01 00:12:00")
    # watermark flusher: one far-future miss row advances the watermark
    # past both data windows; its own window stays unflushed by design
    flush = _point_rows(regions_pdf, 900, 1, "2026-01-01 06:00:00")
    src = tmp_path / "src"
    src.mkdir()
    _write_file(b0, src / "b0.parquet")
    _write_file(b1, src / "b1.parquet")
    _write_file(flush, src / "b2.parquet")

    joined = SS.spatial_join_stream(
        SS.point_stream_source(spark, str(src), max_files_per_trigger=1),
        regions, level=LEVEL, watermark="30 minutes")
    out = SS.windowed_poly_counts(joined, window="10 minutes")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    S.run_available_now(out, ckpt, sink)
    # append-mode emission lags one batch behind the watermark update:
    # the flusher raised the watermark at the END of the last drained
    # batch, so the finalized windows land in the next batch — a restart
    # from the same checkpoint (one more miss row as its data) drains
    # them, which also pins exactly-once across restart
    _write_file(_point_rows(regions_pdf, 901, 1, "2026-01-01 06:01:00"),
                src / "b3.parquet")
    S.run_available_now(out, ckpt, sink)
    got = {(str(r.win_start), r.poly_id): r.n_points
           for r in spark.read.parquet(sink).collect()}

    all_pts = spark.createDataFrame(
        pd.concat([b0, b1, flush], ignore_index=True))
    pairs = spatial_join(all_pts, regions, point_id="point_id", level=LEVEL,
                         broadcast_regions=True)
    twin_rows = (pairs.join(all_pts.select("point_id", "ts"), "point_id")
                 .groupBy(F.window("ts", "10 minutes").alias("win"), "poly_id")
                 .agg(F.count("*").alias("n_points"))
                 .select(F.col("win.start").alias("win_start"), "poly_id",
                         "n_points")
                 .collect())
    # batch twin restricted to windows the watermark finalized (everything
    # before the flusher's event time minus the 30-minute delay)
    horizon = pd.Timestamp("2026-01-01 05:30:00")
    twin = {(str(r.win_start), r.poly_id): r.n_points for r in twin_rows
            if pd.Timestamp(r.win_start) < horizon}
    assert got == twin and len(twin) >= 2


def test_windowed_poly_stats_match_batch_zonal_twin(spark, tmp_path,
                                                    regions_pdf, regions):
    """Streaming zonal stats (value column riding the per-batch join via
    keep_point_cols) must equal the batch zonal aggregation restricted
    to watermark-finalized windows."""
    from pyspark.sql.types import DoubleType, StructField, StructType
    from geopy_spark.streaming.spatial import (POINT_STREAM_SCHEMA,
                                               windowed_poly_stats)

    b0 = _point_rows(regions_pdf, 0, 18, "2026-01-01 00:00:00")
    b1 = _point_rows(regions_pdf, 100, 18, "2026-01-01 00:12:00")
    flush = _point_rows(regions_pdf, 900, 1, "2026-01-01 06:00:00")
    for b in (b0, b1, flush):
        b["value"] = (b["point_id"] % 13).astype(float)
    src = tmp_path / "src"
    src.mkdir()
    schema = StructType(POINT_STREAM_SCHEMA.fields
                        + [StructField("value", DoubleType())])
    import pyarrow as pa
    import pyarrow.parquet as pq
    pa_schema = pa.schema([("point_id", pa.int64()),
                           ("ts", pa.timestamp("us")),
                           ("lat", pa.float64()), ("lon", pa.float64()),
                           ("value", pa.float64())])
    for i, b in enumerate((b0, b1, flush)):
        pq.write_table(pa.Table.from_pandas(b, schema=pa_schema,
                                            preserve_index=False),
                       str(src / f"b{i}.parquet"))

    joined = SS.spatial_join_stream(
        SS.point_stream_source(spark, str(src), max_files_per_trigger=1,
                               schema=schema),
        regions, level=LEVEL, watermark="30 minutes",
        keep_point_cols=["value"])
    out = windowed_poly_stats(joined, "value", window="10 minutes")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    S.run_available_now(out, ckpt, sink)
    _write_file(_point_rows(regions_pdf, 901, 1, "2026-01-01 06:01:00"),
                src / "b9.parquet")  # restart drain flushes (see above)
    S.run_available_now(out, ckpt, sink)
    got = {(str(r.win_start), r.poly_id):
           (r.n, round(r["sum"], 9), round(r["mean"], 9),
            r["min"], r["max"])
           for r in spark.read.parquet(sink).collect()}

    all_pts = spark.createDataFrame(
        pd.concat([b0, b1, flush], ignore_index=True))
    pairs = spatial_join(all_pts, regions, point_id="point_id", level=LEVEL,
                         broadcast_regions=True, keep_point_cols=["value"])
    twin_rows = (pairs.join(all_pts.select("point_id", "ts"), "point_id")
                 .groupBy(F.window("ts", "10 minutes").alias("win"),
                          "poly_id")
                 .agg(F.count("*").alias("n"), F.sum("value").alias("sum"),
                      F.avg("value").alias("mean"),
                      F.min("value").alias("min"),
                      F.max("value").alias("max"))
                 .select(F.col("win.start").alias("win_start"), "poly_id",
                         "n", "sum", "mean", "min", "max")
                 .collect())
    horizon = pd.Timestamp("2026-01-01 05:30:00")
    twin = {(str(r.win_start), r.poly_id):
            (r.n, round(r["sum"], 9), round(r["mean"], 9),
             r["min"], r["max"])
            for r in twin_rows if pd.Timestamp(r.win_start) < horizon}
    assert got == twin and len(twin) >= 2


def test_foreach_batch_fallback_matches_batch(spark, tmp_path, regions_pdf,
                                              regions, monkeypatch):
    """Continental-scale fallback (VERDICT r4 #5): with the cover forced
    past the broadcast ceiling, foreach_batch_spatial_join runs the BATCH
    operator per micro-batch on its salted cell-SMJ path — the full cover
    is never broadcast (witnessed by the salted_join spy; the broadcast
    path never calls it) — and the union over micro-batches equals the
    batch G6 pairs."""
    import geopy_spark.operators.spatial_join as SJ
    from geopy_spark.operators import skew

    monkeypatch.setattr(SJ, "BROADCAST_MAX_ROWS", 0)
    salted_calls = []
    orig_salted = skew.salted_join

    def spy(*a, **k):
        salted_calls.append(1)
        return orig_salted(*a, **k)
    monkeypatch.setattr(skew, "salted_join", spy)

    b0 = _point_rows(regions_pdf, 0, 18, "2026-01-01 00:00:00")
    b1 = _point_rows(regions_pdf, 100, 18, "2026-01-01 00:05:00")
    src = tmp_path / "src"
    src.mkdir()
    _write_file(b0, src / "b0.parquet")
    _write_file(b1, src / "b1.parquet")

    got = set()

    def sink(df, batch_id):
        for r in df.collect():
            got.add((r.point_id, r.poly_id))

    writer = SS.foreach_batch_spatial_join(
        SS.point_stream_source(spark, str(src), max_files_per_trigger=1),
        regions, sink=sink, level=LEVEL)
    q = (writer.trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination()

    assert len(salted_calls) >= 2          # SMJ path, once per micro-batch
    all_pts = spark.createDataFrame(pd.concat([b0, b1], ignore_index=True))
    batch = {(r.point_id, r.poly_id)
             for r in spatial_join(all_pts, regions, point_id="point_id",
                                   level=LEVEL, broadcast_regions=True)
             .collect()}
    assert got == batch and len(batch) > 0
