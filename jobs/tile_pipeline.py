"""EP-3: the full spatial-join + tiling pipeline (SURVEY.md §3.2), the
north-rule benchmark job (BASELINE.json:14): runs via

    spark-submit --py-files geopy_spark.zip jobs/tile_pipeline.py \
        --input <images.parquet> --output <icetab dir> [--resume] ...

Stages: scan images → qcell encode (G1) → spatial join vs polygon fixture
(G6) → web-mercator tile assignment at z_max with Arrow-UDF payload decode
(G8/I1) → tile pyramid levels z_max..0 (G9), each level one atomic icetab
snapshot (G11) with per-partition lineage rows; --resume skips partitions
already committed, so a killed job restarts at the last snapshot.

Scale notes: the join broadcasts the exploded polygon cover (small vector
side); image `bytes` never enters a shuffle — decode happens in a narrow
map stage before the tile groupBy, which aggregates only (tile, cnt, mean).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geopy_spark import synth  # noqa: E402
from geopy_spark.entry_queries import _REGIONS_SCHEMA  # noqa: E402
from geopy_spark.operators.images import decode_mean_udf  # noqa: E402
from geopy_spark.operators.spatial_join import spatial_join  # noqa: E402
from geopy_spark.operators.tiling import tile_stats  # noqa: E402
from geopy_spark.session import get_spark  # noqa: E402
from geopy_spark.sources.tableio import open_table  # noqa: E402


def build_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="images parquet path")
    ap.add_argument("--output", required=True, help="icetab output table dir")
    ap.add_argument("--level", type=int, default=7, help="qcell join level")
    ap.add_argument("--zmax", type=int, default=8)
    ap.add_argument("--n-polys", type=int, default=48)
    ap.add_argument("--broadcast-regions", choices=["auto", "always", "never"],
                    default="auto",
                    help="spatial-join strategy: 'auto' runs the cover-size "
                         "guard (one extra driver job estimating the exploded "
                         "cover; OOM-safe for arbitrary region tables), "
                         "'always' skips it and broadcasts directly — correct "
                         "choice when --n-polys is known-small, e.g. the "
                         "scaling-bench fixture, where the guard job is pure "
                         "constant tail on the N→4N ratio")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--decode", action="store_true",
                    help="decode payloads for per-tile mean-pixel stat")
    ap.add_argument("--georef", choices=["table", "tiff"], default="table",
                    help="position source: 'table' uses the input's lat/lon "
                         "columns; 'tiff' reads each payload's embedded "
                         "GeoTIFF 1.1 tags (ModelTiepoint/PixelScale + "
                         "GeoKeys) in a narrow header-parse stage — rows "
                         "without geographic geo tags are counted and "
                         "dropped, never silently mis-placed")
    ap.add_argument("--verify", action="store_true",
                    help="payload invariant stage: transcode->PSNR>=40dB + "
                         "stored-vs-recomputed phash (BASELINE.json:15)")
    ap.add_argument("--verify-sample", type=int, default=1,
                    help="1-in-k deterministic sample for the encode-decode "
                         "ROUNDTRIP checks (PSNR bound, lossless exactness — "
                         "code properties identical for every row); the "
                         "per-row DATA checks (phash vs stored, caption "
                         "digest) always run on every row. Sampled count is "
                         "reported as n_roundtrip. Default 1 = full.")
    ap.add_argument("--fail-after", default=None,
                    help="fault injection: kill after committing this partition")
    return ap.parse_args(argv)


def run(args, spark=None, stop_session: bool = True) -> dict:
    own_spark = spark is None
    if own_spark:
        spark = get_spark("tile_pipeline", cores=args.cores,
                          shuffle_partitions=args.shuffle_partitions)
    t0 = time.monotonic()
    run_id = uuid.uuid4().hex[:12]
    table = open_table(args.output)  # TableIO seam (SURVEY §4.2)
    committed = table.committed_partitions() if args.resume else set()
    if not args.resume and table.current_version() > 0:
        raise SystemExit(f"{args.output} already has snapshots; pass --resume")

    # a resume with different job parameters would silently mix outputs —
    # record the parameter fingerprint in table properties and refuse drift
    params = {"level": args.level, "zmax": args.zmax, "n_polys": args.n_polys,
              "decode": args.decode, "input": os.path.abspath(args.input),
              "georef": args.georef, "layout": 2}
    prev = table.properties()
    if prev and isinstance(prev.get("params"), dict):
        # tables written before round 5 stored no 'georef' key; its
        # absence means the then-only behavior, 'table' — keep --resume
        # working on them instead of forcing a rebuild
        prev["params"].setdefault("georef", "table")
    if args.resume and prev and prev.get("params") != params:
        raise SystemExit(f"--resume parameter mismatch: table was written with "
                         f"{prev.get('params')}, got {params}")
    table.set_properties({"params": params})

    images = spark.read.parquet(args.input)
    n_images = images.count()

    # --georef tiff: every downstream stage (join, tile assignment) keys on
    # lat/lon, so swap the table columns for the payload's own GeoTIFF
    # georeferencing here, once — a narrow header-parse map (no strip
    # decode). Rows without geographic geo tags are dropped with a count.
    if args.georef == "tiff":
        from geopy_spark.operators.images import geotiff_georef_udf
        images = (images
                  .drop("lat", "lon")
                  .withColumn("_g", geotiff_georef_udf(F.col("bytes")))
                  .withColumn("lat", F.col("_g.lat"))
                  .withColumn("lon", F.col("_g.lon"))
                  .drop("_g"))
        n_georef = images.filter(F.col("lat").isNotNull()).count()
        if n_georef < n_images:
            print(f"georef=tiff: {n_images - n_georef}/{n_images} payloads "
                  f"lack geographic GeoTIFF tags — dropped", flush=True)
        images = images.filter(F.col("lat").isNotNull())
        n_images = n_georef

    planned = (["join_pairs"] + (["digests", "verify"] if args.verify else [])
               + [f"z={z}" for z in range(args.zmax, -1, -1)])

    # ---- stage 0 (optional): per-payload invariant verification (I1-I6) —
    # first snapshot the ingest caption digests (40-byte rows), then one
    # narrow mapInPandas pass checks PSNR / lossless roundtrip / phash and
    # byte-compares sha2(caption) against the digest snapshot (I6) — a
    # corrupted caption between ingest and verify now fails the gate
    if args.verify:
        from geopy_spark.operators.images import (caption_digests,
                                                  verify_payload_invariants)
        if "digests" not in committed:
            table.commit([table.write_partition(caption_digests(images),
                                                "digests")], run_id)
            _maybe_fail(args, "digests")
        if "verify" not in committed:
            dig = table.read_partition(spark, "digests")
            # digests broadcast while they fit (~40B/row); beyond that the
            # 100 TB deployment buckets both sides by image_id so this join
            # is co-partitioned and the payload side still never shuffles
            if n_images <= 5_000_000:
                dig = F.broadcast(dig)
            chk = (verify_payload_invariants(
                       images, digests=dig,
                       roundtrip_sample=args.verify_sample)
                   .agg(F.sum("n").alias("n"),
                        F.sum("n_roundtrip").alias("n_roundtrip"),
                        F.min("min_psnr").alias("min_psnr"),
                        F.sum("n_psnr_bad").alias("n_psnr_bad"),
                        F.sum("n_phash_bad").alias("n_phash_bad"),
                        F.sum("n_caption_bad").alias("n_caption_bad"),
                        F.sum("n_lossless_bad").alias("n_lossless_bad")))
            table.commit([table.write_partition(chk, "verify")], run_id)
            bad = table.read_partition(spark, "verify").first()
            if (bad.n_psnr_bad or bad.n_phash_bad or bad.n_caption_bad
                    or bad.n_lossless_bad):
                raise SystemExit(f"payload invariant violated: {bad}")
            if bad.n_roundtrip < bad.n:
                print(f"verify: roundtrip checks sampled {bad.n_roundtrip}/"
                      f"{bad.n} rows (--verify-sample); data checks "
                      f"(phash, caption digest) covered all rows", flush=True)
            _maybe_fail(args, "verify")

    # ---- stage 1: spatial join (G6) — its own snapshot
    if "join_pairs" not in committed:
        regions = spark.createDataFrame(
            synth.polygons_pdf(synth.oracle_polygons(args.n_polys, seed=7)),
            schema=_REGIONS_SCHEMA)
        pts = images.select(F.col("image_id").alias("point_id"), "lat", "lon")
        bcast = {"auto": None, "always": True,
                 "never": False}[args.broadcast_regions]
        pairs = (spatial_join(pts, regions, point_id="point_id",
                              level=args.level, broadcast_regions=bcast)
                 .withColumnRenamed("point_id", "image_id")
                 .sortWithinPartitions("image_id", "poly_id"))
        table.commit([table.write_partition(pairs, "join_pairs")], run_id)
        _maybe_fail(args, "join_pairs")

    # ---- stage 2: leaf tiles at z_max (G8, + I1 decode when --decode)
    leaf_part = f"z={args.zmax}"
    base = images
    if args.decode:
        base = base.withColumn("mv", decode_mean_udf(
            F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h")))
        leaf = tile_stats(base.select("lat", "lon", "mv"), args.zmax, value_col="mv")
    else:
        leaf = tile_stats(base.select("lat", "lon"), args.zmax)
        leaf = leaf.withColumn("mean_val", F.lit(None).cast("double"))

    if leaf_part not in committed:
        out = leaf.coalesce(max(1, args.cores // 2)).sortWithinPartitions("x", "y")
        # x/y-sorted files + per-file bounds in the manifest: a later
        # tile-window read prunes to the files whose x range overlaps
        table.commit([table.write_partition(out, leaf_part,
                                            stats_cols=["x", "y"])], run_id)
        _maybe_fail(args, leaf_part)

    # ---- stage 3: pyramid levels z_max-1..0 (G9) — computed from the
    # COMMITTED leaf partition and written partitioned-by-z in ONE job +
    # ONE atomic snapshot (per-z lineage rows preserved). N sequential
    # per-level jobs measured ~1s fixed cost each — pure anti-scale.
    if any(f"z={z}" not in committed for z in range(args.zmax)):
        from geopy_spark.operators.tiling import tile_pyramid
        leaf_committed = table.read_partition(spark, leaf_part)
        pyr = tile_pyramid(leaf_committed, z_max=args.zmax, z_min=0, has_mean=True)
        pyr = pyr.filter(F.col("z") < args.zmax)  # leaf already committed
        table.commit(table.write_partitioned(pyr, "z", stats_cols=["x", "y"]), run_id)
        _maybe_fail(args, "pyramid")

    wall = time.monotonic() - t0
    result = {
        "run_id": run_id,
        "rows_in": n_images,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_images / wall, 1),
        "snapshots": table.current_version(),
        "partitions": len(table.committed_partitions()),
        "planned": len(planned),
    }
    if own_spark and stop_session:
        spark.stop()
    return result


def _maybe_fail(args, partition: str) -> None:
    if args.fail_after == partition:
        print(f"FAULT-INJECT: exiting after committing {partition}", flush=True)
        os._exit(42)


if __name__ == "__main__":
    print(json.dumps(run(build_args(), stop_session=False)), flush=True)
    # skip JVM/python-daemon teardown: spark.stop() was observed to hang
    # for tens of minutes in local mode after heavy Arrow-UDF stages; all
    # table state is already durably committed (rename-as-commit)
    os._exit(0)
