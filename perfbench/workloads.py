"""The benchmark's three workloads: seeded inputs, brute-force numpy
twins, and the operator calls each iteration makes.

Inputs are made with numpy and pyarrow only, so no generator JVM is
alive when timing starts. Every workload is a closed loop with one
client: an iteration calls its operators one after another and consumes
each result in full before the next call.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.kernels import codecs
from geopy_spark.kernels import pip as P
from geopy_spark.kernels.geodesy import EARTH_RADIUS_M
from geopy_spark.operators.clustering import dbscan
from geopy_spark.operators.knn import knn_join
from geopy_spark.operators.spatial_join import spatial_join
from geopy_spark.operators.tiling import tile_pyramid, tile_stats
from geopy_spark.operators.zonal import zonal_stats
from geopy_spark.sources.tableio import ParquetSnapshotIO, open_table
from jobs.tile_pipeline import build_args, run as run_tile_pipeline

# the bench fixture: 48 polygons at the fixture seed; points vary by seed
POLY_SEED = 7
N_POLYS = 48
TWIN_SAMPLE = 32  # queries / points checked exhaustively on proximity
NOTHING_WRITTEN = {"bytes_written": 0, "files_written": 0}


@dataclass
class Op:
    """One operator call and the action that consumes its result.

    ``verify`` compares a result with the twin and returns the problems
    found; ``digest`` is an order-insensitive fingerprint that every
    later iteration must reproduce."""
    name: str
    call: Callable[[], Any]
    action: Callable[[Any], Any]
    verify: Callable[[Any], list[str]]
    digest: Callable[[Any], Any]
    release: Callable[[Any], None] = field(default=lambda out: None)


def table_digest(tab: pa.Table) -> tuple[int, int]:
    """(rows, sum of per-row hashes) — independent of row order."""
    pdf = tab.to_pandas()
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy(np.uint64)
    return len(pdf), int(h.sum(dtype=np.uint64))


def to_arrow(df) -> pa.Table:
    return df.toArrow()


def seeded_points(n: int, seed: int) -> pd.DataFrame:
    """Uniform points over lat [-60, 60], lon [-180, 180), rounded to 3
    decimals like the fixtures (polygon vertices carry 6-decimal offsets,
    so no point lies on an edge)."""
    rng = np.random.default_rng(seed)
    lat = np.round(rng.uniform(-60.0, 60.0, n), 3)
    lon = np.round(rng.uniform(-180.0, 180.0, n), 3)
    lon[lon >= 180.0] -= 360.0
    return pd.DataFrame({"id": np.arange(n, dtype=np.int64),
                         "lat": lat, "lon": lon})


def polygon_pairs(lat: np.ndarray, lon: np.ndarray, polys) -> tuple[np.ndarray, np.ndarray, float, int]:
    """Brute-force (point index, poly_id) containment pairs: a bbox
    prune then the PIP kernel per polygon. Also returns the seconds spent
    in the kernel and the rows it tested."""
    idx_out, pid_out = [], []
    pip_s, pip_rows = 0.0, 0
    for poly in polys:
        pid, ring = poly[0], np.asarray(poly[1], dtype=np.float64)
        holes = [np.asarray(h, dtype=np.float64) for h in (poly[2] if len(poly) > 2 else [])]
        cand = np.flatnonzero((lat >= ring[:, 0].min()) & (lat <= ring[:, 0].max())
                              & (lon >= ring[:, 1].min()) & (lon <= ring[:, 1].max()))
        t0 = time.perf_counter()
        hit = P.points_in_polygon(lat[cand], lon[cand], ring, holes=holes)
        pip_s += time.perf_counter() - t0
        pip_rows += cand.size
        idx_out.append(cand[hit])
        pid_out.append(np.full(int(hit.sum()), pid, dtype=np.int64))
    return np.concatenate(idx_out), np.concatenate(pid_out), pip_s, pip_rows


def pip_us_per_row(lat, lon, polys, reps: int = 3) -> float:
    """kernels.pip cost per tested row over this workload's candidates."""
    runs = []
    for _ in range(reps):
        _, _, s, rows = polygon_pairs(lat, lon, polys)
        runs.append(1e6 * s / max(rows, 1))
    return float(np.median(runs))


def haversine_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    la1, lo1, la2, lo2 = (np.radians(np.asarray(v, dtype=np.float64))
                          for v in (lat1, lon1, lat2, lon2))
    a = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def tile_xy(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Web-Mercator tile of each point at zoom z."""
    n = float(2 ** z)
    lon = np.mod(lon + 180.0, 360.0) - 180.0
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    la = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    merc = np.log(np.tan(la) + 1.0 / np.cos(la))
    y = np.clip(np.floor((1.0 - merc / np.pi) / 2.0 * n), 0, n - 1).astype(np.int64)
    return x, y


def read_inputs(spark, path: str, rows: int):
    """Read a generated input and count it: set-up ends with one Spark job
    run on the fresh session."""
    df = spark.read.parquet(path)
    n = df.count()
    if n != rows:
        raise RuntimeError(f"{path}: read {n} rows, wrote {rows}")
    return df


def _mismatch(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, want {want!r}"]


# ------------------------------------------------------------- pip_tiling

class PipTiling:
    """Uniform points against 48 holed polygons at cell level 7 with a
    broadcast cover: spatial_join, zonal_stats, then tile_stats(z=8) and
    tile_pyramid down to z=0."""

    name = "pip_tiling"
    written = NOTHING_WRITTEN
    LEVEL, ZMAX = 7, 8

    def __init__(self, seed: int, work: str, scale: float):
        self.n = max(2000, int(300_000 * scale))
        self.rows = self.n
        pts = seeded_points(self.n, seed)
        pts["value"] = (pts["id"] % 97).astype(np.float64)
        self.path = os.path.join(work, "points.parquet")
        pq.write_table(pa.Table.from_pandas(pts, preserve_index=False), self.path)
        self.polys = synth.oracle_polygons_holed(N_POLYS, seed=POLY_SEED)
        lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
        self.lat, self.lon = lat, lon
        idx, pid, _, _ = polygon_pairs(lat, lon, self.polys)
        self.pairs = np.sort(idx.astype(np.int64) * 1024 + pid)
        zs = (pd.DataFrame({"poly_id": pid, "v": pts["value"].to_numpy()[idx]})
              .groupby("poly_id")["v"].agg(["count", "sum", "min", "max"]))
        self.zonal = {int(k): (int(r["count"]), float(r["sum"]), float(r["min"]),
                               float(r["max"]))
                      for k, r in zs.iterrows()}
        x, y = tile_xy(lat, lon, self.ZMAX)
        self.tiles_per_level = {
            z: int(np.unique(((x >> (self.ZMAX - z)) << 32)
                             | (y >> (self.ZMAX - z))).size)
            for z in range(self.ZMAX + 1)}

    def kernel_metrics(self) -> dict:
        return {"kernels.pip.us_per_row": pip_us_per_row(self.lat, self.lon, self.polys)}

    def _check_pairs(self, tab) -> list[str]:
        got = np.sort(tab.column("point_id").to_numpy().astype(np.int64) * 1024
                      + tab.column("poly_id").to_numpy())
        if got.size == self.pairs.size and np.array_equal(got, self.pairs):
            return []
        return [f"spatial_join: {got.size} pairs, twin has {self.pairs.size} "
                f"({np.setxor1d(got, self.pairs).size} differ)"]

    def _check_zonal(self, tab) -> list[str]:
        got = {int(r["poly_id"]): (int(r["n"]), float(r["sum"]), float(r["min"]),
                                   float(r["max"]))
               for r in tab.to_pylist()}
        return _mismatch("zonal_stats", got, self.zonal)

    def _check_tiles(self, tab) -> list[str]:
        pdf = tab.to_pandas()
        per_z = pdf.groupby("z").agg(tiles=("cnt", "size"), cnt=("cnt", "sum"))
        got = {int(z): int(r.tiles) for z, r in per_z.iterrows()}
        errs = _mismatch("tile_pyramid tiles per level", got, self.tiles_per_level)
        bad = [int(z) for z, r in per_z.iterrows() if int(r.cnt) != self.n]
        if bad:
            errs.append(f"tile_pyramid: levels {bad} do not sum to {self.n}")
        return errs

    def load(self, spark) -> list[Op]:
        pts = read_inputs(spark, self.path, self.n).withColumnRenamed("id", "point_id")
        regions = spark.createDataFrame(synth.polygons_pdf(self.polys),
                                        schema=_REGIONS_SCHEMA)
        return [
            Op("spatial_join",
               lambda: spatial_join(pts.select("point_id", "lat", "lon"), regions,
                                    point_id="point_id", level=self.LEVEL,
                                    broadcast_regions=True),
               to_arrow, self._check_pairs, table_digest),
            Op("zonal_stats",
               lambda: zonal_stats(pts, regions, value_col="value",
                                   point_id="point_id", level=self.LEVEL,
                                   broadcast_regions=True),
               to_arrow, self._check_zonal, table_digest),
            Op("tile_pyramid",
               lambda: tile_pyramid(tile_stats(pts.select("lat", "lon"), z=self.ZMAX),
                                    z_max=self.ZMAX, z_min=0),
               to_arrow, self._check_tiles, table_digest),
        ]


# -------------------------------------------------------------- proximity

class Proximity:
    """Seeded queries (half in three hotspot boxes) over uniform points:
    knn_join(k=10, level=8) and dbscan(50 km, 4, level=8) on a 1/7 sample
    of the points. dbscan's eps pairs come from within_distance_join, so
    that operator runs here too."""

    name = "proximity"
    written = NOTHING_WRITTEN
    K, EPS_M, MIN_PTS = 10, 50_000.0, 4

    def __init__(self, seed: int, work: str, scale: float):
        self.n = max(2000, int(60_000 * scale))
        self.nq = max(100, int(1_000 * scale))
        self.rows = self.n
        pts = seeded_points(self.n, seed)
        qs = synth.make_knn_queries_pdf(self.nq, seed=seed)
        self.pts_path = os.path.join(work, "points.parquet")
        self.q_path = os.path.join(work, "queries.parquet")
        pq.write_table(pa.Table.from_pandas(pts, preserve_index=False), self.pts_path)
        pq.write_table(pa.Table.from_pandas(qs, preserve_index=False), self.q_path)

        rng = np.random.default_rng(seed + 1)
        plat, plon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
        ids = pts["id"].to_numpy()
        self.plat, self.plon = plat, plon
        self.q_lat, self.q_lon = qs["lat"].to_numpy(), qs["lon"].to_numpy()
        self.sample_q = np.sort(rng.choice(self.nq, TWIN_SAMPLE, replace=False))
        self.knn_d = {}
        for q in self.sample_q:
            d = haversine_np(qs["lat"][q], qs["lon"][q], plat, plon)
            self.knn_d[int(q)] = d[np.lexsort((ids, d))[:self.K]]
        sub = ids % 7 == 0
        self.n_sub = int(sub.sum())
        sids = ids[sub]
        self.sample_p = np.sort(rng.choice(sids, TWIN_SAMPLE, replace=False))
        self.neighbors = {
            int(p): int((haversine_np(plat[p], plon[p], plat[sub], plon[sub])
                         <= self.EPS_M).sum())
            for p in self.sample_p}

    def kernel_metrics(self) -> dict:
        return {}

    def _check_knn(self, tab) -> list[str]:
        pdf = tab.to_pandas()
        errs = _mismatch("knn_join rows", len(pdf), self.nq * self.K)
        for q, want in self.knn_d.items():
            nb = pdf[pdf.query_id == q].sort_values("rank")["neighbor_id"].to_numpy()
            d = np.sort(haversine_np(self.q_lat[q], self.q_lon[q],
                                     self.plat[nb], self.plon[nb]))
            if d.size != want.size or not np.allclose(d, want, rtol=0, atol=1e-6):
                errs.append(f"knn_join: query {q} distances differ from twin")
        return errs

    def _check_dbscan(self, tab) -> list[str]:
        pdf = tab.to_pandas().set_index("id")
        errs = _mismatch("dbscan rows", len(pdf), self.n_sub)
        got = {p: int(pdf.at[p, "n_neighbors"]) for p in self.neighbors}
        errs += _mismatch("dbscan n_neighbors", got, self.neighbors)
        core = pdf["is_core"].to_numpy() == (pdf["n_neighbors"].to_numpy() >= self.MIN_PTS)
        if not core.all():
            errs.append("dbscan: is_core disagrees with n_neighbors")
        return errs

    def load(self, spark) -> list[Op]:
        pts = read_inputs(spark, self.pts_path, self.n)
        qs = read_inputs(spark, self.q_path, self.nq)
        sample = pts.filter(pts.id % 7 == 0)
        return [
            Op("knn_join",
               lambda: knn_join(qs, pts, k=self.K, level=8, point_id="id"),
               to_arrow, self._check_knn, table_digest),
            Op("dbscan",
               lambda: dbscan(sample, self.EPS_M, self.MIN_PTS, level=8,
                              point_id="id"),
               to_arrow, self._check_dbscan, table_digest),
        ]


# ------------------------------------------------------------ tile_ingest

class TileIngest:
    """jobs/tile_pipeline.run in-process over generated images (20% in
    three hotspot boxes), with payload decode and the salted join path
    (--broadcast-regions never); each iteration commits a fresh table."""

    name = "tile_ingest"
    written = NOTHING_WRITTEN
    ZMAX = 8

    def __init__(self, seed: int, work: str, scale: float):
        self.n = max(200, int(4_000 * scale))
        self.rows = self.n
        self.work = work
        imgs = synth.make_images_pdf(self.n, start=seed * self.n)
        imgs["w"] = imgs["w"].astype("int32")
        imgs["h"] = imgs["h"].astype("int32")
        self.path = os.path.join(work, "images.parquet")
        pq.write_table(pa.Table.from_pandas(imgs, preserve_index=False), self.path)
        self.payloads = list(zip(imgs["bytes"], imgs["fmt"], imgs["w"], imgs["h"]))
        self.lat, self.lon = imgs["lat"].to_numpy(), imgs["lon"].to_numpy()
        self.polys = synth.oracle_polygons(N_POLYS, seed=POLY_SEED)
        idx, _, _, _ = polygon_pairs(self.lat, self.lon, self.polys)
        self.join_pairs = int(idx.size)
        self._k = 0

    def kernel_metrics(self) -> dict:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            for b, f, w, h in self.payloads:
                codecs.decode(b, f, int(w), int(h))
            runs.append(1e6 * (time.perf_counter() - t0) / len(self.payloads))
        return {"kernels.pip.us_per_row": pip_us_per_row(self.lat, self.lon, self.polys),
                "kernels.codecs.us_per_image": float(np.median(runs))}

    def _run(self):
        self._k += 1
        out = os.path.join(self.work, f"tiles-{self._k}")
        res = run_tile_pipeline(build_args(["--input", self.path, "--output", out,
                              "--zmax", str(self.ZMAX), "--decode",
                              "--broadcast-regions", "never", "--cores", "4"]),
                  spark=self.spark)
        res["output"] = out
        return res

    def table_state(self, res) -> dict:
        sizes = [os.path.getsize(os.path.join(d, f))
                 for d, _, files in os.walk(res["output"]) for f in files]
        self.written = {"bytes_written": sum(sizes), "files_written": len(sizes)}
        table = open_table(res["output"])
        rows = {}
        for r in table.manifest_rows():
            rows[r["partition"]] = rows.get(r["partition"], 0) + r["rows"]
        root = pa.concat_tables([
            pq.read_table(os.path.join(res["output"], r["file"]))
            for r in table.manifest_rows() if r["partition"] == "z=0"])
        return {"partitions": rows, "root_cnt": int(pc_sum(root, "cnt")),
                "root_mean": round(float(pc_sum(root, "mean_val")), 6)}

    def _verify(self, res) -> list[str]:
        st = self.table_state(res)
        return (_mismatch("tile_pipeline partitions", res["partitions"], res["planned"])
                + _mismatch("tile_pipeline root cnt", st["root_cnt"], self.n)
                + _mismatch("tile_pipeline join pairs",
                            st["partitions"].get("join_pairs"), self.join_pairs))

    def _digest(self, res):
        st = self.table_state(res)
        return (res["partitions"], sorted(st["partitions"].items()),
                st["root_cnt"], st["root_mean"])

    @staticmethod
    def _release(res) -> None:
        shutil.rmtree(res["output"], ignore_errors=True)

    def load(self, spark) -> list[Op]:
        read_inputs(spark, self.path, self.n)
        self.spark = spark
        return [Op("tile_pipeline", self._run, lambda res: res, self._verify,
                   self._digest, self._release)]


def trace_table_writes(tracer) -> None:
    """Open spans around the table writes and commits tile_pipeline makes,
    named by its stage: join (join_pairs), leaf (z=ZMAX) and pyramid (the
    partitioned write of the lower levels). Outside a traced iteration the
    calls pass straight through."""
    T = ParquetSnapshotIO
    write_partition, write_partitioned, commit = (
        T.write_partition, T.write_partitioned, T.commit)
    stage = ["tile_pipeline"]

    def traced(fn, name_of):
        def wrapper(self, *a, **kw):
            if not tracer.stack:
                return fn(self, *a, **kw)
            with tracer.span(name_of(*a)):
                return fn(self, *a, **kw)
        return wrapper

    def write_name(df, partition, *rest):
        stage[0] = ("tile_pipeline.join" if partition == "join_pairs"
                    else "tile_pipeline.leaf")
        return stage[0] + ".action"

    def partitioned_name(*a):
        stage[0] = "tile_pipeline.pyramid"
        return stage[0] + ".action"

    T.write_partition = traced(write_partition, write_name)
    T.write_partitioned = traced(write_partitioned, partitioned_name)
    T.commit = traced(commit, lambda *a: stage[0] + ".commit")


def pc_sum(tab: pa.Table, col: str) -> float:
    import pyarrow.compute as pc
    return pc.sum(tab.column(col)).as_py() or 0.0


WORKLOADS = {w.name: w for w in (PipTiling, Proximity, TileIngest)}
