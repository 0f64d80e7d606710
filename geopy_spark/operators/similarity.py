"""Similarity search over embedding columns (task brief): brute-force
cosine top-k as the exact baseline, banded-LSH ANN as the scale path.

Dot products run in Column algebra (`zip_with` + `aggregate`) — JVM-side,
no Python — so the brute-force scan is a single narrow map over the table
plus one top-k. The ANN path buckets by random-hyperplane sign patterns in
``bands`` independent bands (multi-probe generalization: a candidate only
needs ONE band to agree, so per-pair recall at angle θ is
1-(1-(1-θ/π)^r)^b instead of (1-θ/π)^planes for a single bucket), then
scores candidates exactly and keeps the top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def dot_cols(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in double — pure Column lambda algebra."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_cols(a: Column, b: Column) -> Column:
    return dot_cols(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(emb: DataFrame, query_vec: list[float], k: int, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     exclude_id: int | None = None) -> DataFrame:
    """Exact cosine top-k vs one query vector: (vec_id, cosine_r, rank).
    cosine_r rounded to 4 decimals; ties broken by id (deterministic)."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = emb.select(
        F.col(id_col).alias("vec_id"),
        cosine_cols(F.col(vec_col), qv).alias("cos"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    w = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", F.round(F.col("cos"), 4).alias("cosine_r"), "rank"))


def hyperplane_sigs_udf(vec: Column, n_planes: int, seed: int,
                        dim: int = 64, *, group: int) -> Column:
    """Banded random-hyperplane LSH signatures — sign pattern of vec·H,
    as array<long> of n_planes/group per-band bucket ids (posexplode to
    (band, bucket)). One vectorized matmul per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    n_bands = n_planes // group

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(v: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        signs = (m @ planes) > 0
        weights = (1 << np.arange(group, dtype=np.int64))
        per_band = signs.reshape(len(v), n_bands, group) @ weights
        return pd.Series(per_band.astype(np.int64).tolist())
    return _sig(vec)


def ivf_centroids(n_centroids: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids, rounded to 4 decimals so
    the identical decimal literals parse to the identical doubles in both
    Spark and the DuckDB oracle (shared-constant protocol, like
    synth.derived_*). UNTRAINED (seeded-random): the fallback when no
    training sample is available — kmeans_centroids gives the trained
    quantizer a real deployment wants."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row]
            for row in rng.standard_normal((n_centroids, dim)).round(4)]


def kmeans_centroids(sample: np.ndarray, n_centroids: int, seed: int,
                     n_iter: int = 15) -> list[list[float]]:
    """Spherical k-means (Lloyd's) on a training sample — deterministic
    end-to-end: seeded init (k distinct sample rows), cosine assignment
    (argmax dot over unit-normalized rows), FIXED iteration count (no
    data-dependent early exit), empty clusters keep their previous
    centroid, and the result rounds to 4 decimals so both engines parse
    identical literals (shared-constant protocol).

    100 TB shape: training runs driver-side on a small deterministic
    sample (callers take the lowest-N ids via a TakeOrdered top-k — one
    narrow pass, no shuffle of the full table); the trained centroids
    then broadcast into the scan-fused assignment expression exactly like
    the untrained ones.
    """
    x = np.asarray(sample, dtype=np.float64)
    if len(x) < n_centroids:
        raise ValueError(f"sample of {len(x)} rows cannot seed "
                         f"{n_centroids} centroids")
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    # farthest-first (maximin) init: seeded first pick, then each next
    # centroid is the sample row farthest (cosine distance) from every
    # already-chosen one — deterministic (argmax tie → lowest index) and,
    # unlike k random rows, never seeds two centroids inside one tight
    # cluster while leaving another cluster uncovered
    rng = np.random.default_rng(seed)
    chosen = [int(rng.integers(len(xn)))]
    d = 1.0 - xn @ xn[chosen[0]]
    for _ in range(n_centroids - 1):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - xn @ xn[nxt])
    cents = xn[chosen].copy()
    for _ in range(n_iter):
        assign = np.argmax(xn @ cents.T, axis=1)
        for c in range(n_centroids):
            members = xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 1e-12:
                    cents[c] = m / norm
    return [[float(v) for v in row] for row in cents.round(4)]


def train_centroids(emb: DataFrame, n_centroids: int, seed: int, *,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    sample_n: int = 256, n_iter: int = 15) -> list[list[float]]:
    """Deterministic training sample + spherical k-means: the sample is
    the ``sample_n`` LOWEST ids (Spark plans orderBy+limit as a
    TakeOrdered top-k — per-partition heads, no global sort shuffle), so
    any engine reading the same table derives the same centroids."""
    rows = (emb.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
            .orderBy("i").limit(sample_n).collect())
    sample = np.asarray([list(r.v) for r in rows], dtype=np.float64)
    return kmeans_centroids(sample, n_centroids, seed, n_iter=n_iter)


def _centroid_structs(vec: Column, cents: list[list[float]]) -> Column:
    """array<struct<cos,ncid>> of the vector's cosine against every
    centroid — pure Column algebra evaluated inline per row (NO shuffle,
    NO UDF: at 10^12 rows the assignment is a narrow map fused into the
    scan). ncid = -cid so max/sort tie-breaks pick the LOWEST cid."""
    return F.array(*[
        F.struct(cosine_cols(vec, F.array(*[F.lit(x) for x in c])).alias("cos"),
                 F.lit(-cid).alias("ncid"))
        for cid, c in enumerate(cents)])


def ivf_assign(vec: Column, cents: list[list[float]]) -> Column:
    """Nearest-centroid id (cosine; ties → lowest cid) as a long Column."""
    return (-F.array_max(_centroid_structs(vec, cents)).getField("ncid")
            ).cast("long")


def ivf_probes(vec: Column, cents: list[list[float]], nprobe: int) -> Column:
    """array<long> of the nprobe nearest centroid ids, best first
    (desc cos, ties → lowest cid) — the query-side multi-probe list."""
    ordered = F.reverse(F.array_sort(_centroid_structs(vec, cents)))
    return F.transform(F.slice(ordered, 1, nprobe),
                       lambda s: (-s.getField("ncid")).cast("long"))


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", qvec_col: str = "embedding",
             n_centroids: int = 16, nprobe: int = 2,
             seed: int = 11, dim: int = 64,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF (inverted-file) ANN: the second scale path next to banded LSH.

    Data vectors are partitioned into ``n_centroids`` Voronoi cells of a
    fixed coarse quantizer — pass ``centroids`` (typically
    ``train_centroids``'s deterministic spherical k-means) or fall back
    to seeded-random ones. A query probes its ``nprobe`` nearest cells and reranks
    only those cells' vectors exactly. 100 TB shape: cell assignment is a
    shuffle-free narrow map; the candidate join is an equi-join on cid
    with the tiny probe side broadcast; per-query cost is nprobe/n_cells
    of the corpus (with n_centroids ~ √n in production). The whole
    pipeline is deterministic (fixed centroids, ties by id), so the DuckDB
    oracle recomputes it end-to-end — recall vs brute force is checked
    separately in pytest on planted fixtures."""
    cents = centroids if centroids is not None else ivf_centroids(
        n_centroids, dim, seed)
    data = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("dv"),
                      ivf_assign(F.col(vec_col), cents).alias("cid"))
    probes = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"),
        F.explode(ivf_probes(F.col(qvec_col), cents, nprobe)).alias("cid"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("vec_id").asc())
    return (data.join(F.broadcast(probes), "cid")
            .withColumn("cos", cosine_cols(F.col("dv"), F.col("qv")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id",
                    F.round(F.col("cos"), 4).alias("cosine_r"), "rank"))


def ann_topk(emb: DataFrame, queries: DataFrame, k: int, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", qvec_col: str = "embedding",
             bands: int = 16, planes_per_band: int = 4,
             seed: int = 5, dim: int = 64) -> DataFrame:
    """Approximate top-k per query via banded hyperplane buckets: a data
    vector is a candidate if ANY band signature matches the query's —
    high-recall for genuinely-near neighbors (the regime ANN serves; for
    uncorrelated vectors no sublinear index can beat brute force). Exact
    cosine scoring + deterministic (cos desc, id) tie-break on the
    candidates, so when the candidate set covers the true top-k the output
    IS the brute-force answer. Candidate generation never shuffles vector
    payloads — vectors re-join by id after the distinct."""
    n_planes = bands * planes_per_band
    data_b = emb.select(F.col(id_col).alias("vec_id"),
                        F.posexplode(hyperplane_sigs_udf(
                            F.col(vec_col), n_planes, seed, dim,
                            group=planes_per_band)).alias("band", "bkt"))
    qs_b = queries.select(F.col(qid_col).alias("query_id"),
                          F.posexplode(hyperplane_sigs_udf(
                              F.col(qvec_col), n_planes, seed, dim,
                              group=planes_per_band)).alias("band", "bkt"))
    cand = (data_b.join(F.broadcast(qs_b), ["band", "bkt"])
            .select("query_id", "vec_id").distinct())
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("dv"))
    qvecs = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (cand.join(vecs, "vec_id").join(F.broadcast(qvecs), "query_id")
            .withColumn("cos", cosine_cols(F.col("dv"), F.col("qv")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", F.round(F.col("cos"), 4).alias("cosine_r"), "rank"))
