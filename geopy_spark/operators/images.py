"""Image-payload operators over Arrow batches (SURVEY.md §2.3 I1-I6).

All pixel work happens inside iterator-style pandas UDFs / mapInPandas —
decode amortizes per-batch setup, bytes never round-trip through per-row
Python (BASELINE.json:15 "no per-row Python"). The `bytes` column is pruned
out of every shuffle: stats/hashes are computed in a narrow map stage and
joins carry only ids (SURVEY.md §4.2 spill safety).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StructField,
                               StructType)

from ..kernels import codecs as C


def decode_mean_udf(bytes_col: Column, fmt: Column, w: Column, h: Column) -> Column:
    """Mean pixel value of the decoded image — the tile-content statistic
    the pyramid aggregates (I1 + I3 leaf stat)."""
    @F.pandas_udf(DoubleType())
    def _mean(it: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        for b, f, ww, hh in it:
            out = np.empty(len(b), dtype=np.float64)
            for n in range(len(b)):
                img = C.decode(b.iloc[n], f.iloc[n], int(ww.iloc[n]), int(hh.iloc[n]))
                out[n] = float(img.mean())
            yield pd.Series(out)
    return _mean(bytes_col, fmt, w, h)


def phash_udf(bytes_col: Column, fmt: Column, w: Column, h: Column) -> Column:
    """Recompute phash from payload (I4) — verification join vs the stored
    `phash` column."""
    @F.pandas_udf(LongType())
    def _ph(it: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        for b, f, ww, hh in it:
            out = np.empty(len(b), dtype=np.int64)
            for n in range(len(b)):
                img = C.decode(b.iloc[n], f.iloc[n], int(ww.iloc[n]), int(hh.iloc[n]))
                out[n] = C.phash64(img)
            yield pd.Series(out)
    return _ph(bytes_col, fmt, w, h)


_GEOREF_SCHEMA = StructType([
    StructField("lat", DoubleType()), StructField("lon", DoubleType()),
    StructField("lat_min", DoubleType()), StructField("lat_max", DoubleType()),
    StructField("lon_min", DoubleType()), StructField("lon_max", DoubleType()),
])


def geotiff_georef_udf(bytes_col: Column) -> Column:
    """GeoTIFF 1.1 georeferencing extracted from the payload HEADER
    (round 5, VERDICT r4 #4): struct (lat, lon = raster-center model
    coords, plus the full pixel-grid bounds). Header-only work — strips
    are never entropy-decoded, so this is ~µs/row regardless of image
    size. Null struct for payloads without geo tags (or non-TIFF bytes);
    a geographic CRS is required (GTModelType=2) — projected rasters
    yield null rather than silently-wrong degrees."""
    from ..kernels import tiff as T

    @F.pandas_udf(_GEOREF_SCHEMA)
    def _g(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        cols = ["lat", "lon", "lat_min", "lat_max", "lon_min", "lon_max"]
        for b in it:
            rows = []
            for n in range(len(b)):
                try:
                    g = T.parse_georef(b.iloc[n])
                except Exception:
                    g = None
                if g is None or (g["model_type"] is not None
                                 and g["model_type"] != 2):
                    rows.append([None] * 6)
                else:
                    rows.append([g["lat_c"], g["lon_c"], g["lat_min"],
                                 g["lat_max"], g["lon_min"], g["lon_max"]])
            yield pd.DataFrame(rows, columns=cols, dtype=np.float64)
    return _g(bytes_col)


def transcode(df: DataFrame, to_fmt: str) -> DataFrame:
    """Re-encode every image payload to ``to_fmt`` (I1+I2), via mapInPandas
    so huge binary batches stream. Caption column is never touched (I6)."""
    fields = df.schema.fields
    out_schema = StructType([
        StructField(f.name, BinaryType() if f.name == "bytes" else f.dataType)
        for f in fields
    ])

    def _f(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bufs = []
            for n in range(len(pdf)):
                img = C.decode(pdf["bytes"].iloc[n], pdf["fmt"].iloc[n],
                               int(pdf["w"].iloc[n]), int(pdf["h"].iloc[n]))
                bufs.append(C.encode(img, to_fmt))
            pdf = pdf.assign(bytes=bufs, fmt=to_fmt)
            yield pdf
    return df.mapInPandas(_f, out_schema)


def resize_images(df: DataFrame, tw: int, th: int,
                  out_fmt: str | None = None) -> DataFrame:
    """Resize every payload to (tw, th) via exact area-average resample
    (kernels/codecs.resize_area — the brief's generic 'resize', past
    I3's 2x box filter), re-encoding to ``out_fmt`` (default: keep each
    row's format). One mapInPandas stage: decode → resample → encode;
    w/h columns are rewritten, everything else (captions!) passes
    through untouched. At 10^12 rows this is a narrow map — payloads
    never shuffle."""
    fields = df.schema.fields
    out_schema = StructType([
        StructField(f.name, BinaryType() if f.name == "bytes" else f.dataType)
        for f in fields
    ])

    def _f(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bufs, fmts = [], []
            for n in range(len(pdf)):
                fmt = pdf["fmt"].iloc[n]
                img = C.decode(pdf["bytes"].iloc[n], fmt,
                               int(pdf["w"].iloc[n]), int(pdf["h"].iloc[n]))
                small = C.resize_area(img, th, tw)
                f2 = out_fmt or fmt
                bufs.append(C.encode(small, f2))
                fmts.append(f2)
            yield pdf.assign(bytes=bufs, fmt=fmts, w=tw, h=th)
    return df.mapInPandas(_f, out_schema)


def psnr_vs_udf(bytes_a: Column, fmt_a: Column, bytes_b: Column, fmt_b: Column,
                w: Column, h: Column) -> Column:
    """PSNR between two payload columns (I5) — the ≥40 dB invariant check."""
    @F.pandas_udf(DoubleType())
    def _p(it: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        for ba, fa, bb, fb, ww, hh in it:
            out = np.empty(len(ba), dtype=np.float64)
            for n in range(len(ba)):
                a = C.decode(ba.iloc[n], fa.iloc[n], int(ww.iloc[n]), int(hh.iloc[n]))
                b = C.decode(bb.iloc[n], fb.iloc[n], int(ww.iloc[n]), int(hh.iloc[n]))
                out[n] = C.psnr(a, b)
            yield pd.Series(out)
    return _p(bytes_a, fmt_a, bytes_b, fmt_b, w, h)


VERIFY_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("n_roundtrip", LongType()),
    StructField("min_psnr", DoubleType()),
    StructField("n_psnr_bad", LongType()),
    StructField("n_phash_bad", LongType()),
    StructField("n_caption_bad", LongType()),
    StructField("n_lossless_bad", LongType()),
])


def caption_digests(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Ingest-time caption fingerprints (I6): (image_id, caption_sha) with
    sha2-256 over the caption bytes — JVM-side, no UDF. Snapshot this at
    ingest; verify_payload_invariants compares any later read-back or
    transcode output against it byte-for-byte."""
    return df.select(F.col(id_col),
                     F.sha2(F.col("caption").cast("binary"), 256).alias("caption_sha"))


def verify_payload_invariants(df: DataFrame, lossy_fmt: str = "qjpg",
                              lossless_fmt: str = "rle",
                              digests: DataFrame | None = None,
                              roundtrip_sample: int = 1) -> DataFrame:
    """Single-pass payload invariant check (BASELINE.json:15): decode →
    lossy round-trip PSNR≥40dB, lossless round-trip EXACT pixel equality,
    stored-vs-recomputed phash, caption byte-equality vs the ingest digest
    (I6: sha2(caption) must match ``digests`` — a corrupted caption that is
    still a string now fails, unlike the round-1 isinstance check) — one
    mapInPandas stage, one decode per image, payloads never shuffle (the
    digest join moves only 40-byte rows) and no chained UDF nodes. Emits
    one partial row per batch; callers sum them.

    ``roundtrip_sample``: the DATA-integrity checks (phash vs stored,
    caption digest) run on EVERY row — they catch per-row corruption. The
    encode→decode roundtrip checks (PSNR bound, lossless invertibility)
    validate CODE properties that are identical for every row, so at the
    10^12-row design point they run on a deterministic 1-in-k sample
    (FNV(image_id) % k == 0); the sampled count is REPORTED as
    ``n_roundtrip`` — never a silent cap. Default 1 = full coverage."""
    cols = ["bytes", "fmt", "w", "h", "phash", "caption"]
    k = max(int(roundtrip_sample), 1)
    # image_id is only needed for the digest join and the sampling hash —
    # don't require it of callers who use neither (ADVICE r2)
    if digests is not None or k > 1:
        cols.insert(0, "image_id")
    if digests is not None:
        df = df.join(digests, "image_id", "left")
        cap_ok = (F.col("caption_sha").isNotNull()
                  & (F.sha2(F.col("caption").cast("binary"), 256)
                     == F.col("caption_sha")))
    else:
        cap_ok = F.col("caption").isNotNull()
    df = df.withColumn("_cap_ok", cap_ok)
    cols.append("_cap_ok")

    def _f(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..operators.multimodal import hash_32
        for pdf in it:
            n = len(pdf)
            n_rt, psnr_bad, phash_bad, ll_bad = 0, 0, 0, 0
            min_psnr = float("inf")
            cap_bad = int((~pdf["_cap_ok"].astype(bool)).sum())
            for r in pdf.itertuples(index=False):
                img = C.decode(r.bytes, r.fmt, int(r.w), int(r.h))
                phash_bad += C.phash64(img) != r.phash
                if k > 1 and hash_32(r.image_id) % k:
                    continue
                n_rt += 1
                rt = C.decode(C.encode(img, lossy_fmt), lossy_fmt, int(r.w), int(r.h))
                p = C.psnr(img, rt)
                min_psnr = min(min_psnr, p)
                psnr_bad += p < 40.0
                ll = C.decode(C.encode(img, lossless_fmt), lossless_fmt,
                              int(r.w), int(r.h))
                ll_bad += not np.array_equal(ll, img)
            # a batch whose sample hit zero rows has no roundtrip
            # evidence: report null, not +inf (ADVICE r2)
            yield pd.DataFrame(
                [(n, n_rt, min_psnr if n_rt else None,
                  psnr_bad, phash_bad, cap_bad, ll_bad)],
                columns=[f.name for f in VERIFY_SCHEMA.fields])
    return df.select(*cols).mapInPandas(_f, VERIFY_SCHEMA)
