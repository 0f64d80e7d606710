"""knn over the sorted-cell store == full-scan knn; exact block n-gram
Jaccard pairs (task-brief dedup variant)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.operators.dedup import ngram_jaccard_pairs
from geopy_spark.operators.knn import knn_join, knn_join_indexed
from geopy_spark.sources.store import write_points_sorted


def test_indexed_knn_matches_fullscan(spark, tmp_path):
    img = synth.make_images_pdf(800, with_pixels=False)
    pts_pdf = img[["image_id", "lat", "lon"]].copy()
    pts_pdf["id"] = np.arange(len(pts_pdf), dtype=np.int64)
    pts = spark.createDataFrame(pts_pdf[["id", "lat", "lon"]])
    store = str(tmp_path / "pts_store")
    write_points_sorted(pts, store, level=5, coarse_level=2)

    qs = spark.createDataFrame(synth.make_knn_queries_pdf(16))
    a = set(map(tuple, knn_join(qs, pts, k=4, level=5).collect()))
    b = set(map(tuple, knn_join_indexed(spark, store, qs, k=4,
                                        level=5).collect()))
    assert a == b and len(a) == 16 * 4


def test_ngram_jaccard_blocked(spark):
    rng = np.random.default_rng(61)
    vocab = [f"t{i}" for i in range(300)]
    rows = []
    for blk in ("s0", "s1"):
        base = " ".join(rng.choice(vocab, 50))
        rows.append((len(rows), base, blk))
        words = base.split(); words[3] = "zz"
        rows.append((len(rows), " ".join(words), blk))           # near-dup in-block
        rows.append((len(rows), " ".join(rng.choice(vocab, 50)), blk))  # unrelated
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "source"]))
    got = {(r.a, r.b): r.jaccard
           for r in ngram_jaccard_pairs(docs, block_col="source", threshold=0.5).collect()}
    assert set(got) == {(0, 1), (3, 4)}          # only the constructed pairs
    assert all(0.5 <= v <= 1.0 for v in got.values())
    # cross-block near-dups are NOT compared (blocking semantics)
    docs2 = docs.withColumn("source", F.lit("same"))
    got2 = {(r.a, r.b) for r in
            ngram_jaccard_pairs(docs2, block_col="source", threshold=0.5).collect()}
    assert got2 == {(0, 1), (3, 4)}
