"""Deduplication operators for training-data pipelines (task brief):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design: every near-dup variant is  *signature → band/bucket →
equi-join on bucket → exact verify on the candidate pairs only* — the
classic LSH shape, so the all-pairs O(n²) never materializes; the only
shuffles are on bucket keys (short, well-distributed hashes). Signatures
are computed in vectorized Arrow UDFs (numpy prefix rolling hashes from
kernels/rollhash — no per-byte Python), and every bucket self-join is
guarded against degenerate buckets (web-corpus boilerplate): buckets
larger than ``max_bucket`` are excluded via a broadcast anti-join, never
silently — ``lsh_bucket_drops`` reports what a guard would drop.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.text import fingerprint
from ..kernels.rollhash import shingle_hashes, shingle_hashes_batch

log = logging.getLogger("geopy_spark.dedup")

_MERSENNE = (1 << 61) - 1

DEFAULT_MAX_BUCKET = 2000  # pairs-per-degenerate-bucket bound: cap²/2

_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(n: int, key: str = "u8") -> np.ndarray:
    """Reusable module-level uint64 work buffer (python workers are
    long-lived with spark.python.worker.reuse, so the first-touch page
    faults are paid once per worker, not once per Arrow batch — fresh
    large numpy allocations fault in at ~25 MB/s on this host)."""
    buf = _SCRATCH.get(key)
    if buf is None or buf.size < n:
        buf = np.empty(max(n, 1 << 16), dtype=np.uint64)
        _SCRATCH[key] = buf
    return buf[:n]


def _token_hashes(texts: pd.Series, ngram: int = 3) -> list[np.ndarray]:
    """Per doc: sorted unique 62-bit hashes of word n-gram shingles
    (vectorized prefix rolling hash — one numpy pass per document)."""
    return [shingle_hashes(t, ngram) for t in texts]


def _perm_params(num_perm: int, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.uint64)
    return a, b


def _bucket_guard(banded: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop rows in buckets larger than ``max_bucket`` before a bucket
    self-join (degenerate-bucket quadratic-blowup guard). The oversized-key
    set is tiny (it is an aggregation output filtered to outliers), so the
    exclusion is a broadcast anti-join — no extra shuffle of the big side.
    Use :func:`lsh_bucket_drops` to report drops (no silent truncation)."""
    if max_bucket is None:
        return banded
    big = (banded.groupBy(*keys).count()
           .filter(F.col("count") > max_bucket).select(*keys))
    return banded.join(F.broadcast(big), keys, "left_anti")


def _bucket_pairs(banded: DataFrame, keys: list[str],
                  max_bucket: int | None) -> DataFrame:
    """banded(id[, payload], *keys) → distinct candidate pairs within each
    bucket, as struct columns l/r (each carrying id + any payload fields).

    ONE pass over the signatures and ONE shuffle: groupBy the bucket keys,
    collect the sorted member list, and explode the i<j combinations
    in-plan (flatten/transform/slice Column algebra — no UDF). A
    self-join alias would evaluate the signature-UDF subtree once per
    side; this shape evaluates it once total. The ``max_bucket`` guard is
    a free size filter on the collected list (report drops with
    :func:`lsh_bucket_drops` — never silent)."""
    others = [c for c in banded.columns if c not in keys]
    g = (banded.groupBy(*keys)
         .agg(F.array_sort(F.collect_list(F.struct(*others))).alias("ms"))
         .filter(F.size("ms") >= 2))
    if max_bucket is not None:
        g = g.filter(F.size("ms") <= max_bucket)
    pairs = g.select(F.explode(F.expr(
        "flatten(transform(ms, (x, i) -> transform("
        "slice(ms, i + 2, greatest(size(ms) - i - 1, 0)), "
        "y -> struct(x AS l, y AS r))))")).alias("p"))
    return pairs.select("p.l", "p.r").distinct()


def lsh_bucket_drops(banded: DataFrame, keys: list[str], max_bucket: int) -> dict:
    """Driver-side report of what a ``max_bucket`` guard drops: number of
    oversized buckets, rows inside them, and the largest bucket. One small
    aggregation action — call it from pipelines/pytest when visibility is
    needed (the guard itself stays lazy in-plan)."""
    row = (banded.groupBy(*keys).count()
           .agg(F.sum(F.when(F.col("count") > max_bucket, F.col("count"))
                      .otherwise(F.lit(0))).alias("dropped_rows"),
                F.sum(F.when(F.col("count") > max_bucket, 1)
                      .otherwise(0)).alias("dropped_buckets"),
                F.max("count").alias("max_bucket_seen"))
           .collect()[0])
    out = {"dropped_rows": int(row.dropped_rows or 0),
           "dropped_buckets": int(row.dropped_buckets or 0),
           "max_bucket_seen": int(row.max_bucket_seen or 0),
           "cap": max_bucket}
    if out["dropped_buckets"]:
        log.warning("LSH bucket guard: dropping %(dropped_buckets)d buckets "
                    "(%(dropped_rows)d rows) over cap=%(cap)d; largest bucket "
                    "%(max_bucket_seen)d", out)
    return out


def minhash_sig_udf(text: Column, num_perm: int = 64, ngram: int = 3) -> Column:
    """MinHash signature array<long>[num_perm] over word-ngram shingles.

    The permutation step runs batched per Arrow batch: all documents'
    shingle hashes concatenate into one flat array and each permutation
    (a·x+b) mod p evaluates as one vectorized pass over it into a REUSED
    scratch buffer, with per-document minima via np.minimum.reduceat —
    no per-document Python in the hot path, and no [num_perm × shingles]
    intermediate (a fresh 100 MB+ matrix costs seconds of page faults on
    this host; see _scratch). uint64 wraparound on the product is
    deterministic and fine for LSH — any fixed pseudo-random map works."""
    a, b = _perm_params(num_perm)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(t: pd.Series) -> pd.Series:
        # batched shingle kernel: bit-identical flat layout to the old
        # per-document shingle_hashes cascade (pinned by pytest), built
        # in one prefix-hash pass over the whole Arrow batch
        flat, starts, lens = shingle_hashes_batch(t, ngram)
        if lens.size == 0:
            return pd.Series([])
        fm = flat % _MERSENNE
        tmp = _scratch(fm.size)
        mins = np.empty((lens.size, num_perm), dtype=np.int64)
        for p in range(num_perm):
            np.multiply(fm, a[p], out=tmp)
            np.add(tmp, b[p], out=tmp)
            np.mod(tmp, _MERSENNE, out=tmp)
            mins[:, p] = np.minimum.reduceat(tmp, starts).astype(np.int64)
        return pd.Series(mins.tolist())
    return _sig(text)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-content hash: one row per
    duplicated fingerprint with the canonical (min) id and group size."""
    return (docs
            .withColumn("fp", fingerprint(F.col(text_col)))
            .groupBy("fp")
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
            .filter(F.col("n_dups") > 1))


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = 64,
                      bands: int = 16, ngram: int = 3,
                      threshold: float = 0.5,
                      max_bucket: int | None = DEFAULT_MAX_BUCKET,
                      text_lookup: DataFrame | None = None,
                      prefilter_singletons: bool = False) -> DataFrame:
    """Near-dup candidate pairs (a < b) with exact Jaccard ≥ threshold.

    signature → `bands` bands of num_perm/bands rows each → bucket hash →
    self-join on (band, bucket) → exact verify. Verify re-joins the text by
    id so the signature shuffle never carries document bodies. Per-pair
    LSH recall at Jaccard j is 1-(1-j^(perm/bands))^bands — ~1-4e-8 at
    j=0.9 with the 64/16 defaults; use thresholds well below the duplicate
    cluster's Jaccard so recall stays effectively exact.

    ``text_lookup``: optional cheaper frame (same id/text columns, a
    SUPERSET of ``docs``' ids) for the verify-stage text joins. When
    ``docs`` is itself an expensive subplan (e.g. a filter/semi-join
    chain in a pipeline), the plan references it once for signatures and
    would otherwise re-execute it for each verify side; passing the raw
    scan-backed table here keeps the verify joins scan-cheap. Results are
    identical because candidate pairs only carry ids drawn from ``docs``
    (measured on the EP-4 300k-doc run: near_pairs stage 206.6s → the
    subplan re-execution was ~80% of it).

    ``prefilter_singletons``: persist the banded keys once, count rows
    per packed key in a codegen HashAggregate (longs only, map-side
    combined), and broadcast-semi-join the ≥2-member keys back before
    the collect_list shuffle. On a typical corpus ~95% of (band, bucket)
    keys are singletons that can never form a pair, yet they dominate
    the ObjectHashAggregate shuffle and its spill — the count pass
    shuffles the same row count but as bare (long, long) partial counts
    through whole-stage codegen, and the expensive struct-array agg then
    only sees rows that can pair. Caveats: the hot-key set must fit in a
    broadcast (it is ~16·n_duplicate_docs keys — at 10^9+ duplicate
    docs, materialize signatures to a table and prune there instead),
    and the banded frame stays persisted until the session drops it
    (MEMORY_AND_DISK, ~16 bytes x bands per doc)."""
    rows = num_perm // bands
    sig = docs.select(F.col(id_col).alias("id"),
                      minhash_sig_udf(F.col(text_col), num_perm, ngram).alias("sig"))
    # ONE packed long key per (band, bucket): band in the high 32 bits,
    # the band's int32 bucket hash (offset to non-negative) in the low 32
    # — a bijection of the (band, bucket) pair, so the candidate set is
    # identical to the two-column key, but the 16M-row bucket shuffle
    # carries (long, long) tuples instead of (long, struct<int,int>):
    # measured 11s → 4s for the pair-forming sub-stage on 1M docs at
    # local[8]
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            (F.lit(bnd).cast("long") * F.lit(1 << 32)
             + (F.hash(*[F.col("sig")[bnd * rows + r] for r in range(rows)])
                .cast("long") + F.lit(1 << 31)))
            for bnd in range(bands)
        ])).alias("bkey"),
    )
    if prefilter_singletons:
        from pyspark import StorageLevel
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        # keys that can form a pair AND survive the degenerate-bucket cap
        # (the cap re-applies inside _bucket_pairs; filtering here just
        # keeps capped buckets' rows out of the wide shuffle too)
        hot = banded.groupBy("bkey").count().filter(F.col("count") >= 2)
        if max_bucket is not None:
            hot = hot.filter(F.col("count") <= max_bucket)
        banded = banded.join(F.broadcast(hot.select("bkey")), "bkey",
                             "left_semi")
    pairs = (_bucket_pairs(banded, ["bkey"], max_bucket)
             .select(F.col("l.id").alias("a"), F.col("r.id").alias("b")))

    src = docs if text_lookup is None else text_lookup
    txt = src.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    cand = (pairs
            .join(txt.withColumnRenamed("id", "a").withColumnRenamed("txt", "ta"), "a")
            .join(txt.withColumnRenamed("id", "b").withColumnRenamed("txt", "tb"), "b"))

    # exact verify: ONE mapInPandas pass computes jaccard AND applies the
    # threshold python-side — a filter on a pandas-UDF column gets pushed
    # below the projection and Catalyst then evaluates the UDF twice
    # (observed as two ArrowEvalPython nodes), so compute-and-filter stay
    # fused in a single python hop instead
    def _verify(it):
        for pdf in it:
            ha = _token_hashes(pdf["ta"], ngram)
            hb = _token_hashes(pdf["tb"], ngram)
            jac = np.empty(len(pdf))
            for n in range(len(pdf)):
                inter = np.intersect1d(ha[n], hb[n], assume_unique=True).size
                union = ha[n].size + hb[n].size - inter
                jac[n] = inter / union if union else 1.0
            jac = np.round(jac, 4)
            keep = jac >= threshold
            yield pd.DataFrame({"a": pdf["a"][keep], "b": pdf["b"][keep],
                                "jaccard": jac[keep]})

    return cand.mapInPandas(_verify, "a long, b long, jaccard double")


def ngram_jaccard_pairs(docs: DataFrame, *, block_col: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        ngram: int = 3, threshold: float = 0.5,
                        max_block: int | None = 20000) -> DataFrame:
    """Exact all-pairs n-gram Jaccard WITHIN a blocking key (task brief):
    groups small enough to enumerate (same language/domain/shard) get the
    exact quadratic comparison via applyInPandas — no LSH approximation.
    At 100 TB the blocking key is what keeps each group bounded; the
    shuffle is one hash partition by block. Blocks over ``max_block`` rows
    are excluded via broadcast anti-join (see lsh_bucket_drops to report),
    because a 10^6-row block would mean 5·10^11 comparisons in one task."""
    out_schema = "a long, b long, jaccard double"

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        # Exact all-pairs via an inverted-index join instead of the n²/2
        # per-pair loop: sort (shingle, doc) postings, and every sorted run
        # of docs sharing a shingle contributes its doc pairs to the
        # intersection counts. Pairs sharing no shingle (jaccard 0) are
        # never touched, so cost scales with co-occurrence mass, not n².
        hs = _token_hashes(pdf[text_col], ngram)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(columns=["a", "b", "jaccard"])
        sizes = np.fromiter((h.size for h in hs), dtype=np.int64, count=n)
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), sizes)
        flat = np.concatenate(hs)
        order = np.argsort(flat, kind="stable")
        fv, dv = flat[order], doc_idx[order]
        run_start = np.flatnonzero(np.r_[True, fv[1:] != fv[:-1]])
        run_len = np.diff(np.r_[run_start, fv.size])
        pair_keys = []
        for s, ln in zip(run_start[run_len > 1], run_len[run_len > 1]):
            docs_in = np.sort(dv[s:s + ln])
            ii, jj = np.triu_indices(int(ln), k=1)
            pair_keys.append(docs_in[ii] * n + docs_in[jj])
        if not pair_keys:
            return pd.DataFrame(columns=["a", "b", "jaccard"])
        keys, inter = np.unique(np.concatenate(pair_keys), return_counts=True)
        i, j = keys // n, keys % n
        union = sizes[i] + sizes[j] - inter
        jac = np.round(np.where(union > 0, inter / np.maximum(union, 1), 1.0), 4)
        keep = jac >= threshold
        aa = np.minimum(ids[i[keep]], ids[j[keep]])
        bb = np.maximum(ids[i[keep]], ids[j[keep]])
        return pd.DataFrame({"a": aa.astype(np.int64),
                             "b": bb.astype(np.int64), "jaccard": jac[keep]})

    blocked = _bucket_guard(docs.select(id_col, text_col, block_col),
                            [block_col], max_block)
    return blocked.groupBy(block_col).applyInPandas(per_block, out_schema)


def simhash_udf(text: Column, ngram: int = 2) -> Column:
    """64-bit SimHash over word-ngram shingle hashes (vectorized bit
    voting; bits 62-63 are always 0 because the combined rolling hash is
    < 2^62 — mirrored by the SQL twin)."""
    @F.pandas_udf(LongType())
    def _sh(t: pd.Series) -> pd.Series:
        # batched shingle kernel (bit-identical flat layout, incl. the
        # per-document UNIQUE sets the bit votes depend on) + per-document
        # vote sums via np.add.reduceat — no per-document Python
        flat, starts, lens = shingle_hashes_batch(t, ngram)
        if lens.size == 0:
            return pd.Series([], dtype=np.int64)
        # per-bit loop with a reused scratch buffer instead of one
        # [shingles × 64] bit matrix (fresh 100 MB+ allocations stall on
        # page faults here — see _scratch); ones-count per segment gives
        # votes = 2·ones − len without materializing ±1 values
        tmp = _scratch(flat.size)
        words = np.zeros(lens.size, dtype=np.uint64)
        for bit in range(64):
            np.right_shift(flat, np.uint64(bit), out=tmp)
            np.bitwise_and(tmp, np.uint64(1), out=tmp)
            ones = np.add.reduceat(tmp, starts)
            votes = 2 * ones.astype(np.int64) - lens
            words |= (votes > 0).astype(np.uint64) << np.uint64(bit)
        return pd.Series(words.astype(np.int64))
    return _sh(text)


def simhash_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 12,
                  max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into 4
    16-bit chunks; candidate = pair sharing ≥1 chunk; exact hamming verify
    after the bucket join. By pigeonhole the shared-chunk condition is
    GUARANTEED complete only for hamming ≤ 3; above that it is a
    probabilistic LSH filter (random hamming-h pairs share a chunk with
    prob ≈ 4·(1-h/64)^16 for small h). The operator's contract is
    therefore 'chunk-candidates within max_hamming', which is exactly what
    the DuckDB oracle twin recomputes."""
    sh = docs.select(F.col(id_col).alias("id"),
                     simhash_udf(F.col(text_col)).alias("sh"))
    chunks = sh.select("id", "sh", F.explode(F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftright(F.col("sh"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"))
        for c in range(4)
    ])).alias("cc")).select("id", "sh", "cc.chunk", "cc.val")
    cand = (_bucket_pairs(chunks, ["chunk", "val"], max_bucket)
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                    F.col("l.sh").alias("sha"), F.col("r.sh").alias("shb")))
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (cand.withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


def embedding_neardup_pairs(emb: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            bands: int = 16, planes_per_band: int = 4,
                            seed: int = 5, threshold: float = 0.95,
                            max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Embedding near-dup via BANDED random-hyperplane LSH + exact cosine
    verify (brute-force only inside buckets).

    ``bands`` independent groups of ``planes_per_band`` hyperplanes each;
    a pair is a candidate if ANY band's sign pattern matches — per-pair
    recall at angle θ is 1-(1-(1-θ/π)^r)^b (≥ 1-4e-13 for cosine ≥ 0.98
    with the 16×4 default), vs ~0.28 for the naive single 12-plane bucket.
    Scale the band count with corpus size; the bucket guard bounds the
    within-bucket join regardless."""
    from .similarity import cosine_cols, hyperplane_sigs_udf
    banded = emb.select(F.col(id_col).alias("id"),
                        F.posexplode(hyperplane_sigs_udf(
                            F.col(vec_col), bands * planes_per_band, seed,
                            group=planes_per_band)).alias("band", "bkt"))
    # pairs first, vectors re-joined by id after distinct — the band
    # shuffle never carries embedding payloads (same shape as minhash)
    pairs = (_bucket_pairs(banded, ["band", "bkt"], max_bucket)
             .select(F.col("l.id").alias("a"), F.col("r.id").alias("b")))
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cand = (pairs
            .join(vecs.withColumnRenamed("id", "a").withColumnRenamed("v", "va"), "a")
            .join(vecs.withColumnRenamed("id", "b").withColumnRenamed("v", "vb"), "b"))
    cos = cosine_cols(F.col("va"), F.col("vb"))
    return (cand.withColumn("cosine", F.round(cos, 4))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


def phash_neardup_pairs(images: DataFrame, *, id_col: str = "image_id",
                        phash_col: str = "phash", max_hamming: int = 7,
                        bands: int = 8,
                        max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """IMAGE near-dup by perceptual-hash Hamming LSH: band the stored
    64-bit phash (kernels/codecs.phash64 — computed once at ingest) into
    ``bands`` equal bit chunks; candidate = pair sharing ≥1 chunk value;
    exact ``bit_count(xor)`` verify on candidates only.

    By pigeonhole the banding is EXACT — recall 1.0, not probabilistic —
    whenever ``max_hamming < bands``: a pair differing in ≤ bands-1 bits
    cannot touch every band, so some band matches (the default 7/8 is the
    standard "phash distance ≤ 7 ⇒ same image" operating point). Above
    that it degrades to the same chunk-candidate contract as SimHash.

    100 TB shape: the whole operator is JVM Column algebra — banding is
    shiftright/AND bit math, the verify is bit_count(xor) — zero Python,
    whole-stage codegen end to end. Only (id, phash, band, value) rows
    ever shuffle (image bytes stay in the source files untouched); one
    shuffle total via the shared single-pass ``_bucket_pairs`` shape, and
    degenerate buckets (flat-color thumbnails collapsing to one phash
    band) are bounded by ``max_bucket`` with drops reportable via
    :func:`lsh_bucket_drops`.
    """
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1
    ph = images.select(F.col(id_col).alias("id"), F.col(phash_col).alias("ph"))
    banded = ph.select("id", "ph", F.explode(F.array(*[
        F.struct(F.lit(k).alias("band"),
                 F.shiftright(F.col("ph"), k * width)
                 .bitwiseAND(F.lit(mask)).alias("val"))
        for k in range(bands)
    ])).alias("bv")).select("id", "ph", "bv.band", "bv.val")
    cand = (_bucket_pairs(banded, ["band", "val"], max_bucket)
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"),
                    F.col("l.ph").alias("pha"), F.col("r.ph").alias("phb")))
    ham = F.bit_count(F.col("pha").bitwiseXOR(F.col("phb")))
    return (cand.withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))
