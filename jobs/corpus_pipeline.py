"""EP-4: the LLM training-corpus pipeline — the text counterpart of EP-3
(jobs/tile_pipeline.py), chaining the brief's first-class data-pipeline
operators end-to-end with the same icetab snapshot/resume discipline:

    spark-submit --py-files geopy_spark.zip jobs/corpus_pipeline.py \
        --input <documents.parquet> --output <icetab dir> [--resume] ...

Stages (each one atomic snapshot; --resume skips committed ones):
  1. features   — lang-id, quality score, whitespace + BPE token counts,
                  content fingerprint per doc (single-pass mapInPandas;
                  one narrow scan, zero shuffles).
  2. exact_dups — normalized-fingerprint duplicate groups, aggregated
                  straight off the committed features partition (its fp
                  is parity-pinned to fingerprint(text)) — one hash agg
                  over (fp, doc_id); document bodies are never re-read.
  3. near_pairs — MinHash+LSH candidate pairs with exact-Jaccard verify
                  on quality-passing, exact-unique docs (bucketed join,
                  never all-pairs; bucket-size guard logs drops). The
                  input set is formed by anti-joining the SMALL drop sets
                  (low-quality ids ∪ exact-dup members) against docs.
  4. finalize   — one atomic snapshot committing BOTH:
                  survivors — doc_ids kept after quality filter, exact
                  dedup (min-id canonical per fp group) and near-dup
                  pruning (min-id rule: every pair (a<b) drops b — keeps
                  the minimum of each duplicate component, possibly
                  another local minimum in chain-shaped components; the
                  standard corpus-dedup approximation, O(1) passes
                  instead of an iterative connected-components loop);
                  stats — per-language corpus stats over survivors
                  (docs, token sums, mean quality) — the pipeline's
                  integrity gate: a pytest compares it against an
                  independently computed single-pass twin, and
                  kill-resume must reproduce it byte-identically.

Scale notes (100 TB): stage 1 is a map-only scan; stage 2 shuffles 16
bytes/doc; stage 3's signature shuffle carries 8B+64×4B per doc and
re-joins text by id only for verified candidates; stages 4-5 join on
ids alone. Duplicate-id frames broadcast while small with a size-guarded
fallback to shuffle joins, so no stage materializes document bodies
anywhere except the initial scan.
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

from geopy_spark.functions import text as T  # noqa: E402
from geopy_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from geopy_spark.session import get_spark  # noqa: E402
from geopy_spark.sources.tableio import open_table  # noqa: E402

# broadcast id-frames only below this row estimate (ids are 8 bytes;
# 5M rows ≈ 40 MB < the 10x-default autoBroadcastJoinThreshold we run)
BROADCAST_MAX_IDS = 5_000_000


def build_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="icetab output table dir")
    ap.add_argument("--min-quality", type=float, default=0.35)
    ap.add_argument("--threshold", type=float, default=0.5,
                    help="exact-Jaccard near-dup threshold")
    ap.add_argument("--num-perm", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--max-partition-bytes", type=int, default=8 * 1024 * 1024,
                    help="input split size. The session default (32MB, tuned "
                         "for image payloads) bin-packs small text files into "
                         "few UNEVEN partitions — measured 3.2x row skew "
                         "across 8 tasks pinned the CPU-dense features stage "
                         "to ~2.9 effective cores at local[8]. Finer splits "
                         "re-balance WITHOUT shuffling document bodies.")
    ap.add_argument("--exact-components", action="store_true",
                    help="near-dup pruning by exact connected components "
                         "(operators/graph) instead of the min-id pair rule")
    ap.add_argument("--fail-after", default=None,
                    help="fault injection: kill after committing this stage")
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="opt-in stage 6: concat-and-chunk the survivors "
                         "into per-language training sequences of exactly "
                         "this many tokens (operators/trainprep), committed "
                         "as a 'sequences' partition")
    return ap.parse_args(argv)


def _maybe_bcast(df, n_rows: int):
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_IDS else df


def _parquet_rows(path: str) -> int | None:
    """Exact row count from parquet footers, no scan (None on failure)."""
    try:
        import pyarrow.dataset as ds
        return ds.dataset(path, format="parquet").count_rows()
    except Exception:
        return None


def doc_features(docs, impl: str = "pandas"):
    """Stage-1 feature projection. impl='pandas' (default) is the
    single-pass mapInPandas implementation — measured 5.1x faster than
    the Column chain on 300k docs AND it moves the CPU into python
    workers, the part of the engine whose N->4N scaling holds at 0.84+
    (the codegen chain scaled at 2.24x/4 slots on this shared-socket
    host: BENCH/BASELINE.md round-2 finding #2). The job always runs
    'pandas'; impl='codegen' keeps the JVM Column-algebra twin as the
    reference that pytest pins the pandas output against."""
    if impl == "pandas":
        from geopy_spark.functions.textbatch import doc_features_batch
        return doc_features_batch(docs)
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.lang_id(t).alias("lang"),
        F.round(T.quality_score(t), 6).alias("quality"),
        T.token_count(t).alias("n_tokens"),
        T.bpe_token_count(t).alias("n_bpe_tokens"),
        T.fingerprint(t).alias("fp"),
    )


def run(args, spark=None, stop_session: bool = True) -> dict:
    own_spark = spark is None
    if own_spark:
        spark = get_spark("corpus_pipeline", cores=args.cores,
                          shuffle_partitions=args.shuffle_partitions)
    # runtime-settable; scoped to this job's reads (see --max-partition-bytes)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(args.max_partition_bytes))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1024 * 1024))
    t0 = time.monotonic()
    run_id = uuid.uuid4().hex[:12]
    table = open_table(args.output)  # TableIO seam (SURVEY §4.2)
    committed = table.committed_partitions() if args.resume else set()
    if not args.resume and table.current_version() > 0:
        raise SystemExit(f"{args.output} already has snapshots; pass --resume")

    params = {"min_quality": args.min_quality, "threshold": args.threshold,
              "num_perm": args.num_perm, "bands": args.bands,
              "exact_components": args.exact_components,
              "pack_budget": args.pack_budget,
              "input": os.path.abspath(args.input), "layout": 1}
    prev = table.properties()
    if args.resume and prev and prev.get("params") != params:
        raise SystemExit(f"--resume parameter mismatch: table was written "
                         f"with {prev.get('params')}, got {params}")
    table.set_properties({"params": params})

    docs = spark.read.parquet(args.input)
    # row count from parquet footers (only feeds the broadcast-threshold
    # decision and the report): a full docs.count() scan cost seconds of
    # serial wall at every level — pure Amdahl tax on the scaling ratio
    n_docs = _parquet_rows(args.input) or docs.count()
    stage_s: dict = {}

    def _timed(stage, fn):
        s0 = time.monotonic()
        fn()
        stage_s[stage] = round(time.monotonic() - s0, 3)
        _maybe_fail(args, stage)

    # ---- stage 1: per-doc features (map-only, one mapInPandas pass)
    if "features" not in committed:
        _timed("features", lambda: table.commit(
            [table.write_partition(
                doc_features(docs).sortWithinPartitions("doc_id"),
                "features")], run_id))

    feats = table.read_partition(spark, "features")
    qpass = feats.filter(F.col("quality") >= args.min_quality)

    # ---- stage 2: exact duplicate groups on quality-passing docs.
    # Computed FROM THE FEATURES PARTITION, not the raw docs: stage 1
    # already materialized fingerprint(text) per doc (both impls are
    # parity-pinned to byte-identical fp), so grouping feats by fp is
    # row-identical to exact_dedup(docs ⋉ qpass) while touching zero
    # document bodies and broadcasting zero id sets — the round-3 bench
    # showed this stage scaling at 0.44 N→4N purely on the redundant
    # body re-scan + 1M-id broadcast build (a serial driver tail).
    if "exact_dups" not in committed:
        dups_from_feats = (qpass.groupBy("fp")
                           .agg(F.min("doc_id").alias("keep_id"),
                                F.count("*").alias("n_dups"))
                           .filter(F.col("n_dups") > 1))
        _timed("exact_dups", lambda: table.commit(
            [table.write_partition(dups_from_feats, "exact_dups")], run_id))

    dups = table.read_partition(spark, "exact_dups")
    # members of a fp-group other than the canonical min id
    exact_drop = (qpass.join(_maybe_bcast(dups, n_docs), "fp")
                  .filter(F.col("doc_id") != F.col("keep_id"))
                  .select("doc_id"))
    # quality-passing + exact-unique feature rows (all feats columns —
    # stages 4/5 both derive from this). Broadcast policy from here on:
    # always broadcast the DROP sets (dup members, near-dup b's, low-q
    # ids), never the survivor sets — drops are typically 10-50x smaller,
    # and the broadcast build is a serial driver tail that lands straight
    # on the N→4N scaling ratio.
    exact_unique_feats = qpass.join(_maybe_bcast(exact_drop, n_docs),
                                    "doc_id", "left_anti")
    exact_unique = exact_unique_feats.select("doc_id")

    # ---- stage 3: near-dup pairs on exact-unique quality docs
    if "near_pairs" not in committed:
        # same id set as docs ⋉ exact_unique, via the complement: docs
        # minus low-quality minus exact-dup members (small broadcasts)
        lowq = feats.filter(F.col("quality") < args.min_quality).select("doc_id")
        nd_in = docs.join(
            _maybe_bcast(lowq.unionByName(exact_drop), n_docs),
            "doc_id", "left_anti")
        # text_lookup=docs: verify-stage text joins read the raw parquet
        # scan instead of re-executing the semi-join chain behind nd_in
        # (pairs only carry nd_in ids, so results are identical)
        pairs = minhash_lsh_pairs(nd_in, num_perm=args.num_perm,
                                  bands=args.bands,
                                  threshold=args.threshold,
                                  text_lookup=docs,
                                  prefilter_singletons=True)
        _timed("near_pairs", lambda: table.commit(
            [table.write_partition(pairs, "near_pairs")], run_id))

    pairs = table.read_partition(spark, "near_pairs")
    if args.exact_components:
        # exact semantics: component = min doc_id of the WHOLE duplicate
        # cluster (operators/graph); drop everything
        # that is not its component's representative
        from geopy_spark.operators.graph import connected_components
        comp = connected_components(pairs)
        near_drop = (comp.filter(F.col("node") != F.col("component"))
                     .select(F.col("node").alias("doc_id")))
    else:
        # min-id rule: every pair (a<b) drops b — keeps each component's
        # minimum plus possibly other local minima in chain-shaped
        # components; --exact-components upgrades to true CC
        near_drop = pairs.select(F.col("b").alias("doc_id")).distinct()

    # ---- stages 4+5: surviving doc ids + per-language stats (the
    # integrity gate), ONE atomic snapshot. Both frames derive from the
    # same surv_feats subplan (feats minus drops — deterministic given
    # the committed features/exact_dups/near_pairs partitions, so
    # kill-resume reproduces them byte-identically), and each commit
    # carries a constant ~1s snapshot tail that is pure Amdahl tax on
    # the N→4N ratio — batching the two cheap finalize stages halves it.
    surv_feats = exact_unique_feats.join(_maybe_bcast(near_drop, n_docs),
                                         "doc_id", "left_anti")
    need_surv = "survivors" not in committed
    need_stats = "stats" not in committed
    if need_surv or need_stats:
        def _finalize():
            pending = []
            if need_surv:
                pending.append(table.write_partition(
                    surv_feats.select("doc_id")
                    .sortWithinPartitions("doc_id"), "survivors"))
            if need_stats:
                stats = (surv_feats
                         .groupBy("lang")
                         .agg(F.count("*").alias("n_docs"),
                              F.sum("n_tokens").alias("sum_tokens"),
                              F.sum("n_bpe_tokens").alias("sum_bpe_tokens"),
                              F.round(F.avg("quality"), 6).alias("avg_quality"))
                         .sortWithinPartitions("lang"))
                pending.append(table.write_partition(stats, "stats"))
            table.commit(pending, run_id)
        _timed("finalize", _finalize)

    # ---- stage 6 (opt-in): pack survivors into fixed-budget training
    # sequences per language (operators/trainprep concat-and-chunk) —
    # the handoff artifact a pretraining loader consumes
    if args.pack_budget and "sequences" not in committed:
        from geopy_spark.operators.trainprep import pack_sequences
        pk_in = surv_feats.select("doc_id", "lang", "n_tokens")
        _timed("sequences", lambda: table.commit(
            [table.write_partition(
                pack_sequences(pk_in, args.pack_budget, shard_col="lang")
                .sortWithinPartitions("lang", "seq_id"), "sequences")],
            run_id))

    # committed row count from manifest metadata (zero Spark jobs);
    # adapters without the method fall back to a count action
    if hasattr(table, "partition_rows"):
        n_surv = table.partition_rows("survivors")
    else:
        n_surv = table.read_partition(spark, "survivors").count()
    wall = time.monotonic() - t0
    result = {
        "run_id": run_id,
        "rows_in": n_docs,
        "survivors": n_surv,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_docs / wall, 1),
        "snapshots": table.current_version(),
        "partitions": len(table.committed_partitions()),
        "stage_sec": stage_s,
    }
    if own_spark and stop_session:
        spark.stop()
    return result


def _maybe_fail(args, stage: str) -> None:
    if args.fail_after == stage:
        print(f"FAULT-INJECT: exiting after committing {stage}", flush=True)
        os._exit(42)


if __name__ == "__main__":
    print(json.dumps(run(build_args(), stop_session=False)), flush=True)
    os._exit(0)  # same rationale as tile_pipeline: state is durably committed
