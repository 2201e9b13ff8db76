#!/usr/bin/env python3
"""Capture .explain("formatted") for every bench query DataFrame.

Usage: python scripts/capture_plans.py OUTDIR [SUFFIX]

Reconstructs the same DataFrames bench.py times (same operators, same
parameters, same corpus shape — row count scaled down via
SPARK_GRAFT_BENCH_ROWS since the physical plan shape is row-count
independent before AQE runs) and writes OUTDIR/<query>_<SUFFIX>.txt.
Run from the repo whose plans you want (the parent checkout for
"before", the changed tree for "after").  ``SPARK_GRAFT_CPUS`` defaults to
the host's CPU count; set it to match the run you compare against.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

os.environ.setdefault("SPARK_GRAFT_BENCH_ROWS", "60000")
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

OUTDIR = sys.argv[1]
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "plan"


def main() -> None:
    import bench

    os.makedirs(OUTDIR, exist_ok=True)
    spark = bench.build_spark(bench.CPUS)
    from pyspark.sql import functions as F

    from hidden_characters_detector_spark.functions.kernel import FULL_CLEAN
    from hidden_characters_detector_spark.operators import (
        bloom, decontam, dedup, line_dedup, packing, similarity,
        substr_dedup, text_analysis)
    from hidden_characters_detector_spark.operators.clean import (
        clean_detect, detect_events)

    SF_DIR = bench.SF_DIR
    cpus = bench.CPUS
    tok, _ = bench.corpus(spark, cpus)
    tok = tok.localCheckpoint()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    reps = spark.range(0, 30, 1, numPartitions=2 * cpus)
    rep_corpus = (reps.crossJoin(F.broadcast(docs))
                  .selectExpr("concat(doc_id, '_', id) AS doc_id",
                              "concat(id, '_', text) AS text"))
    docs_raw = docs.localCheckpoint()
    line_corpus = (reps.crossJoin(F.broadcast(docs))
                   .selectExpr(
                       "concat(doc_id, '_', id) AS doc_id",
                       "concat('shared header v', doc_id % 4, char(10), "
                       "replace(text, ' the ', char(10)), char(10), "
                       "'shared corpus footer') AS text")
                   .localCheckpoint())
    evl = docs.where("doc_id % 7 = 0") \
        .selectExpr("doc_id", "substr(text, 11) AS text")
    docs_src = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text", "source").localCheckpoint()
    n_src = docs_src.select("source").distinct().count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding").localCheckpoint()
    n_emb = emb.count()
    bloom_corpus = rep_corpus.localCheckpoint()

    cleaned = clean_detect(tok, FULL_CLEAN)

    def density():
        salted = (cleaned.groupBy(
            F.window("event_time", "1 minute"), "source",
            F.pmod(F.hash("doc_id"), F.lit(16)).alias("salt"))
            .agg(F.sum("n_detected").alias("c"),
                 F.approx_count_distinct("doc_id").alias("d")))
        return (salted.groupBy("window", "source")
                .agg(F.sum("c").alias("n_detections"),
                     F.sum("d").alias("docs_est"))
                .orderBy(F.desc("n_detections")).limit(10))

    m, k = 1 << 21, 5
    bits = bloom.bloom_build(bloom_corpus, "text", m=m, k=k)

    dfs = {
        "clean_full": cleaned.agg(
            F.count("*"), F.sum("n_detected"), F.sum("n_tok_clean"),
            F.sum(F.col("had_marker").cast("long"))),
        "events_by_type": (
            detect_events(tok, FULL_CLEAN, keep=[],
                          event_cols=["token", "marker_type", "action"])
            .groupBy("marker_type", "action")
            .agg(F.count("*"), F.sum("token"))),
        "density_windows": density(),
        "clean_roundtrip": (
            cleaned.where("had_marker")
            .select("source", (F.col("n_tok") - F.col("n_tok_clean"))
                    .alias("removed"))
            .groupBy("source").agg(F.count("*"), F.sum("removed"))),
        "dedup_minhash": dedup.minhash_signatures(rep_corpus).agg(
            F.count("*"), F.min(F.element_at("minhash", 1))),
        "dedup_e2e_pairs": dedup.verified_near_dups(
            docs_raw, jaccard_threshold=0.85, bands=8),
        "pack_chunk": packing.chunk_tokens(tok, chunk=128, overlap=32)
        .agg(F.count("*"), F.sum("n_chunk_tokens")),
        "pack_summary": packing.pack_summary(
            tok.select("doc_id", "n_tok"), budget=2048, buckets=64)
        .agg(F.count("*"), F.sum("n_tokens"), F.avg("n_docs")),
        "block_pack": packing.pack_blocks(
            tok.selectExpr("CAST(substr(doc_id, 4) AS LONG) AS doc_id",
                           "tokens"), block=2048)
        .agg(F.count("*"), F.sum("n_tokens"), F.max("n_docs")),
        "line_dedup": line_dedup.dedup_lines(line_corpus, min_docs=50)
        .agg(F.count("*"), F.sum("n_lines_dropped"), F.sum("n_lines_kept")),
        "decontam": decontam.contamination_report(line_corpus, evl, k=20)
        .agg(F.count("*"), F.sum("n_hits")),
        "tfidf": text_analysis.tfidf_terms(docs_src, top=20,
                                           n_sources=n_src)
        .agg(F.count("*"), F.sum("tfidf")),
        "substr_dedup": substr_dedup.remove_duplicated_spans(docs, k=40)
        .agg(F.count("*"), F.sum(F.length("text_dedup"))),
        "bloom_e2e": bloom.bloom_might_contain_py(
            bloom_corpus, bits, "text", m=m, k=k)
        .agg(F.count("*"),
             F.sum(F.col("might_contain").cast("long"))),
        "ann_ivf_batch": similarity.ivf_batch_topk(
            emb, emb.where("vec_id % 10 = 0").selectExpr(
                "vec_id AS query_id", "embedding"),
            k=10, nprobe=3, iters=2, n_vectors=n_emb)
        .agg(F.count("*"), F.sum("rank")),
    }
    import contextlib
    import io

    for name, df in dfs.items():
        path = os.path.join(OUTDIR, f"{name}_{SUFFIX}.txt")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
