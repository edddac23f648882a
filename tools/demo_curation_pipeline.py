"""Narrated end-to-end training-data curation run — the LLM-pipeline
operators composing as one job, the way a real pretraining data refresh
uses them:

  documents
    → quality scoring + language ID          (llm/text)
    → exact dedup                            (llm/dedup)
    → near-dup clusters → keep-best survivor (llm/dedup + llm/cluster)
    → benchmark decontamination audit        (llm/decontam)
    → deterministic train/val/test split     (operators/sampling)
    → sequence packing into context windows  (operators/packing)
    → embedding-index certificates           (llm/similarity + llm/pq)

Each stage prints wall-clock + row counts. Run:

    python tools/demo_curation_pipeline.py [sf_dir]    # default sf0.01
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(SessionConfig(app_name="curation-demo"))
    spark.sparkContext.setLogLevel("ERROR")

    t_all = time.time()
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()
    print(f"[0] corpus: {n0:,} documents ({sf_dir})")

    from sparkksqldbbenchmark_spark.llm import text as text_ops

    t0 = time.time()
    scored = text_ops.with_quality_scores(text_ops.with_lang_id(docs))
    kept_quality = scored.where(F.col("quality_score") >= 0.3)
    n1 = kept_quality.count()
    print(
        f"[1] quality+lang filter: {n0:,} -> {n1:,} docs "
        f"({time.time() - t0:.1f}s)"
    )

    from sparkksqldbbenchmark_spark.llm import dedup

    t0 = time.time()
    survivors = dedup.exact_dedup_groups(
        kept_quality, "text", "doc_id"
    ).select(F.col("canonical_id").alias("doc_id"))
    exact = kept_quality.join(survivors, "doc_id")
    n2 = exact.count()
    print(
        f"[2] exact dedup: {n1:,} -> {n2:,} docs "
        f"({time.time() - t0:.1f}s)"
    )

    from sparkksqldbbenchmark_spark.llm.cluster import (
        connected_components_min_label,
    )

    t0 = time.time()
    pairs = dedup.minhash_lsh_pairs(exact, "text", "doc_id")
    labels = connected_components_min_label(
        exact.select(F.col("doc_id").alias("id")),
        pairs,
        src_col="doc_a",
        dst_col="doc_b",
    )
    quality = scored.select("doc_id", "quality_score")
    best = (
        labels.select(F.col("id").alias("doc_id"), "component")
        .join(quality, "doc_id")
        .groupBy("component")
        .agg(
            F.max_by(
                F.struct("doc_id"),
                F.struct(F.col("quality_score"), -F.col("doc_id")),
            ).alias("__best")
        )
        .select(F.col("__best.doc_id").alias("doc_id"))
    )
    canonical = exact.join(best, "doc_id")
    n3 = canonical.count()
    print(
        f"[3] near-dup keep-best: {n2:,} -> {n3:,} docs "
        f"({pairs.count()} dup pairs) ({time.time() - t0:.1f}s)"
    )

    from sparkksqldbbenchmark_spark.llm.decontam import ngram_overlap

    t0 = time.time()
    eval_df = docs.where(F.col("doc_id") % 50 == 0)
    audit = ngram_overlap(canonical, eval_df, n=8, threshold=0.3)
    n_contaminated = audit.where("contaminated").count()
    clean = canonical.join(
        audit.where("contaminated").select("doc_id"), "doc_id", "left_anti"
    )
    n4 = clean.count()
    print(
        f"[4] decontamination: {n3:,} -> {n4:,} docs "
        f"({n_contaminated} contaminated vs {eval_df.count()} eval docs) "
        f"({time.time() - t0:.1f}s)"
    )

    from sparkksqldbbenchmark_spark.operators.sampling import hash_split

    t0 = time.time()
    split = hash_split(clean, "doc_id")
    split_counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    print(f"[5] hash split: {split_counts} ({time.time() - t0:.1f}s)")

    from sparkksqldbbenchmark_spark.llm.hashing import spark_tokens
    from sparkksqldbbenchmark_spark.operators.packing import pack_offsets

    t0 = time.time()
    train = split.where(F.col("split") == "train").select(
        "doc_id",
        F.size(F.expr(spark_tokens("text"))).cast("long").alias("n_tokens"),
    )
    packed = pack_offsets(train, capacity=2048)
    stats = packed.agg(
        F.countDistinct("pack_id").alias("packs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum(F.col("straddles").cast("long")).alias("straddlers"),
    ).collect()[0]
    print(
        f"[6] sequence packing: {stats['tokens']:,} tokens -> "
        f"{stats['packs']:,} packs of 2048 ({stats['straddlers']} docs "
        f"straddle) ({time.time() - t0:.1f}s)"
    )

    # Embedding-side quality certificates: retrieval recall for the
    # approximate index and representation error for the compressed
    # codes — the two numbers a production vector pipeline monitors.
    from sparkksqldbbenchmark_spark.llm import similarity
    from sparkksqldbbenchmark_spark.llm.pq import pq_quantization_error

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.time()
    exact = similarity.cosine_topk(emb).select("query_id", "cand_id")
    ann = similarity.ann_lsh_topk(emb).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    rec = (
        exact.join(ann, ["query_id", "cand_id"], "left")
        .agg(
            (F.count("hit") * 100 / F.count(F.lit(1)))
            .cast("int")
            .alias("recall_pct")
        )
        .collect()[0]
    )
    pq = pq_quantization_error(emb).agg(
        F.sum("n_vectors").alias("nv"),
        F.sum("total_err_nano").alias("err"),
        F.min("used_centroids").alias("min_used"),
    ).collect()[0]
    print(
        f"[7] index certificates: LSH recall@5 {rec['recall_pct']}% vs "
        f"exact; PQ codebooks quantize {pq['nv']:,} subvectors with "
        f"mean err {pq['err'] / max(pq['nv'], 1) / 1e9:.4f} "
        f"(min utilization {pq['min_used']}/8 entries) "
        f"({time.time() - t0:.1f}s)"
    )
    print(f"TOTAL {time.time() - t_all:.1f}s")


if __name__ == "__main__":
    main()
