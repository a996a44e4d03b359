"""End-to-end LLM training-data curation demo, composed from the
operator library — the pipeline a 100 TB corpus actually runs, at demo
scale:

  1. contract-pinned load of the documents table,
  2. Gopher rule battery + quality gate (score >= corpus 25th pct),
  3. exact dedup (normalized-hash keep-best),
  4. MinHash-LSH near-dup pairs -> connected components -> keep the
     min-id representative per cluster,
  5. SemDeDup semantic scrub over the embeddings table (cluster-local
     cosine near-twin drop, joined back on doc id),
  6. language mixture sampling to target proportions,
  7. sequence packing into fixed token budgets,
  8. contract-pinned parquet sink (schema proven before the write),
     then small-file compaction of the output directory.

Every stage is a pure function of the data (hash-based sampling, no
RNG), so the whole pipeline is reproducible and resumable.

Run:  PYTHONPATH=. python examples/llm_curation_demo.py [sf_dir]
"""

from __future__ import annotations

import dataclasses
import sys

from pyspark.sql import functions as F

from compile_time_data_contracts_spark.catalog import load_table
from compile_time_data_contracts_spark.contracts.policies import SchemaPolicy
from compile_time_data_contracts_spark.contracts.shape import contract
from compile_time_data_contracts_spark.contracts.types import int32
from compile_time_data_contracts_spark.operators.materialize import scratch_dir
from compile_time_data_contracts_spark.operators.dedup import (
    connected_components_star,
    keep_best_dedup,
    minhash_near_dup_pairs,
    semantic_dedup,
)
from compile_time_data_contracts_spark.operators.sampling import (
    mix_to_proportions,
    pack_sequences,
    split_by_cluster,
)
from compile_time_data_contracts_spark.operators.text import (
    gopher_quality,
    quality_score,
)
from compile_time_data_contracts_spark.session import local_session
from compile_time_data_contracts_spark.sources.io import Sink, write_df


@contract
@dataclasses.dataclass
class CuratedDoc:
    doc_id: int
    lang: str
    text: str
    quality: float
    pack_id: int32  # pack_sequences emits 32-bit pack ids


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = local_session(
        "ctdc-curation-demo",
        cores=4,
        **{"spark.sql.shuffle.partitions": "8"},
    )

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 2. Gopher rule battery first (codegen, same scan), then the
    # percentile quality gate
    rules = docs.select("*", *gopher_quality("text", min_stop_hits=0))
    ruled = rules.filter(F.col("gopher_keep")).drop(
        "n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "stop_hits", "gopher_keep",
    )
    n_ruled = ruled.count()
    scored = ruled.withColumn("quality", quality_score("text"))
    cut = scored.agg(F.percentile("quality", F.lit(0.25)).alias("c"))
    gated = scored.crossJoin(F.broadcast(cut)).filter(
        F.col("quality") >= F.col("c")
    ).drop("c")
    n1 = gated.count()

    # 3. exact dedup, keeping the smallest doc_id per normalized text
    exact = keep_best_dedup(gated, col="text", score_col="doc_id")
    n2 = exact.count()

    # 4. near-dup scrub: LSH pairs -> components -> keep representatives
    pairs = minhash_near_dup_pairs(exact, threshold=0.5)
    clusters = connected_components_star(pairs)
    scrubbed = (
        exact.join(
            clusters.withColumnRenamed("doc_id", "__cid").withColumnRenamed(
                "cluster_id", "__rep"
            ),
            exact.doc_id == F.col("__cid"),
            "left",
        )
        .filter(F.col("__rep").isNull() | (F.col("__rep") == F.col("doc_id")))
        .drop("__cid", "__rep")
    )
    n3 = scrubbed.count()

    # 4b. semantic scrub: embeddings' cluster label plays the coarse
    # quantizer; survivors join back on doc id (ids align by generator)
    emb = load_table(spark, sf_dir, "embeddings")
    sem_keep = semantic_dedup(emb, threshold=0.35).withColumnRenamed(
        "vec_id", "doc_id"
    )
    scrubbed = scrubbed.join(
        F.broadcast(sem_keep), "doc_id", "semi"
    ) if sem_keep.count() < 100000 else scrubbed.join(sem_keep, "doc_id", "semi")
    n3b = scrubbed.count()

    # 5. deterministic mixture to target language proportions
    mixed = mix_to_proportions(
        scrubbed, "lang", "doc_id", {"en": 0.5, "fr": 0.3, "zh": 0.2}
    )
    n4 = mixed.count()

    # 5b. leakage-safe train/val/test assignment: split by the hash of
    # the near-dup CLUSTER id (not the doc id), so if any near-copies
    # survive upstream relaxations they can never straddle splits
    labels = (
        mixed.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
        )
    )
    assigned = split_by_cluster(labels).select("doc_id", "split")
    mixed = mixed.join(F.broadcast(assigned), "doc_id")
    split_counts = {
        r["split"]: r["n"]
        for r in mixed.groupBy("split").agg(F.count("*").alias("n")).collect()
    }

    # 6. pack into 512-token sequences in doc-id order
    from compile_time_data_contracts_spark.operators.text import token_count

    packed = pack_sequences(
        mixed.withColumn("n_tokens", token_count("text")), budget=512
    )
    out = packed.select("doc_id", "lang", "text", "quality", "pack_id")
    n_packs = out.select("pack_id").distinct().count()

    # 8. contract-pinned sink: the schema proof runs BEFORE the write;
    # then compact the output (streaming appends fragment over time)
    dest = scratch_dir("ctdc-curated-")
    write_df(out, Sink(CuratedDoc, dest), SchemaPolicy.EXACT)
    from compile_time_data_contracts_spark.sources.layout import compact_parquet

    cstats = compact_parquet(spark, dest, target_file_bytes=128 << 20)

    print(
        f"loaded {n0} -> gopher-ruled {n_ruled} -> quality-gated {n1} "
        f"-> exact-deduped {n2} -> near-dup-scrubbed {n3} "
        f"-> semantic-scrubbed {n3b} -> mixed {n4} "
        f"(split {split_counts}) -> {n_packs} packs "
        f"-> {dest} ("
        + (
            f"compacted {cstats['files_before']} -> "
            f"{cstats['files_after']} files)"
            if cstats["partitions_compacted"]
            else "already compact)"
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
