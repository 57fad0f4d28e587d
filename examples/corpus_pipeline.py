"""End-to-end LLM training-corpus pipeline on this engine — the
large-scale-pipeline operators from the driver brief, composed the way a
data-curation job would run them at 100 TB:

 1. ingest the documents table; profile it (one-scan wide aggregate)
 2. quality gate: Gopher-style rules + language-ID + PII redaction
 3. exact dedup (digest group-by) then MinHash+LSH near-dup pruning
 4. transitive near-dup clustering -> keep one doc per cluster
 5. TF-IDF top terms as lightweight features
 6. key-stable train/test split (no rand(); reproducible across runs)
 7. ANN neighbors over the embeddings table for the surviving docs

Run: python examples/corpus_pipeline.py   (read-only; prints one summary
line per stage)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from soict20221_bigdata_financialplatform_spark import get_spark
from soict20221_bigdata_financialplatform_spark.metrics import quality_metrics
from soict20221_bigdata_financialplatform_spark.operators import corpus, dedup, similarity
from soict20221_bigdata_financialplatform_spark.plans.linter import (
    assert_scalable,
)
from soict20221_bigdata_financialplatform_spark.operators.components import (
    connected_components,
)
from soict20221_bigdata_financialplatform_spark.queries import QUERIES
from soict20221_bigdata_financialplatform_spark.sources import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def launch(df):
    """Pre-launch scale gate (r7 VERDICT task 5): every stage frame goes
    through ``assert_scalable`` BEFORE its first action, so a plan that
    would melt at 100 TB — conditional nested-loop join, cartesian
    product, global or constant-partition ordered window — raises
    ``ValueError`` here instead of launching a job. Plan-shape only: the
    gate itself runs no tasks."""
    assert_scalable(df)
    return df


def main() -> None:
    spark = get_spark("corpus-pipeline-example")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, SF_DIR, "documents")
    n0 = docs.count()
    print(f"[1] ingest: {n0} documents")
    prof = launch(corpus.profile(docs, ["text", "lang", "source"]))
    print(f"[1] profile rows: {prof.count()} (one scan, stack-unpivoted)")

    # 2. quality gate (metrics ride the same action — no extra scan) -------
    survivors, obs = quality_metrics(
        launch(corpus.quality_filter(docs, "text")), "quality_gate",
        ["text", "lang"],
    )
    n2 = survivors.count()
    m = obs.get
    print(
        f"[2] quality gate: {n2} survive ({n0 - n2} dropped); "
        f"observed rows={m['rows']} null_text={m['nulls_text']}"
    )

    # 3. dedup: exact digest first (cheap), then banded LSH near-dup -------
    exact = launch(corpus.drop_exact_dups(survivors, "text", "doc_id"))
    n3 = exact.count()
    pairs = launch(dedup.minhash_near_dup_pairs(
        exact, num_hashes=64, bands=16, jaccard_threshold=0.5
    ))
    np_ = pairs.count()
    print(f"[3] exact dedup -> {n3}; LSH near-dup pairs: {np_}")

    # 4. transitive clusters -> canonical representative per cluster -------
    comps = launch(connected_components(pairs))  # (node, component); component = min id
    drop = comps.where(F.col("node") != F.col("component"))
    kept = exact.join(
        drop.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    )
    n4 = kept.count()
    print(f"[4] near-dup clustering: keep {n4} canonical docs")

    # 5. TF-IDF features on the kept corpus --------------------------------
    tfidf = launch(QUERIES["q86_tfidf_top_terms"](spark, SF_DIR))
    print(f"[5] tf-idf top-terms rows: {tfidf.count()}")

    # 6. reproducible split ------------------------------------------------
    train, test = corpus.train_test_split(kept, id_col="doc_id", test_fraction=0.1)
    print(f"[6] split: {train.count()} train / {test.count()} test (key-stable)")

    # 6b. weight-proportional WOR sample of the training side (q333's
    #     Efraimidis-Spirakis sampler): longer docs proportionally more
    #     likely, deterministic under replay -------------------------------
    wtrain = train.withColumn("n_chars", F.length("text").cast("long"))
    sample = launch(corpus.weighted_sample_es(wtrain, k=8, weight_col="n_chars"))
    print(f"[6b] weighted WOR sample: {sample.count()} docs (char-weighted)")

    # 7. ANN neighbors over embeddings ------------------------------------
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = launch(similarity.brute_force_topk_blocked(emb, queries, k=5))
    print(f"[7] ANN: {topk.count()} (query, neighbor) rows")

    # 8. dataloader layout: pack the kept docs into 2048-token training
    #    sequences (per-source cumsum — q104's operator) and report how much
    #    of the corpus a small vocabulary covers (q105) ---------------------
    packed = launch(QUERIES["q104_sequence_packing"](spark, SF_DIR))
    n_seqs = packed.agg(
        (F.max("seq_id") + 1).alias("n"), F.sum("n_tokens").alias("toks")
    ).first()
    cov = {
        r["k"]: r["coverage"]
        for r in QUERIES["q105_vocab_coverage"](spark, SF_DIR).collect()
    }
    print(
        f"[8] packing: {n_seqs['toks']} tokens -> ~{n_seqs['n']} blocks/shard; "
        f"top-10-word coverage {cov[10]:.3f}"
    )

    # 9. publish corpus composition under differential privacy (q334/q335):
    #    the per-source (count, char volume) mix table a data card would
    #    carry, Laplace-noised so it leaks no individual document ----------
    from soict20221_bigdata_financialplatform_spark.operators import privacy

    release = launch(
        privacy.dp_laplace_counts(kept, ["source"], epsilon=1.0, seed="card-v1")
        .select("source", "noisy_count")  # n_true stays internal
    )
    print(f"[9] DP release: {release.count()} source rows (eps=1, replayable)")

    print("corpus pipeline complete")


if __name__ == "__main__":
    main()
