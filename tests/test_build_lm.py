"""Persisted LM side tables (X74 serving path): build_lm's JVM-only
stages equal train_bigram_lm's counts, the loaded model serves
suggest_phrase identically (with bucket-pruned lookups), stages resume,
and staleness chains on the fingerprint."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.operators.lm import (
    load_lm,
    train_bigram_lm,
)
from semantic_search_engine_spark.operators.suggest_phrase import (
    suggest_phrase,
)
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.sources.store import HadoopTableStore

CFG = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                   shuffle_partitions=4, block_size=16)


@pytest.fixture(scope="module")
def built(spark, tiny_corpus_dir, tmp_path_factory):
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_lm")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    b = IndexBuilder(spark, store, CFG)
    b.build(docs)
    b.build_fuzzy()
    b.build_lm()
    return store, b


def test_persisted_counts_equal_training(spark, built):
    store, _ = built
    trained = train_bigram_lm(store.read("doc_features"))
    loaded = load_lm(store)
    assert loaded.total_tokens == trained.total_tokens
    got_u = sorted(map(tuple, loaded.unigrams.select("w", "c").collect()))
    want_u = sorted(map(tuple, trained.unigrams.collect()))
    assert got_u == want_u
    got_b = sorted(map(tuple, loaded.bigrams
                       .select("prev", "w", "c", "c_prev").collect()))
    want_b = sorted(map(tuple, trained.bigrams
                        .select("prev", "w", "c", "c_prev").collect()))
    assert got_b == want_b


def test_suggest_with_persisted_lm_and_pruning(spark, built):
    store, _ = built
    loaded = load_lm(store)
    trained = train_bigram_lm(store.read("doc_features"))
    deletes = store.read("term_deletes")
    q = "zipfhead0 zipfheed1"  # planted typo on a corpus head term
    a = suggest_phrase(q, deletes, loaded,
                       n_term_buckets=CFG.n_term_buckets)
    b = suggest_phrase(q, deletes, trained)
    assert a == b
    assert a[0]["suggestion"] == "zipfhead0 zipfhead1"
    assert a[0]["changed"]


def test_bucket_pruning_reaches_partition_filters(spark, built):
    store, _ = built
    loaded = load_lm(store)
    from semantic_search_engine_spark.textproc import term_bucket
    scan = loaded.unigrams.filter(
        (F.col("w_bucket") == term_bucket("zipfhead0",
                                          CFG.n_term_buckets))
        & F.col("w").isin(["zipfhead0"]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "w_bucket" in plan.split("PartitionFilters")[1][:200]


def test_build_lm_resumes(spark, built):
    store, b = built
    r2 = b.build_lm()
    assert all(m["skipped"] for m in r2.metrics)


def test_build_lm_refuses_english_analyzer(spark, tmp_path_factory):
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_en")))
    cfg = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16,
                       analyzer="english")
    with pytest.raises(NotImplementedError, match="simple analyzer"):
        IndexBuilder(spark, store, cfg).build_lm()
