"""End-to-end Spark pipeline vs single-node oracle (FIXTURES.md §4.1-4.3).

The Spark engine must be rank-identical to the oracle (ties
``(score DESC, doc_id ASC)``) with scores equal to 1e-6, and extracted text
byte-identical per url — the BASELINE.json per-row invariant.
"""

import math

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.corpus import QUERY_CORPUS
from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.plans.query import QueryEngine
from semantic_search_engine_spark.sources.store import HadoopTableStore
from semantic_search_engine_spark.textproc import (
    doc_id_for_url,
    resolve_text,
    tokenize,
)

CFG = EngineConfig(n_doc_buckets=8, n_term_buckets=8, shuffle_partitions=8,
                   block_size=32)  # small blocks → exercise multi-block terms


@pytest.fixture(scope="module")
def built(spark, tiny_corpus_dir, tmp_path_factory):
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("warehouse")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    builder = IndexBuilder(spark, store, CFG)
    runner = builder.build(docs)
    return store, runner


@pytest.fixture(scope="module")
def tiny_oracle_cfg(tiny_rows):
    return OracleIndex.build(tiny_rows, CFG)


def test_extraction_byte_identity(built, spark, tiny_rows):
    """Invariant 1: extract(html) bytes identical per url, Spark vs oracle."""
    store, _ = built
    got = {
        r["url"]: r["text"]
        for r in store.read("doc_features").select("url", "text").collect()
    }
    checked = 0
    for row in tiny_rows:
        expected = resolve_text(row["text"], row["html"],
                                CFG.prefer_provided_text)
        if expected is None:
            assert row["url"] not in got
            continue
        assert got[row["url"]].encode() == expected.encode(), row["url"]
        checked += 1
    assert checked == 199


def test_corpus_stats_match_oracle_exactly(built, tiny_oracle_cfg):
    store, _ = built
    row = store.read("corpus_stats").collect()[0]
    assert row["n_docs"] == tiny_oracle_cfg.n_docs
    assert row["total_tokens"] == tiny_oracle_cfg.total_tokens
    assert abs(row["avg_doc_len"] - tiny_oracle_cfg.avg_doc_len) < 1e-9


def test_term_stats_match_oracle(built, tiny_oracle_cfg):
    store, _ = built
    got = {r["term"]: (r["df"], r["cf"])
           for r in store.read("term_stats").collect()}
    assert len(got) == len(tiny_oracle_cfg.postings)
    for term, pl in tiny_oracle_cfg.postings.items():
        assert got[term][0] == len(pl), term
        assert got[term][1] == sum(tf for _, tf in pl), term


def test_postings_blocks_sorted_and_complete(built, tiny_oracle_cfg):
    store, _ = built
    from semantic_search_engine_spark.functions.varbyte import decode_block
    rows = store.read("postings").filter(F.col("term") == "zipfhead0") \
        .orderBy("partition_id", "block_id").collect()
    ids, tfs = [], []
    for r in rows:
        i, t, d = decode_block(bytes(r["doc_ids_vb"]), bytes(r["tfs_vb"]),
                               bytes(r["dls_vb"]))
        ids.extend(int(x) for x in i)
        tfs.extend(int(x) for x in t)
        assert len(i) == r["n_postings"]
    assert ids == sorted(ids)  # bucket-order concat is globally sorted
    assert ids == [d for d, _ in tiny_oracle_cfg.postings["zipfhead0"]]
    assert tfs == [tf for _, tf in tiny_oracle_cfg.postings["zipfhead0"]]


def test_rank_identity_on_query_corpus(built, spark, tiny_oracle_cfg):
    """Invariant 2: top-k rank-identical, scores within 1e-6."""
    store, _ = built
    qe = QueryEngine(spark, store, CFG)
    for pq in QUERY_CORPUS:
        expected = tiny_oracle_cfg.top_k(pq.query, k=10)
        got = qe.top_k(pq.query, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], pq.query
        for (gd, gs), (ed, es) in zip(got, expected):
            assert math.isclose(gs, es, abs_tol=1e-6), (pq.query, gd)


def test_filtered_search_matches_oracle(built, spark, tiny_oracle_cfg):
    store, _ = built
    qe = QueryEngine(spark, store, CFG)
    o = tiny_oracle_cfg.search("wireless bluetooth headphones", k=20,
                               lang="en")
    s = qe.search("wireless bluetooth headphones", k=20, lang="en")
    assert s["total_count"] == o["total_count"]
    assert [h["doc_id"] for h in s["results"]] == \
        [h["doc_id"] for h in o["results"]]


def test_pagination_matches_oracle(built, spark, tiny_oracle_cfg):
    store, _ = built
    qe = QueryEngine(spark, store, CFG)
    o = tiny_oracle_cfg.search("zipfhead0 zipfhead1", k=10, offset=10)
    s = qe.search("zipfhead0 zipfhead1", k=10, offset=10)
    assert [h["doc_id"] for h in s["results"]] == \
        [h["doc_id"] for h in o["results"]]
    assert s["total_count"] == o["total_count"]


def test_empty_and_min_score(built, spark, tiny_oracle_cfg):
    store, _ = built
    qe = QueryEngine(spark, store, CFG)
    assert qe.search("absentterm9z")["results"] == []
    assert qe.search("absentterm9z")["total_count"] == 0
    o = tiny_oracle_cfg.search("zipfhead0", k=100)
    cutoff = o["results"][4]["score"]
    s = qe.search("zipfhead0", k=100, min_score=cutoff)
    oc = tiny_oracle_cfg.search("zipfhead0", k=100, min_score=cutoff)
    assert s["total_count"] == oc["total_count"]


def test_threshold_search_rides_the_wand_fast_path(built, spark,
                                                   tiny_oracle_cfg):
    """min_score + count_mode='none' must run block-max WAND with a
    seeded theta (VERDICT r2 #3) and return exactly the exhaustive
    threshold result — including a threshold set to an achieved score
    (inclusive >=) and one above every score (empty page)."""
    store, _ = built
    qe = QueryEngine(spark, store, CFG)
    o = tiny_oracle_cfg.search("zipfhead0 zipfhead1", k=100)
    assert len(o["results"]) >= 5
    cutoff = o["results"][4]["score"]  # exactly the 5th-ranked score
    fast = qe.search("zipfhead0 zipfhead1", k=100,
                     min_score=cutoff, count_mode="none")
    slow = qe.search("zipfhead0 zipfhead1", k=100,
                     min_score=cutoff, count_mode="none",
                     mode="exhaustive")
    assert [h["doc_id"] for h in fast["results"]] == \
        [h["doc_id"] for h in slow["results"]] != []
    # inclusive >= : the doc achieving exactly `cutoff` is in the page
    assert any(h["score"] == cutoff for h in fast["results"])
    for f, s in zip(fast["results"], slow["results"]):
        assert math.isclose(f["score"], s["score"], abs_tol=0.0)
    # unreachable threshold → empty result through the fast path
    top = qe.search("zipfhead0 zipfhead1", k=10,
                    min_score=o["results"][0]["score"] * 10,
                    count_mode="none")
    assert top["results"] == [] and top["total_count"] == 0


def test_approx_count_mode(built, spark):
    """count_mode='approx' (VERDICT r2 #8): the page still comes from the
    WAND fast path; totalCount is a bucket-sampled estimate. Pinned: (a)
    sampling ALL buckets degenerates to the exact count, (b) the default
    quarter-sample lands within a 35% relative error of exact at sandbox
    scale (deterministic data ⇒ deterministic estimate), (c) the page
    itself matches the exact-count envelope."""
    store, _ = built
    qe = QueryEngine(spark, store, CFG)
    q = "zipfhead0 zipfhead1"
    exact = qe.search(q, k=10, count_mode="exact")
    approx = qe.search(q, k=10, count_mode="approx")
    assert [h["doc_id"] for h in approx["results"]] == \
        [h["doc_id"] for h in exact["results"]]
    assert exact["total_count"] > 20
    rel_err = abs(approx["total_count"] - exact["total_count"]) \
        / exact["total_count"]
    assert rel_err <= 0.35, (approx["total_count"], exact["total_count"])
    # full-sample degeneracy: estimate == exact count, filters included
    full = qe.approx_count(q, lang="en",
                           sample_buckets=list(range(CFG.n_doc_buckets)))
    exact_en = qe.search(q, k=10, lang="en",
                         count_mode="exact")["total_count"]
    assert full == exact_en


def test_resume_skips_all_stages(built, spark, tiny_corpus_dir):
    """Invariant 7: a rerun with unchanged inputs+config skips every stage."""
    store, _ = built
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    runner2 = IndexBuilder(spark, store, CFG).build(docs)
    assert all(m["skipped"] for m in runner2.metrics)


def test_build_from_null_typed_text_column(spark, tmp_path_factory,
                                          tiny_rows):
    """An input whose ``text`` column is all null AND typed ``null`` (not
    ``string``) reaches the extract UDF as NaN floats, not None; such a
    value must count as missing, so every row falls back to its html."""
    from pyspark.sql.types import NullType

    rows = tiny_rows[:40]
    docs = (spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, lang string")
        .withColumn("text", F.lit(None)))
    assert isinstance(docs.schema["text"].dataType, NullType)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_null")))
    IndexBuilder(spark, store, CFG).build(docs)
    got = {r["url"]: r["text"] for r in
           store.read("doc_features").select("url", "text").collect()}
    want = {r["url"]: resolve_text(None, r["html"]) for r in rows}
    want = {u: t for u, t in want.items() if t is not None}
    assert want and got == want
