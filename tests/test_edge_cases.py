"""Degenerate-input behavior of the training-data operators.

The DuckDB oracle gate runs on well-formed synthetic corpora; these tests
pin what each operator does on the inputs a real 100 TB ingest WILL
contain — empty documents, single tokens, whitespace runs, unicode — so a
refactor that changes degenerate behavior fails loudly instead of
corrupting a production run silently.
"""

import pytest

from satellitetools_spark.operators import dedup as D
from satellitetools_spark.operators import sampling as SAMP
from satellitetools_spark.operators import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_simhash_empty_doc_gets_all_ones_signature(spark):
    # zero tokens -> every bit majority is (0 >= 0) = set; two empty docs
    # are Hamming-0 near-dups of each other, never of a non-empty doc here
    df = _docs(spark, [("a", ""), ("b", "   "), ("c", "real words here")])
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert sigs["a"] == sigs["b"] == -1  # all 64 bits set, int64 view
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in D.simhash_near_pairs(df).collect()}
    assert pairs == {("a", "b"): 0}


def test_token_ops_on_empty_and_whitespace_docs(spark):
    df = _docs(spark, [("a", ""), ("b", " \t\n "), ("c", "one")])
    stats = {r["doc_id"]: r for r in TX.token_stats(df).collect()}
    assert stats["a"]["n_tokens"] == 0 and stats["b"]["n_tokens"] == 0
    assert stats["c"]["n_tokens"] == 1
    # quality scoring must not divide by zero on empty docs
    q = {r["doc_id"]: r for r in TX.quality_score(df).collect()}
    assert all(r["quality"] is not None for r in q.values())


def test_winnow_and_shingles_shorter_than_window(spark):
    # a doc with fewer tokens than the shingle size yields no fingerprints
    # (not a crash, not a spurious self-match)
    df = _docs(spark, [("a", "too short"), ("b", "x"), ("c", "")])
    assert TX.winnow_fingerprints(df).count() == 0
    assert D.word_shingles(df, n=5).count() == 0


def test_hash_split_covers_every_doc_exactly_once(spark):
    df = _docs(spark, [(f"d{i}", "t") for i in range(200)])
    out = SAMP.hash_split(df,
                          splits=[("train", 80), ("val", 10), ("test", 10)])
    rows = out.collect()
    assert len(rows) == 200
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(r["split"] is not None for r in rows)


def test_doc_frequency_unicode_and_case_fold(spark):
    df = _docs(spark, [("a", "Sää sää CAFE cafe"), ("b", "sää cafe")])
    dfreq = {r["token"]: r["df"]
             for r in TX.doc_frequency(df, min_df=1).collect()}
    # [a-z0-9]+ tokenization splits on non-ASCII: 'sää' -> 's'
    assert dfreq.get("cafe") == 2 and dfreq.get("s") == 2


def test_exact_dedup_all_duplicates_single_survivor(spark):
    df = _docs(spark, [("z", "same text"), ("a", "same  text"),
                       ("m", "same text")])
    rows = D.exact_dedup(df).collect()
    # whitespace-normalized fingerprint: all three collapse; keeper is the
    # deterministic min doc_id and every row is flagged duplicate
    assert {r["keeper"] for r in rows} == {"a"}
    assert all(r["is_duplicate"] for r in rows)


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a string, doc_b string")
    assert D.connected_components(pairs).count() == 0


def test_flagship_on_empty_corpus_returns_zero_rows(spark, geodata_small):
    import os
    from satellitetools_spark.plans import flagship_timeseries
    from satellitetools_spark.sources import read_documents
    docs = read_documents(
        spark, os.path.join(geodata_small, "docs.parquet"))
    empty = docs.filter("doc_id = 'no-such-doc'")
    assert flagship_timeseries(empty).count() == 0


def test_ivf_with_fewer_vectors_than_centroids(spark):
    from satellitetools_spark.operators.similarity import ivf_topk
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_topk(emb, query_ids=[0], k=3, n_centroids=16, nprobe=4)
    got = [r["neighbor_id"] for r in out.collect()]
    assert len(got) == 3 and len(set(got)) == 3
