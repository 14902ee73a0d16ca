"""Round-3 pipeline operators: connected components (dedup clusters),
deterministic stratified sampling and hash splits."""

import logging
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import dedup
from datacontract_cli_spark.operators.sampling import hash_split, stratified_sample


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

# both code paths must produce identical components: the driver
# union-find (small edge sets) and the distributed label propagation
# (forced by setting dedup._CC_LOCAL_EDGES to 0)
_CC_PATHS = ["local", "distributed"]


@pytest.fixture(params=_CC_PATHS)
def cc_path(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", 0)
    return request.param


def test_connected_components_basic(spark, cc_path):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long")
    got = {r["node"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_long_chain(spark, cc_path):
    # a path graph exercises multi-round propagation
    n = 12
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "id_a long, id_b long")
    got = dedup.connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == n + 1


def test_connected_components_double_ids_rounding_adversary(spark, monkeypatch):
    """Double node ids must NOT use the decimal-sum convergence fast path:
    all these labels round to the same integer under decimal(38,0), so the
    label sum is invariant across rounds even while labels are still
    propagating — a sum-based test would declare convergence after round 1
    with a 3-way split of one true component (ADVICE r5). Forced onto the
    distributed path, where the sum shortcut lives."""
    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", 0)
    vals = [11.4, 11.2, 11.0, 10.8, 10.6]
    pairs = spark.createDataFrame(
        [(vals[i], vals[i + 1]) for i in range(len(vals) - 1)],
        "id_a double, id_b double")
    got = dedup.connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {10.6}
    assert len(got) == len(vals)


def test_connected_components_string_ids_long_chain(spark, cc_path):
    """Non-numeric node ids have no label sum — convergence must fall
    back to the changed-label join, and a chain still fully collapses
    (a premature fixed-point would stop after distance 2)."""
    n = 12
    pairs = spark.createDataFrame(
        [(f"doc{i:04d}", f"doc{i + 1:04d}") for i in range(n)],
        "id_a string, id_b string")
    got = dedup.connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {"doc0000"}
    assert len(got) == n + 1


def test_connected_components_releases_caches(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    before = len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    out = dedup.connected_components(pairs)
    out.collect()
    after = len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    # a one-pair graph takes the driver path, which stores no blocks
    assert after - before <= 0


def _reference_components(edges):
    """Plain-Python union-find: node -> minimum id of its component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# long, string and double ids over one small node space; the double map
# sends 0 to -0.0 and 6 to 0.0, which Spark's joins and aggregates (and
# Python) treat as one node
_ID_TYPES = {
    "long": (lambda i: i * 7 - 30, "long"),
    "string": (lambda i: f"d{i}", "string"),
    "double": (lambda i: -0.0 if i == 0 else (i - 6) / 4, "double"),
}


@pytest.mark.parametrize("id_type", sorted(_ID_TYPES))
@settings(max_examples=3, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)),
                min_size=1, max_size=25))
def test_connected_components_paths_match_reference(spark, id_type, raw):
    # raw edges include duplicates, both directions and self-loops
    to_id, dtype = _ID_TYPES[id_type]
    edges = [(to_id(a), to_id(b)) for a, b in raw]
    pairs = spark.createDataFrame(edges, f"id_a {dtype}, id_b {dtype}")
    want = _reference_components(edges)
    for local_edges in (dedup._CC_LOCAL_EDGES, 0):  # driver, distributed
        with mock.patch.object(dedup, "_CC_LOCAL_EDGES", local_edges):
            rows = dedup.connected_components(pairs).collect()
        got = {r["node"]: r["cluster_id"] for r in rows}
        assert len(rows) == len(got) == len(want), (local_edges, rows)
        assert got == want, local_edges


def test_connected_components_small_path_jobs_and_cache(spark):
    # the small path reads the (already materialized) pairs in two jobs,
    # a count and the collect, and leaves nothing in the cache
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = spark.range(200).select(F.col("id").alias("id_a"),
                                    (F.col("id") + 1).alias("id_b")) \
        .persist()
    pairs.count()
    sc.setJobGroup("cc-small-path", "connected components small path")
    try:
        out = dedup.connected_components(pairs)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("cc-small-path")) <= 2
    pairs.unpersist()
    assert cache.isEmpty()
    assert {r["cluster_id"] for r in out.collect()} == {0}


@pytest.mark.parametrize("local_edges,path", [
    (None, "driver union-find"), (0, "distributed label propagation")])
def test_connected_components_logs_path(spark, caplog, monkeypatch,
                                        local_edges, path):
    if local_edges is not None:
        monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", local_edges)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "id_a long, id_b long")
    with caplog.at_level(logging.INFO, logger=dedup.__name__):
        dedup.connected_components(pairs)
    msgs = [r.getMessage() for r in caplog.records
            if r.name == dedup.__name__]
    assert msgs == [f"connected_components: 3 edges, {path}"]


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------

def test_stratified_sample_quota_and_determinism(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = stratified_sample(docs, "lang", 5, "doc_id").select("doc_id", "lang")
    s2 = stratified_sample(docs.repartition(7), "lang", 5, "doc_id") \
        .select("doc_id", "lang")
    r1 = sorted(map(tuple, s1.collect()))
    r2 = sorted(map(tuple, s2.collect()))
    assert r1 == r2, "sample must not depend on partitioning"
    per_lang = {}
    for _, lang in r1:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    assert all(v <= 5 for v in per_lang.values())
    n_langs = docs.select("lang").distinct().count()
    assert len(per_lang) == n_langs


def test_hash_split_stable_and_complete(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = hash_split(docs, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = docs.count()
    assert sum(counts.values()) == total
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]
    # same id -> same split under different partitioning
    out2 = hash_split(docs.repartition(5), "doc_id",
                      {"train": 0.8, "valid": 0.1, "test": 0.1})
    m1 = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    m2 = {r["doc_id"]: r["split"] for r in out2.select("doc_id", "split").collect()}
    assert m1 == m2


def test_hash_split_rejects_bad_weights(spark):
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"a": 0.5, "b": 0.2})


def test_winnow_arrow_kernel_guarantee_and_determinism(spark):
    from datacontract_cli_spark.operators import dedup
    shared = "zqxwvu shared substring block here"  # > k+window-1 chars
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "different lead " + shared + " other tail"),
        (3, "completely unrelated text with nothing common at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.winnow_shared_pairs(df, "doc_id", k=8, window=4,
                                      min_shared=1, hash_family="arrow")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # winnowing guarantee: docs sharing a substring of length >= k+window-1
    # share at least one fingerprint, regardless of hash family
    assert (1, 2) in got
    assert not any(3 in p for p in got)
    # deterministic under different partitioning
    again = dedup.winnow_shared_pairs(df.repartition(5), "doc_id", k=8,
                                      window=4, min_shared=1,
                                      hash_family="arrow")
    assert {(r["id_a"], r["id_b"]) for r in again.collect()} == got


def test_simhash_arrow_kernel(spark):
    from datacontract_cli_spark.operators import dedup
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again today"),  # dup
        (3, "the quick brown fox jumps over the lazy cat again today"),  # near
        (4, "entirely different words about benchmarks and shuffles"),
        (5, ""),  # empty doc must not crash or alias a neighbor's bits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.simhash_near_duplicates(df, "doc_id", max_hamming=3,
                                           hash_family="arrow").collect()}
    assert (1, 2) in pairs           # identical: hamming 0 in ANY family
    assert not any(4 in p for p in pairs)
    assert not any(5 in p for p in pairs)
    # signatures deterministic under partitioning
    s1 = dedup._simhash_words_arrow(df, "doc_id").orderBy("id").collect()
    s2 = dedup._simhash_words_arrow(df.repartition(4), "doc_id") \
        .orderBy("id").collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2]
    # identical docs have identical signatures; empty doc is all-zero
    by_id = {r["id"]: r for r in s1}
    assert by_id[1]["bits"] == by_id[2]["bits"]
    assert all(b == 0 for b in by_id[5]["bits"])
