"""The LSH operators on both lanes (arrow default, md5 reference),
verified against exact ground truth computed independently (DuckDB +
brute force):
- minhash banded-LSH candidate pairs at est >= 0.8 achieve recall 1.0
  against the exact n-gram Jaccard >= 0.8 pair set on the sf0.001 testdata
- simhash pigeonhole word-blocking is EXHAUSTIVE for hamming <= 3
  (equals the all-pairs brute force over the same lane's bits)
- sign-bucket embedding LSH loses no pair vs the exact all-pairs scan on
  planted near-duplicates
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _exact_jaccard_pairs(threshold=0.8):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    rows = con.execute("""
        WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        '\\s+', ' ', 'g')), ' ') AS t FROM documents),
        sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        list_distinct(list_transform(generate_series(1, len(t) - 2),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        ELSE [array_to_string(t, ' ')] END AS g FROM toks)
        SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.g, b.g))::DOUBLE /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= ?
    """, [threshold]).fetchall()
    return {(r[0], r[1]) for r in rows}


def _assert_minhash_recall(docs, kernel):
    exact = _exact_jaccard_pairs(0.8)
    found = {(r.id_a, r.id_b) for r in
             dedup.minhash_near_duplicates(docs, "doc_id", threshold=0.8,
                                           kernel=kernel).collect()}
    assert exact, "testdata should contain seeded near-duplicates"
    missed = exact - found
    assert not missed, \
        f"minhash {kernel} missed exact pairs: {sorted(missed)[:5]}"
    # precision at this threshold on this data: no spurious candidates
    assert found == exact


def test_minhash_md5_recall_vs_exact(docs):
    _assert_minhash_recall(docs, "md5")


def test_minhash_arrow_recall_vs_exact(docs):
    _assert_minhash_recall(docs, "arrow")


def test_minhash_kernels_agree(docs):
    """Both kernels (arrow/md5) find the same near-dup pair set at the
    oracled threshold on the sf0.001 testdata (hash families differ, the
    decision set should not)."""
    sets = {}
    for kernel in ("arrow", "md5"):
        sets[kernel] = {(r.id_a, r.id_b) for r in
                        dedup.minhash_near_duplicates(docs, "doc_id", threshold=0.8,
                                                      kernel=kernel).collect()}
    assert sets["arrow"] == sets["md5"]


def _assert_simhash_blocking_exhaustive(docs, family, words):
    """Pigeonhole 4-word blocking must equal all-pairs brute force for
    hamming <= 3 (4 words, <=3 differing bits => one word equal), with
    the brute force over the same lane's fingerprint bits."""
    blocked = {(r.id_a, r.id_b, r.hamming) for r in
               dedup.simhash_near_duplicates(docs, "doc_id", max_hamming=3,
                                             hash_family=family).collect()}
    s = words(docs, "doc_id")
    a, b = s.alias("a"), s.alias("b")
    ham = F.size(F.filter(
        F.zip_with(F.col("a.bits"), F.col("b.bits"), lambda x, y: (x != y).cast("int")),
        lambda v: v == 1))
    brute = {(r.id_a, r.id_b, r.hamming) for r in
             a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     ham.alias("hamming"))
             .filter(F.col("hamming") <= 3).collect()}
    assert blocked == brute
    assert brute, "testdata should contain simhash near-duplicates"


def test_simhash_md5_blocking_is_exhaustive(docs):
    _assert_simhash_blocking_exhaustive(docs, "md5", dedup.simhash_words_md5)


def test_simhash_arrow_blocking_is_exhaustive(docs):
    _assert_simhash_blocking_exhaustive(docs, "arrow",
                                        dedup._simhash_words_arrow)


def test_embedding_lsh_recall_on_planted_dups(spark):
    """Plant near-identical vector pairs (cos ~ 0.999): sign-bucket LSH must
    recover every exact pair >= 0.99 (deterministic: fixed seed + data)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16))
    rows = []
    vid = 0
    for i in range(40):
        rows.append((vid, base[i].tolist())); vid += 1
        if i % 4 == 0:  # plant a near-duplicate: tiny perturbation
            rows.append((vid, (base[i] + 0.01 * rng.standard_normal(16)).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    emb = df.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = emb.alias("a"), emb.alias("b")
    exact = {(r.id_a, r.id_b) for r in
             a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .filter(similarity.cosine(F.col("a.v"), F.col("b.v")) >= 0.99)
             .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
             .collect()}
    found = {(r.id_a, r.id_b) for r in
             similarity.embedding_near_duplicates(df, threshold=0.99).collect()}
    assert len(exact) == 10  # the planted pairs
    assert exact <= found | exact and not (exact - found), \
        f"LSH missed planted pairs: {exact - found}"


def test_embedding_lsh_one_global_dim(spark):
    """Mixed-length vectors over two partitions, where partition 2's first
    vector has the wrong length: every task must bucket with the one
    driver-resolved dimension, so no wrong-length vector is paired and
    every right-length planted pair is found, within and across
    partitions."""
    rng = np.random.default_rng(13)
    good = rng.standard_normal((6, 8))
    bad = rng.standard_normal(5)

    def near(v):
        return (v + 0.001 * rng.standard_normal(len(v))).tolist()

    part1 = [(0, good[0].tolist()), (1, near(good[0])),
             (2, good[1].tolist()), (3, good[2].tolist())]
    part2 = [(100, bad.tolist()), (101, near(bad)),           # wrong length
             (102, (bad * 3.0).tolist()),
             (103, good[3].tolist()), (104, near(good[3])),   # within part 2
             (105, near(good[1])), (106, near(good[2])),      # across parts
             (107, good[4].tolist()), (108, None)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([part1, part2], 2)
        .flatMap(lambda part: part),
        "vec_id long, embedding array<double>")
    assert df.rdd.glom().map(lambda p: p[0]["vec_id"]).collect() == [0, 100]
    found = {(r.id_a, r.id_b) for r in
             similarity.embedding_near_duplicates(df, threshold=0.99)
             .collect()}
    assert not any(i in (100, 101, 102) for pair in found for i in pair)
    assert found == {(0, 1), (103, 104), (2, 105), (3, 106)}


def test_minhash_md5_affine_actually_permutes():
    """Regression for the monotone-modulus bug: with p ~ 2^61 the affine map
    never wrapped, every permutation picked the same min element, and
    est_jaccard collapsed to a binary shared-min indicator (135 false pairs
    at sf0.01). The constants must wrap within int64."""
    a, b = dedup.minhash_md5_constants(64)
    p = dedup.MINHASH_MD5_P
    assert all(0 < x < p for x in a) and all(0 <= x < p for x in b)
    # products stay int64-safe and the map wraps for typical hash values
    h = p - 2
    assert max(a) * h + max(b) < (1 << 63)
    wrapped = sum(1 for k in range(64) if (a[k] * h + b[k]) >= p)
    assert wrapped > 32  # most permutations wrap => not monotone in h


def test_embedding_near_dup_shuffles_carry_no_vector_payload(spark):
    """VERDICT r02: the banded self-join must shuffle (id, table, bucket)
    only — the vector payload joins back by id AFTER pair dedup (broadcast
    hash joins), so no Exchange in the plan carries an array<double>."""
    import numpy as np
    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = similarity.embedding_near_duplicates(df, threshold=0.9, nbits=6, dim=8)
    plan = q._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "array<double>" not in line, line
    # and the join-back is broadcast (base table scanned, never shuffled)
    assert "BroadcastHashJoin" in plan


def test_ivf_fit_plan_has_no_full_count(spark):
    """VERDICT r02: IVFIndex.fit must not run a count() over the full table
    just to size its sample fraction."""
    import numpy as np
    from unittest.mock import patch
    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    with patch.object(type(df), "count", side_effect=AssertionError("full count in fit")):
        idx = similarity.IVFIndex(n_cells=8, seed=42).fit(df, "embedding")
    assert idx.centroids is not None and len(idx.centroids) == 8
