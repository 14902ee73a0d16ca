"""The LSH operators on both lanes (arrow default, md5 reference),
verified against exact ground truth computed independently (DuckDB +
brute force):
- minhash banded-LSH candidate pairs at est >= 0.8 achieve recall 1.0
  against the exact n-gram Jaccard >= 0.8 pair set on the sf0.001 testdata
- simhash pigeonhole word-blocking is EXHAUSTIVE for hamming <= 3
  (equals the all-pairs brute force over the same lane's bits)
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from datacontract_cli_spark.operators import dedup

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


@pytest.mark.parametrize("name", ["minhash_near_dups", "dedup_clusters"])
def test_dedup_entries_leave_no_cache(spark, docs, name):
    """The gate entries collect their small result and release the frame
    the operator persisted: a gate run leaves nothing in the session's
    cache, and the rows are the operator's own."""
    import __spark_entry__ as entry
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = [tuple(r) for r in entry.queries()[name](spark, SF).collect()]
    assert cache.isEmpty()
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", threshold=0.8,
                                          kernel="md5")
    if name == "minhash_near_dups":
        direct = pairs.select("id_a", "id_b", F.round("est_jaccard", 4))
    else:
        direct = dedup.connected_components(pairs)
    assert rows == sorted(tuple(r) for r in direct.collect())
    assert rows
    spark.catalog.clearCache()


@pytest.mark.parametrize("bands", [16, 32])
def test_arrow_band_keys_match_slice_equality(spark, docs, bands):
    """The arrow kernel's band keys lose no candidate and add none on
    this data: its pairs are exactly the brute-force pairs with some
    equal band slice of the two signatures, and each est_jaccard is the
    signature agreement."""
    r = 64 // bands
    sig = {row["id"]: list(row["sig"]) for row in
           dedup.minhash_signatures_arrow(docs, "doc_id", bands=bands)
           .collect()}
    ids = sorted(sig)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if any(sig[a][j * r:(j + 1) * r] == sig[b][j * r:(j + 1) * r]
                   for j in range(bands)):
                want[(a, b)] = sum(x == y for x, y in
                                   zip(sig[a], sig[b])) / 64
    pairs = dedup.minhash_candidates(docs, "doc_id", bands=bands)
    got = {(row["id_a"], row["id_b"]): row["est_jaccard"]
           for row in pairs.collect()}
    pairs.unpersist()
    assert got == want
    assert len(want) > 20
