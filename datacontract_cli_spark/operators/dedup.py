"""Deduplication operators for large-scale text corpora.

The pipeline shapes follow the standard near-dup literature (MinHash/LSH:
Broder 1997; SimHash: Charikar 2002; winnowing: Schleimer et al. 2003)
re-expressed as DataFrame ops:

- exact:    fingerprint shuffle to the core count → lowest id per
            fingerprint (row_number window on that partitioning)
- minhash:  shingle → K minhashes (per-row array math, no shuffle) →
            band buckets (one shuffle on (band, hash)) → candidate pairs
            within buckets (self-join co-partitioned by bucket) →
            signature-agreement estimate of Jaccard
- simhash:  token-hash bit aggregation per row → 4×16-bit words →
            candidates share a word (pigeonhole: hamming ≤ 3 over 64 bits
            guarantees one equal word) → exact hamming on candidates
- winnow:   k-gram hashes → per-window minima → inverted-index pair join
- n-gram Jaccard: exact verification on candidate pairs (explode + join
            co-partitioned on doc id)

Lanes. Each LSH operator has exactly two signature lanes, chosen by its
``kernel=`` / ``hash_family=`` argument; any other value raises
``ValueError``:

- ``"arrow"`` (the default) — a vectorized numpy kernel over Arrow
  batches (``mapInPandas``): a small fixed plan, no per-row Python.
- ``"md5"`` (the reference) — pure Column expressions on the md5 hash
  family, which DuckDB reproduces bit-for-bit; the oracle queries in
  ``__spark_entry__.py`` run this lane.

Scale notes: every self-join here is bucket-local (the shuffle key is the
LSH bucket, not the document), so the quadratic blow-up is bounded by
bucket size; AQE splits skewed buckets. At 100 TB the band/bucket shuffle
is the only full-data movement and it carries only (id, band, hash64).
"""
from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datacontract_cli_spark.operators._hof import bind

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# normalization + exact dedup
# ---------------------------------------------------------------------------

def normalized_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the canonical form for exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def text_fingerprint(col: Column) -> Column:
    """64-bit content fingerprint of the normalized text."""
    return F.xxhash64(normalized_text(col))


def dedup_exact(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document of every exact-duplicate group.

    Rows shuffle by fingerprint into ``defaultParallelism`` (core count)
    partitions and the output keeps them; the window reuses that exchange.
    The count is explicit because AQE merges small shuffles left at
    ``spark.sql.shuffle.partitions``: a sub-MB corpus became one partition,
    and every stage after it down to the final write ran as one task."""
    n = df.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy("__fp__").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp__", text_fingerprint(F.col(text_col)))
        .repartition(n, "__fp__")
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


# ---------------------------------------------------------------------------
# shingling + minhash
# ---------------------------------------------------------------------------

def tokens(col: Column) -> Column:
    return F.split(normalized_text(col), " ")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams as an array column (empty-safe). The token
    array is bound once (:func:`~datacontract_cli_spark.operators._hof.bind`),
    not re-split per shingle."""
    def shingles(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        # short docs: fall back to the whole normalized text (the tokens
        # re-joined on the single spaces they were split on) as one shingle
        return F.when(count > 0, F.array_distinct(grams)).otherwise(
            F.array(F.array_join(toks, " "))
        )

    return bind(tokens(col), shingles)


_MAX_LONG = (1 << 63) - 1


# --- shared-hash (md5) family: cross-engine reproducible -------------------
#
# xxhash64 exists only in Spark, so LSH outputs built on it cannot be
# reproduced by an external SQL oracle. md5 is bit-identical in Spark and
# DuckDB (and every other engine); deriving the K permutation hashes from ONE
# md5 per shingle via fixed affine maps ((a_k*h + b_k) mod p) makes the whole
# minhash/LSH pipeline an exactly-checkable deterministic function of the
# text. p = 2^31-1 (Mersenne) with a,b < p and h reduced to [0,p) keeps
# every product below 2^62 (int64-safe in both engines) while making the
# modulus actually WRAP — with a larger p the map would be monotone in h and
# all K "permutations" would pick the same minimum element.

MINHASH_MD5_P = (1 << 31) - 1


def minhash_md5_constants(num_hashes: int = 64, seed: int = 20240816):
    """The (A, B) affine constants — importable so an oracle SQL generator
    can embed the exact same literals."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_MD5_P, size=num_hashes).tolist()
    b = rng.integers(0, MINHASH_MD5_P, size=num_hashes).tolist()
    return a, b


def md5_hash_long(col: Column, hex_chars: int = 8) -> Column:
    """First ``hex_chars`` hex digits of md5 as a long (≤15 chars, 60 bits)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def minhash_signature_md5(shingle_col: Column, num_hashes: int = 64) -> Column:
    """K minhashes from one md5 per shingle + K affine permutations.

    ONE fold over the shingle array (each shingle hashes once and updates
    all K running minima element-wise) on the shared-hash family:
    oracle-reproducible in any engine with md5."""
    a_const, b_const = minhash_md5_constants(num_hashes)
    # literal ARRAYS indexed by k, not a K-way Python unroll: the unrolled
    # tree (K copies of the affine subtree per fold step) costs Catalyst ~10s
    # of one-time optimization; this compact form optimizes in milliseconds
    a_arr, b_arr = F.lit(a_const), F.lit(b_const)
    ks = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    bases = F.transform(shingle_col,
                        lambda s: md5_hash_long(s, 8) % F.lit(MINHASH_MD5_P))
    return F.aggregate(
        bases,
        F.array_repeat(F.lit(_MAX_LONG), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(ks, lambda k: (F.element_at(a_arr, k + 1) * h
                                       + F.element_at(b_arr, k + 1))
                        % F.lit(MINHASH_MD5_P)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Arrow-batched signature kernel, fully vectorized — no per-row Python.
    Returns ``(id, sig array<long>, bands array<long>)``.

    Per batch: tokenization via pandas ``.str`` ops, shingle construction via
    object-array slicing/concatenation over ONE flat token array (the
    repeat/arange segment trick), one vectorized siphash per shingle
    (``pd.util.hash_array``), then the K permutation hashes as numpy affine
    maps ((a_k * h + b_k) mod p — the classic universal-hash MinHash family)
    with a segmented per-document min (``np.minimum.reduceat``).

    ``bands[j]`` is the LSH bucket key of band ``j``: a 64-bit mix of the
    band index and its ``r = num_hashes // bands`` signature values, built
    in the same batch loop. It is a pure function of (j, slice), so equal
    slices always share a key; a collision between unequal slices only
    adds a candidate pair for the ``est_jaccard`` estimate to judge.

    Per-document shingle DEDUP is intentionally skipped: duplicates cannot
    change a minimum, so min-over-multiset == min-over-set and the signature
    is identical.

    Versus the md5 Column lane: a small fixed plan with every inner loop
    vectorized (the Column fold runs interpreted, as higher-order
    functions do not codegen). Same LSH semantics, different hash
    family."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(1234)
    P = np.uint64((1 << 61) - 1)
    A = rng.integers(1, P, size=num_hashes, dtype=np.uint64)
    B = rng.integers(0, P, size=num_hashes, dtype=np.uint64)
    k = shingle_size
    r = num_hashes // bands

    def band_keys(sig):
        """(bands, docs) int64 keys: per band, a multiply-xorshift chain
        over its r values from a band-index seed, then the splitmix64
        finalizer. uint64 array arithmetic wraps mod 2^64."""
        s = sig[:bands * r].astype(np.uint64).reshape(bands, r, -1)
        h = (np.arange(1, bands + 1, dtype=np.uint64)[:, None]
             * np.uint64(0x9E3779B97F4A7C15))  # broadcasts over docs
        for i in range(r):
            h = (h ^ s[:, i]) * np.uint64(0xFF51AFD7ED558CCD)
            h ^= h >> np.uint64(32)
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (h ^ (h >> np.uint64(31))).view(np.int64)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": pdf[id_col], "sig": [], "bands": []})
                continue
            toks = pdf[text_col].fillna("").astype(str).str.lower().str.split()
            lens = toks.str.len().to_numpy(dtype=np.int64)
            m = np.maximum(lens - k + 1, 1)  # shingles per doc (short docs: 1)
            total = int(m.sum())
            out_off = np.zeros(len(m), dtype=np.int64)
            np.cumsum(m[:-1], out=out_off[1:])
            shingles = np.empty(total, dtype=object)

            long_mask = lens >= k
            if long_mask.any():
                flat = toks[long_mask].explode().to_numpy(dtype=object)
                tl = lens[long_mask]
                tok_start = np.zeros(len(tl), dtype=np.int64)
                np.cumsum(tl[:-1], out=tok_start[1:])
                n_sh = tl - k + 1
                S = int(n_sh.sum())
                sh_start = np.zeros(len(n_sh), dtype=np.int64)
                np.cumsum(n_sh[:-1], out=sh_start[1:])
                within = np.arange(S, dtype=np.int64) - np.repeat(sh_start, n_sh)
                g = np.repeat(tok_start, n_sh) + within
                sh = flat[g]
                for j in range(1, k):
                    sh = sh + " "
                    sh = sh + flat[g + j]
                shingles[np.repeat(out_off[long_mask], n_sh) + within] = sh
            if (~long_mask).any():
                shingles[out_off[~long_mask]] = (
                    toks[~long_mask].str.join(" ").to_numpy(dtype=object)
                )

            base = pd.util.hash_array(shingles).astype(np.uint64)
            sig = np.empty((num_hashes, len(m)), dtype=np.int64)
            for ki in range(num_hashes):  # K seeds, each one C-speed pass
                hk = (base * A[ki] + B[ki]) % P
                sig[ki] = np.minimum.reduceat(hk, out_off).astype(np.int64)
            yield pd.DataFrame({"id": pdf[id_col], "sig": list(sig.T),
                                "bands": list(band_keys(sig).T)})

    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        kernel,
        f"id {dict(df.dtypes)[id_col]}, sig array<long>, bands array<long>"
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    kernel: str = "arrow",
    threshold: Optional[float] = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash LSH,
    with the signature-agreement Jaccard estimate attached.

    kernel="arrow" (default): vectorized numpy signature kernel via
    mapInPandas, which also emits each band's 64-bit bucket key;
    kernel="md5": pure Column kernel on the shared md5 hash family —
    output reproducible bit-for-bit by an external SQL oracle (band keys
    are then the raw signature-slice strings, not a hash of them, so no
    engine-specific hash touches the result).

    The kernel runs on ``df``'s partitioning as given: ``curate_corpus``
    passes :func:`dedup_exact`'s, which is ``defaultParallelism`` wide.

    The signatures are persisted for the duration of the call only. The
    returned frame is persisted and already materialized: the caller
    owns that cache and must ``unpersist()`` it when done."""
    if kernel not in ("arrow", "md5"):
        raise ValueError(f"unknown minhash kernel {kernel!r}; "
                         "expected 'arrow' or 'md5'")
    # Materialize signatures BEFORE banding: Catalyst's projection collapse
    # would otherwise inline the (shingles × K hashes) expression into every
    # band column AND both sides of the self-join — recomputing it 2×17 times
    # per document. At warehouse scale this is a persisted signatures table.
    # Scoped: unpersisted below once the (small) pair set is materialized —
    # a leaked signature cache per call was the round-2 warm-bench regression.
    # No eager count: persist() alone installs the InMemoryRelation (which
    # is what blocks projection collapse from inlining the kernel), and the
    # banded join's first shuffle-map stage fills the cache for the second
    # side — one fewer driver job and one fewer full pass per call.
    #
    # One row per (doc, band), carrying ONLY (id, band, bucket): keeping
    # the 64-long signature array out of the banded frame keeps the join
    # and the dropDuplicates exchange payload-free (~16 B/row instead of
    # ~0.5 KB); signatures re-attach from the CACHED sig table after the
    # dedup, so agreement is computed once per unique pair.
    if kernel == "arrow":
        sig = minhash_signatures_arrow(df, id_col, text_col, shingle_size,
                                       num_hashes, bands).persist()
        # the kernel already hashed each band slice to 8 bytes, so both
        # sides of the self-join read the keys from the cache
        banded = sig.select(
            "id", F.posexplode("bands").alias("band", "bucket"))
    else:
        sig = df.select(
            F.col(id_col).alias("id"),
            minhash_signature_md5(word_shingles(F.col(text_col), shingle_size),
                                  num_hashes).alias("sig")).persist()
        # the raw slice string keeps the candidate set a pure function of
        # the shared hash family
        rows_per_band = num_hashes // bands
        band_key = F.array_join(
            F.transform(
                F.slice("sig", F.col("band") * rows_per_band + 1,
                        rows_per_band),
                lambda h: h.cast("string"),
            ),
            ",",
        )
        banded = (
            sig.select("id", "sig",
                       F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
                       .alias("band"))
            .select("id", "band", band_key.alias("bucket"))
        )

    left = banded.alias("a")
    right = banded.alias("b")
    pairs = (
        left.join(
            right,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    out = (
        pairs.join(sig.select(F.col("id").alias("id_a"),
                              F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"),
                         F.col("sig").alias("sig_b")), "id_b")
        .select("id_a", "id_b",
                (agree / F.lit(num_hashes)).alias("est_jaccard"))
    )
    if threshold is not None:
        # filtering BEFORE the persist means the frame the caller receives
        # IS the cached one (an unpersist() on it actually releases storage)
        out = out.filter(F.col("est_jaccard") >= threshold)
    # Eagerly materialize the candidate pairs (orders of magnitude smaller
    # than the signatures), then release the signature cache. The returned
    # frame stays persisted — callers may unpersist() when done; the
    # ContextCleaner reclaims it on GC otherwise.
    out = out.persist()
    out.count()
    sig.unpersist()
    return out


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    **kwargs,
) -> DataFrame:
    """:func:`minhash_candidates` with ``est_jaccard >= threshold``; the
    caller owns the persisted result and must ``unpersist()`` it."""
    return minhash_candidates(df, id_col, text_col, threshold=threshold,
                              **kwargs)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for document pairs.

    With ``candidates`` (id_a, id_b — e.g. from minhash_candidates) only
    those pairs are verified (the 100 TB path). Without, all pairs sharing
    at least one shingle are scored via an inverted-index join (only viable
    at small scale, but exact)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("len", F.size("sh"))
    if candidates is not None:
        a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("len").alias("len_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("len").alias("len_b"))
        joined = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        jac = inter / (F.col("len_a") + F.col("len_b") - inter)
        return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )
    inv = sh.select("id", "len", F.explode("sh").alias("g"))
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), on=[F.col("a.g") == F.col("b.g"), F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.len").alias("len_a"), F.col("b.len").alias("len_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("len_a") + F.col("len_b") - F.col("inter"))
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def _simhash_words_arrow(df: DataFrame, id_col: str,
                         text_col: str = "text",
                         with_bits: bool = True) -> DataFrame:
    """Arrow-batched 64-bit SimHash as 4×16-bit words (w0..w3), plus the
    bit array when ``with_bits``. Each token hashes once (pandas siphash);
    its 64 bits vote ±1 per position; the sign of each position's sum is
    the fingerprint bit. Fully vectorized across the batch: one flat token
    hash array, a 64-column bit matrix via shifts, per-document vote sums
    via ``np.add.reduceat`` — no per-token Python, no per-bit Catalyst
    tree."""
    import numpy as np
    import pandas as pd

    # token budget per inner chunk: bounds transient memory at ~chunk x 64
    # int8 (the uint64 shift intermediate is per-bit-column, chunk x 8B) —
    # without this, a batch of long documents materializes a
    # total_tokens x 64 int64 matrix (~0.5 KB/token) per Python worker
    CHUNK_TOKENS = 1 << 20

    def _doc_chunks(lens):
        start, tok = 0, 0
        for i, n in enumerate(lens):
            if tok and tok + n > CHUNK_TOKENS:
                yield start, i
                start, tok = i, 0
            tok += n
        yield start, len(lens)

    def kernel(batches):
        for pdf in batches:
            toks = (pdf[text_col].fillna("").astype(str).str.lower()
                    .str.split())
            lens = toks.str.len().to_numpy(dtype=np.int64)
            d = len(lens)
            if d == 0 or lens.sum() == 0:
                bits = np.zeros((d, 64), dtype=np.int32)
            else:
                bits = np.zeros((d, 64), dtype=np.int32)
                for lo, hi in _doc_chunks(lens):
                    cl = lens[lo:hi]
                    if cl.sum() == 0:
                        continue
                    flat = toks.iloc[lo:hi].explode().dropna() \
                        .to_numpy(dtype=object)
                    h = pd.util.hash_array(flat).astype(np.uint64)
                    bitm = np.empty((len(h), 64), dtype=np.int8)
                    for b in range(64):  # per-column: peak extra = len(h)*8B
                        bitm[:, b] = (h >> np.uint64(b)) & np.uint64(1)
                    # reduceat over NON-EMPTY docs only: an empty doc's
                    # offset equals its neighbor's, which corrupts adjacent
                    # segments (clamping instead would steal the previous
                    # doc's last token when an empty doc ends the batch)
                    nz = cl > 0
                    lens_nz = cl[nz]
                    off_nz = np.zeros(len(lens_nz), dtype=np.int64)
                    np.cumsum(lens_nz[:-1], out=off_nz[1:])
                    sums = np.add.reduceat(bitm, off_nz, axis=0,
                                           dtype=np.int64)
                    votes = 2 * sums - lens_nz[:, None]
                    sub = np.zeros((hi - lo, 64), dtype=np.int32)
                    sub[nz] = (votes > 0).astype(np.int32)
                    bits[lo:hi] = sub
            w = np.zeros((d, 4), dtype=np.int64)
            for wi in range(4):
                for b in range(16):
                    w[:, wi] = w[:, wi] * 2 + bits[:, wi * 16 + b]
            out = {"id": pdf[id_col]}
            if with_bits:
                # 50k-row batches make this 50k small numpy objects —
                # only materialize the bit array when the caller needs it
                # (the near-dup path works from the packed words alone)
                out["bits"] = list(bits)
            out.update({"w0": w[:, 0], "w1": w[:, 1],
                        "w2": w[:, 2], "w3": w[:, 3]})
            yield pd.DataFrame(out)

    bits_field = "bits array<int>, " if with_bits else ""
    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        kernel,
        f"id {dict(df.dtypes)[id_col]}, {bits_field}"
        "w0 long, w1 long, w2 long, w3 long")


def simhash_words_md5(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """60-bit SimHash on the shared md5 hash family (4×15-bit words) + the
    bit array.

    Same vote structure as :func:`_simhash_words_arrow`, as one per-row
    ``aggregate`` over the token array, but each token hashes via md5 (60
    bits from 15 hex chars) so the fingerprint — and therefore the full
    near-dup pair set — is reproducible bit-for-bit by an external SQL
    oracle (pigeonhole over 4 words stays exhaustive for hamming ≤ 3
    regardless of word width)."""
    nbits = 60
    # hash each token ONCE (the fold's lambda var binds the hashed value),
    # and test bits with a literal power-of-two array instead of a 60-way
    # shiftright unroll — compact tree, fast Catalyst optimization
    pow2 = F.lit([1 << i for i in range(nbits)])
    bitseq = F.sequence(F.lit(0), F.lit(nbits - 1))
    hashed = F.transform(tokens(F.col(text_col)), lambda t: md5_hash_long(t, 15))
    bit_votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), nbits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(bitseq, lambda b: F.when(
                h.bitwiseAND(F.element_at(pow2, b + 1)) != 0, F.lit(1)
            ).otherwise(F.lit(-1)).cast("long")),
            lambda x, y: x + y,
        ),
    )
    bits = F.transform(bit_votes, lambda v: (v > 0).cast("int"))
    out = df.select(F.col(id_col).alias("id"), bits.alias("bits"))
    word = lambda w: F.aggregate(  # noqa: E731
        F.slice(F.col("bits"), w * 15 + 1, 15),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )
    return out.select(
        "id", "bits",
        word(0).alias("w0"), word(1).alias("w1"), word(2).alias("w2"), word(3).alias("w3"),
    )


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3,
    hash_family: str = "arrow",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming (≤3 ⇒ pigeonhole
    over 4 words is exhaustive). Candidates block on each word; the
    exact hamming distance filters them. hash_family="arrow" (default) is
    the vectorized numpy kernel; "md5" the oracle-reproducible 60-bit
    Column fingerprint.

    The returned frame is persisted and already materialized: the caller
    owns that cache and must ``unpersist()`` it when done."""
    if hash_family not in ("arrow", "md5"):
        raise ValueError(f"unknown simhash hash_family {hash_family!r}; "
                         "expected 'arrow' or 'md5'")
    # persist the fingerprints: the 4 word-blocks self-join this frame (8
    # scans) and projection collapse would otherwise inline the whole
    # vote-aggregate tree into every branch — recomputing the per-token
    # hashing ~40x. At warehouse scale this is a materialized signature
    # table, exactly like the minhash signatures.
    #
    # The 4 words pack into ONE long via 16-bit lanes (shiftleft, not
    # multiply: ANSI-safe when w0's top bit lands on bit 63), so
    # candidate pairs carry 8 bytes of fingerprint instead of the two
    # 64-element bit arrays (~550 B/pair) they used to: hamming over the
    # bit arrays == bit_count(fp_a XOR fp_b) exactly, because every
    # fingerprint bit occupies a distinct lane position on both sides
    # (md5's 15-bit words leave each lane's top bit 0 for a AND b, which
    # XORs to 0). With 16-bit block keys the random-collision pair count
    # grows ~quadratically in doc count, so at 10x scale the old plan
    # shuffled ~8M × 550 B through dropDuplicates before filtering;
    # now each block filters with codegen'd bit_count BEFORE any
    # exchange and only true near-dup pairs reach the dedup shuffle.
    fp = F.shiftleft(F.col("w0"), 48) \
        .bitwiseOR(F.shiftleft(F.col("w1"), 32)) \
        .bitwiseOR(F.shiftleft(F.col("w2"), 16)) \
        .bitwiseOR(F.col("w3"))
    # no eager count: persist() installs the cache boundary that stops
    # projection collapse; the first join stage materializes it. The
    # arrow kernel skips emitting the bit array entirely — Catalyst
    # prunes it from the JVM word functions, but a Python node's output
    # schema is opaque to pruning, so the flag does it at the source.
    if hash_family == "arrow":
        words = _simhash_words_arrow(df, id_col, text_col, with_bits=False)
    else:
        words = simhash_words_md5(df, id_col, text_col)
    s = words.select(
        "id", "w0", "w1", "w2", "w3", fp.alias("fp")).persist()
    # ONE banded self-join instead of four block joins (the minhash
    # shape): posexplode the 4 words to (id, fp, block, wval) and join on
    # (block, wval) equality — the pair set is identical to the union of
    # the four per-word joins, with a quarter of the codegen stages and
    # two scans of the cached signature table instead of eight
    banded = s.select(
        "id", "fp",
        F.posexplode(F.array("w0", "w1", "w2", "w3")).alias("blk", "wv"))
    cands = (
        banded.alias("a")
        .join(banded.alias("b"),
              on=[F.col("a.blk") == F.col("b.blk"),
                  F.col("a.wv") == F.col("b.wv"),
                  F.col("a.id") < F.col("b.id")])
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .alias("hamming"),
        )
        # hamming is a pure function of the pair, so filtering before
        # the dedup is equivalent to the old filter-after-dedup
        .filter(F.col("hamming") <= max_hamming)
    )
    out = cands.dropDuplicates(["id_a", "id_b"])
    # Same scoped-persist discipline as minhash_candidates: materialize the
    # small pair set, release the fingerprint cache (round-2 leak fix).
    out = out.persist()
    out.count()
    s.unpersist()
    return out


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken — MOSS, SIGMOD 2003)
# ---------------------------------------------------------------------------

def winnow_fingerprints(col: Column, k: int = 8, window: int = 4) -> Column:
    """Document fingerprint set by winnowing: hash every character k-gram of
    the normalized text, slide a window of ``window`` hashes, keep each
    window's minimum, dedupe. Guarantees any shared substring of length
    >= k + window - 1 contributes a shared fingerprint.

    Pure Column expression on the shared md5 hash family (the reference
    lane) — one pass, no shuffle, reproducible by an external SQL oracle.
    Short docs (< k chars) fingerprint as the single hash of the whole
    normalized text."""
    # Both intermediates (normalized string, gram-hash array) are bound ONCE
    # (catalyst trap #1, see operators/_hof.py bind): unbound, the
    # normalization would rerun per gram (O(n^2) chars/doc) and the gram
    # array per window (O(n^2) md5 calls/doc).
    def fingerprints_from_grams(g: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(g) - F.lit(window - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(g, i, window)),
            )
        )

    def grams_of(t: Column) -> Column:
        n_grams = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: md5_hash_long(F.substring(t, i, k), 8)
            % F.lit(MINHASH_MD5_P),
        )

    return bind(normalized_text(col),
                lambda t: bind(grams_of(t), fingerprints_from_grams))


def _winnow_fingerprints_arrow(df: DataFrame, id_col: str, text_col: str,
                               k: int, window: int) -> DataFrame:
    """Arrow-batched winnowing kernel: same normalization and winnowing
    guarantees as the Column kernel, different (numpy) hash family.

    Per document: UTF-8 bytes of the normalized text → rolling polynomial
    k-gram hash (k vectorized multiply-adds on wrapping uint64 — no hash
    call per substring) → sliding-window minimum (stride view) → unique.
    The Column kernel's nested HOF tree runs interpreted and re-pays
    Catalyst optimization per fresh plan; this is a small fixed plan with
    all inner loops in C. Byte-level grams differ from the md5 lane's
    character grams only for non-ASCII text; a shared substring of c
    characters spans at least c bytes, so the guarantee carries over."""
    import numpy as np
    import pandas as pd

    B_INT = 1099511628211  # FNV-1a prime: good avalanche as a base
    # build the power table in Python ints mod 2^64 — numpy uint64 SCALAR
    # multiplies emit RuntimeWarning on (intentional) wraparound; array ops
    # below wrap silently.
    POW = np.empty(k, dtype=np.uint64)
    p = 1
    for j in range(k):
        POW[j] = p
        p = (p * B_INT) & 0xFFFFFFFFFFFFFFFF

    def kernel(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            texts = (pdf[text_col].fillna("").astype(str).str.lower()
                     .str.replace(r"\s+", " ", regex=True).str.strip())
            fps = []
            for t in texts:
                b = np.frombuffer(t.encode("utf-8"),
                                  dtype=np.uint8).astype(np.uint64)
                if len(b) < k:
                    h = 0  # Python-int horner mod 2^64: no scalar-overflow warn
                    for x in b.tolist():
                        h = (h * B_INT + x) & 0xFFFFFFFFFFFFFFFF
                    fps.append(np.array([h], dtype=np.uint64)
                               .view(np.int64))
                    continue
                n = len(b) - k + 1
                h = np.zeros(n, dtype=np.uint64)
                for j in range(k):  # k wrapping multiply-adds, all C-speed
                    h += b[j:j + n] * POW[k - 1 - j]
                if n >= window:
                    mins = sliding_window_view(h, window).min(axis=1)
                else:
                    mins = h.min(keepdims=True)
                fps.append(np.unique(mins).view(np.int64))
            yield pd.DataFrame({"id": pdf[id_col], "fp": fps})

    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        kernel, f"id {dict(df.dtypes)[id_col]}, fp array<long>")


def winnow_shared_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: Optional[int] = None,
    hash_family: str = "arrow",
) -> DataFrame:
    """Candidate near-dup pairs sharing >= min_shared winnowing fingerprints.

    Inverted-index join on the fingerprint value: the shuffle carries only
    (id, fingerprint) pairs, the self-join is fingerprint-local (AQE splits
    hot fingerprints), and the group count is a two-phase aggregate —
    nothing quadratic in corpus size. ``max_doc_freq`` drops fingerprints
    appearing in more than that many documents before the self-join —
    stop-gram fingerprints ("and the ", " of the ") carry no dedup signal
    but dominate the pair volume; at corpus scale this filter is what keeps
    the join linear.

    ``hash_family``: "arrow" (default; vectorized numpy rolling-hash
    kernel) or "md5" (the oracle-reproducible Column lane,
    :func:`winnow_fingerprints`)."""
    if hash_family not in ("arrow", "md5"):
        raise ValueError(f"unknown winnow hash_family {hash_family!r}; "
                         "expected 'arrow' or 'md5'")
    if hash_family == "arrow":
        fp = _winnow_fingerprints_arrow(df, id_col, text_col, k, window)
    else:
        fp = df.select(
            F.col(id_col).alias("id"),
            winnow_fingerprints(F.col(text_col), k, window).alias("fp"),
        )
    inv = fp.select("id", F.explode("fp").alias("f"))
    if max_doc_freq is not None:
        # document frequency as a window count over the fingerprint: ONE
        # shuffle on f (which the self-join below reuses) instead of a
        # groupBy + semi-join pair (measured at sf0.1: cold 21s -> 8.7s,
        # warm 5.6s -> 5.0s; identical pair set)
        w = Window.partitionBy("f")
        inv = (inv.withColumn("__df__", F.count(F.lit(1)).over(w))
               .filter(F.col("__df__") <= max_doc_freq).drop("__df__"))
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), on=[F.col("a.f") == F.col("b.f"),
                                  F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


# ---------------------------------------------------------------------------
# connected components (dedup clusters)
# ---------------------------------------------------------------------------

# pair count up to which connected_components resolves the graph on the
# driver (union-find over the collected pairs) instead of distributed label
# propagation; it bounds the driver memory the small path may take
_CC_LOCAL_EDGES = 5_000_000


def _components_on_driver(edges: DataFrame) -> DataFrame:
    """Union-find over the collected ``(a, b)`` edge columns: one Spark
    job (the ``toArrow`` collect). Nodes are sorted by value, so a union
    that keeps the smaller root makes every root its component's minimum
    id. The result is built from a ``pyarrow.Table``, which the JVM
    decodes (a local relation when small): no Python worker, no cache."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    table = edges.toArrow()
    if pa.types.is_floating(table.schema.field("a").type):
        # Spark's joins and aggregates take -0.0 for 0.0; adding +0.0
        # folds the one into the other, as Arrow's hashing does not
        table = pa.table({c: pc.add(table[c], 0.0) for c in ("a", "b")})
    nodes = pc.unique(pa.chunked_array(table["a"].chunks + table["b"].chunks,
                                       type=table.schema.field("a").type))
    nodes = nodes.take(pc.sort_indices(nodes))
    parent = list(range(len(nodes)))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(pc.index_in(table["a"], value_set=nodes).to_pylist(),
                    pc.index_in(table["b"], value_set=nodes).to_pylist()):
        rx, ry = find(x), find(y)
        if rx < ry:
            parent[ry] = rx
        elif ry < rx:
            parent[rx] = ry
    roots = pa.array([find(x) for x in range(len(parent))],
                     type=pa.int64())
    id_type = edges.schema["a"].dataType
    return edges.sparkSession.createDataFrame(
        pa.table({"node": nodes, "cluster_id": nodes.take(roots)}),
        T.StructType([T.StructField("node", id_type),
                      T.StructField("cluster_id", id_type)]))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs`` — cluster_id
    is the minimum node id of the connected component (the canonical
    representative a dedup pipeline keeps).

    The pair count picks the path, logged at INFO once per call. Up to
    ``_CC_LOCAL_EDGES`` pairs, the driver collects the two id columns
    and resolves them by union-find (:func:`_components_on_driver`): two
    jobs, the count and the collect. ``pairs`` is read twice, so pass a
    cached frame (:func:`minhash_candidates` returns one).

    Above the bound: iterative min-label propagation with pointer
    jumping: each round every node takes the min of its own label, its
    neighbors' labels, AND its label's label (path compression) —
    O(log diameter) rounds instead of O(diameter), the same doubling
    idea as the large-star/small-star formulation (Kiveris et al.,
    SoCC'14). Each round is two shuffle-by-key joins + a groupBy; labels
    persist per round and the previous round unpersists, so peak storage
    is two label tables; the result is a local checkpoint of the last
    round, and the call releases every label cache before it returns.

    On both paths the returned frame holds no cache: the caller has
    nothing to ``unpersist()``, and Spark releases the checkpoint blocks
    of the distributed path when the frame is gone."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # an RDD count is one narrow job; DataFrame.count() plans a partial
    # aggregate and an exchange, which adaptive execution runs as two
    n_edges = edges._jdf.queryExecution().toRdd().count()
    if n_edges <= _CC_LOCAL_EDGES:
        logger.info("connected_components: %d edges, driver union-find",
                    n_edges)
        return _components_on_driver(edges)
    logger.info("connected_components: %d edges, distributed label "
                "propagation", n_edges)

    edges = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        # localCheckpoint, not persist: TRUNCATES the logical plan. The
        # pair-producer's lineage can be enormous (LSH bucket exprs are
        # thousands of Catalyst nodes); with plain persist every one of
        # the O(log d) rounds re-ANALYZES that tree and driver-side
        # planning dwarfs the actual sub-second joins (measured 33s →
        # ~2s on 2.4k nodes). On a cluster, executor loss invalidates a
        # local checkpoint — callers that need fault tolerance should
        # set spark.sparkContext.setCheckpointDir and use reliable
        # checkpoints; for a dedup batch job a retry is the usual answer.
        .localCheckpoint()
    )

    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )

    # fixed-point detection: labels only ever DECREASE, so for NUMERIC ids
    # an unchanged exact sum ⇔ convergence — one aggregate per round.
    # decimal(38,0) cannot overflow for any realistic id space (a long sum
    # could wrap). Non-numeric ids (string/binary doc keys are a public
    # id_col choice) have no sum: casting would yield NULL == NULL and
    # stop after one round, so they keep the type-agnostic
    # changed-label join-count instead.
    from pyspark.sql import types as T
    _label_dt = labels.schema["label"].dataType
    # integral types ONLY: float/double labels would be rounded by the
    # decimal(38,0) cast, so a label decrease that leaves the rounded sum
    # unchanged (3.4 -> 2.6) would be declared converged prematurely;
    # those routes go through the type-agnostic changed-label join-count
    numeric_labels = isinstance(
        _label_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (isinstance(_label_dt, T.DecimalType) and _label_dt.scale == 0)

    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    prev_sum = _label_sum(labels) if numeric_labels else None
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a").agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(labels["node"],
                    F.least(labels["label"],
                            F.coalesce(neighbor_min["nmin"],
                                       labels["label"])).alias("label"))
        )
        # pointer jump: label <- label(label) — doubles the propagation
        # distance per round
        lab2 = stepped.select(F.col("node").alias("lnode"),
                              F.col("label").alias("llabel"))
        # per-round persist (not checkpoint): with edges' lineage already
        # cut, round r's plan is r×2 joins over ONE LogicalRDD node —
        # analysis stays trivial — and the explicit unpersist keeps peak
        # storage at two label tables, which per-round checkpoints
        # (GC-cleaned, not scope-cleaned) would not
        new_labels = (
            stepped.join(lab2, stepped["label"] == lab2["lnode"], "left")
            .select(stepped["node"],
                    F.least(stepped["label"],
                            F.coalesce(lab2["llabel"],
                                       stepped["label"])).alias("label"))
            .persist()
        )
        if numeric_labels:
            new_sum = _label_sum(new_labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1).count() == 0
            )
        if labels.is_cached:
            labels.unpersist()
        labels = new_labels
        if converged:
            break
    # a checkpoint, not a cache, so the last label table is released
    # here; the checkpoint blocks (and the edges') are dropped by the
    # context cleaner once the frames are unreferenced
    result = labels.select(F.col("node"),
                           F.col("label").alias("cluster_id")) \
        .localCheckpoint(eager=True)
    if labels.is_cached:
        labels.unpersist()
    return result
