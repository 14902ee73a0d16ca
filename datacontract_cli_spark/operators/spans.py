"""ExactSubstr-style duplicate-SPAN dedup (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL 2022).

Document-level dedup (minhash/simhash) removes whole near-identical
documents; ExactSubstr removes the duplicated PASSAGES — boilerplate,
quoted chunks, licence blocks — while keeping the distinct remainder of
each document. The reference CLI has nothing like it; it is a
training-pipeline operator (the paper's own tool is a corpus-global
suffix array, single machine).

Spark-first decomposition:

1. candidates — :func:`..dedup.winnow_shared_pairs`: the winnowing
   guarantee (two docs sharing a substring of length ≥ window+k-1 share
   a fingerprint) makes the inverted-index join a SUPERSET of every pair
   with a duplicated span of ``min_len ≥ window+k-1``, with pair volume
   bounded by the doc-frequency cap — never all-pairs.
2. extraction — texts join candidate pairs ONLY (the single payload
   shuffle), then an Arrow-batched kernel finds exact matching blocks
   per pair (difflib.SequenceMatcher, autojunk off — deterministic;
   a production kernel would swap in anchor-chaining for very long
   docs, the plumbing is unchanged).
3. removal — spans cut from the HIGHER-id doc of each pair (keep-first,
   same policy as the dedup family), intervals merged per doc, one
   narrow rewrite joined back to the corpus.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    # 1, NOT winnow_shared_pairs' default 2: an internally periodic
    # duplicated passage ('='*48, repeated-token boilerplate) can yield a
    # SINGLE distinct fingerprint, and requiring two shared prints would
    # silently skip its pair — breaking the superset guarantee above
    min_shared: int = 1,
    min_len: int = 30,
    max_doc_freq: Optional[int] = None,
    hash_family: str = "arrow",
) -> DataFrame:
    """(id_a, id_b, start_a, start_b, length): exact matching character
    blocks of length ≥ ``min_len`` between candidate near-dup pairs
    (id_a < id_b). Candidates come from winnowing fingerprints, so every
    true span of length ≥ window+k-1 has its pair examined.
    ``hash_family`` picks the winnowing lane ("arrow" or "md5"), as in
    :func:`..dedup.winnow_shared_pairs`."""
    import difflib

    import pandas as pd

    from datacontract_cli_spark.operators.dedup import winnow_shared_pairs

    pairs = winnow_shared_pairs(
        df, id_col, text_col, k=k, window=window, min_shared=min_shared,
        max_doc_freq=max_doc_freq, hash_family=hash_family,
    ).select("id_a", "id_b")
    texts = df.select(F.col(id_col), F.col(text_col))
    ta = texts.select(F.col(id_col).alias("id_a"),
                      F.col(text_col).alias("__ta"))
    tb = texts.select(F.col(id_col).alias("id_b"),
                      F.col(text_col).alias("__tb"))
    joined = pairs.join(ta, "id_a").join(tb, "id_b") \
                  .select("id_a", "id_b", "__ta", "__tb")

    def kernel(batches):
        for pdf in batches:
            rows = []
            for id_a, id_b, a, b in zip(pdf["id_a"], pdf["id_b"],
                                        pdf["__ta"], pdf["__tb"]):
                if a is None or b is None:
                    continue
                sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
                for blk in sm.get_matching_blocks():
                    if blk.size >= min_len:
                        rows.append((id_a, id_b, blk.a, blk.b, blk.size))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "id_a", "id_b", "start_a", "start_b", "length"])

    id_type = dict(df.dtypes)[id_col]
    return joined.mapInPandas(
        kernel,
        f"id_a {id_type}, id_b {id_type}, "
        "start_a long, start_b long, length long")


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``df`` with every duplicated span cut from the HIGHER-id doc of
    its pair (the lowest-id occurrence survives — keep-first). Adds
    ``n_removed_chars``. Overlapping cuts from multiple pairs merge per
    doc before slicing; untouched docs pass through the left join."""
    import pandas as pd

    cuts = (spans.select(F.col("id_b").alias(id_col),
                         F.col("start_b").alias("s"), F.col("length"))
            .groupBy(id_col)
            .agg(F.collect_list(F.struct("s", "length")).alias("__cuts")))

    def rewrite(pdf: pd.DataFrame) -> pd.DataFrame:
        new_texts, removed = [], []
        for text, cut_list in zip(pdf[text_col], pdf["__cuts"]):
            if text is None or cut_list is None or not len(cut_list):
                new_texts.append(text)
                removed.append(0)
                continue
            ivs = sorted((int(c["s"]), int(c["s"]) + int(c["length"]))
                         for c in cut_list)
            merged = [list(ivs[0])]
            for s, e in ivs[1:]:
                if s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
            out, pos, cut_total = [], 0, 0
            for s, e in merged:
                out.append(text[pos:s])
                cut_total += min(e, len(text)) - s
                pos = e
            out.append(text[pos:])
            new_texts.append("".join(out))
            removed.append(cut_total)
        pdf = pdf.copy()
        pdf[text_col] = new_texts
        pdf["n_removed_chars"] = pd.Series(removed, dtype="int64",
                                           index=pdf.index)
        return pdf.drop(columns=["__cuts"])

    with_cuts = df.join(cuts, id_col, "left")
    out_schema = ", ".join(f"{n} {t}" for n, t in df.dtypes) \
        + ", n_removed_chars long"
    return with_cuts.mapInPandas(
        lambda batches: (rewrite(p) for p in batches), out_schema)
