"""Every operator lane argument fails closed: a lane name outside the
operator's lane set raises ValueError instead of silently running some
other lane."""

import pytest
from datacontract_cli_spark.operators import classifier, dedup, spans

_CASES = {
    "minhash": lambda df: dedup.minhash_near_duplicates(
        df, "doc_id", kernel="expr"),
    "simhash": lambda df: dedup.simhash_near_duplicates(
        df, "doc_id", hash_family="xxhash64"),
    "winnow": lambda df: dedup.winnow_shared_pairs(
        df, "doc_id", hash_family="xxhash64"),
    "spans": lambda df: spans.duplicate_spans(
        df, "doc_id", hash_family="MD5"),
    "classifier": lambda df: classifier.quality_scores(
        df, "doc_id", kernel="arow"),
}


@pytest.mark.parametrize("operator", sorted(_CASES))
def test_unknown_lane_fails_closed(spark, operator):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown"):
        _CASES[operator](df)
