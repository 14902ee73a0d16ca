"""Conversation statistics without a timestamp column."""

from pyspark.sql import Row


def test_conversation_stats_without_timestamps(spark):
    from datacontract_cli_spark.operators.convchecks import (
        conversation_stats, turn_density_violations)

    df = spark.createDataFrame(
        [Row(conv_id="a", turn_idx=i) for i in range(4)]
        + [Row(conv_id="b", turn_idx=i) for i in (0, 1, 3)]   # gap at 2
        + [Row(conv_id="c", turn_idx=i) for i in (1, 2)])      # offset
    stats = conversation_stats(df, ts_col=None)
    assert sorted(stats.columns) == ["conv_id", "max_turn", "min_turn",
                                     "n_turns"]
    v = {r["conv_id"]: r for r in turn_density_violations(df).collect()}
    assert set(v) == {"b", "c"}
    assert v["b"]["n_turns"] == 3 and v["b"]["max_turn"] == 3
    assert v["c"]["min_turn"] == 1
