"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full contract validation over sf0.001 tables,
returning the check results as a DataFrame.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (+ the beyond-reference operators). Each Spark query routes
through the engine/operators modules where natural; each oracle is the
equivalent ANSI SQL for DuckDB over the same parquet views. Column names
are aliased identically on both sides; float aggregates are rounded the
same number of digits on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datacontract_cli_spark.checks.spec import CheckSpec, MetricType
from datacontract_cli_spark.engine.predicates import invalid_condition, missing_condition
from datacontract_cli_spark.operators import dedup, drift, textstats
from datacontract_cli_spark.operators.refintegrity import orphan_count


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _released(spark: SparkSession, frame: DataFrame,
              cache: DataFrame) -> DataFrame:
    """``frame``'s (small) rows as a plain frame, with ``cache`` — the
    persisted frame an operator handed back — released, so the entry
    leaves nothing in the session's cache."""
    rows = frame.collect()
    cache.unpersist()
    return spark.createDataFrame(rows, frame.schema)


def _spec(**kw) -> CheckSpec:
    base = dict(key="q", category="quality", type="q", name="q", model="m",
                metric=MetricType.INVALID_COUNT)
    base.update(kw)
    return CheckSpec(**base)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Validate a contract over the sf0.001 orders/lineitem tables and
    return one row per check (stable schema)."""
    from datacontract_cli_spark.engine.executor import SparkContractEngine
    from datacontract_cli_spark.model.contract import load_contract_str

    sf_dir = "/root/testdata/sf0.001"
    contract = load_contract_str(
        """
id: tpch-orders
version: 1.0.0
schema:
  - name: orders
    properties:
      - name: o_orderkey
        logicalType: integer
        required: true
        primaryKey: true
      - name: o_custkey
        logicalType: integer
        required: true
      - name: o_orderstatus
        logicalType: string
        logicalTypeOptions:
          enum: [O, F, P]
      - name: o_totalprice
        logicalType: number
        logicalTypeOptions:
          minimum: 0
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 0
      - type: library
        metric: referentialIntegrity
        mustBe: 0
        arguments:
          ref: customer.c_custkey
        # applies at model level via the field below
  - name: customer
    properties:
      - name: c_custkey
        logicalType: integer
        required: true
        primaryKey: true
"""
    )
    # attach the RI rule at field level (YAML above keeps model-level rules simple)
    orders_obj = contract.schema_object("orders")
    custkey = next(p for p in orders_obj.properties if p.name == "o_custkey")
    from datacontract_cli_spark.model.contract import QualityRule
    custkey.quality.append(QualityRule(
        metric="referentialIntegrity", must_be=0,
        arguments={"ref": "customer.c_custkey"},
    ))

    tables = {
        "orders": _t(spark, sf_dir, "orders"),
        "customer": _t(spark, sf_dir, "customer"),
    }
    run = SparkContractEngine(spark).test(contract, tables=tables)
    rows = [
        (c.key, c.category, c.type, c.model, c.field, c.result.value,
         str((c.diagnostics or {}).get("value")))
        for c in run.checks
    ]
    return spark.createDataFrame(
        rows,
        "check_key string, category string, type string, model string, "
        "field string, result string, metric_value string",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_row_count(spark, sf):
    return _t(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


def _q_missing_count(spark, sf):
    ev = _t(spark, sf, "events")
    spec = _spec(field="event_type", metric=MetricType.MISSING_COUNT,
                 missing_values=["error"])
    cond = missing_condition(ev, "event_type", spec)
    return ev.agg(
        F.sum(F.when(cond, 1).otherwise(0)).alias("missing_count"),
        F.count(F.lit(1)).alias("row_count"),
    )


def _q_invalid_enum(spark, sf):
    orders = _t(spark, sf, "orders")
    spec = _spec(field="o_orderstatus", valid_values=["O", "F"])
    cond = invalid_condition(orders, "o_orderstatus", spec)
    return orders.agg(F.sum(F.when(cond, 1).otherwise(0)).alias("invalid_count"))


def _q_invalid_range(spark, sf):
    li = _t(spark, sf, "lineitem")
    spec = _spec(field="l_discount", valid_min=0.02, valid_max=0.08)
    cond = invalid_condition(li, "l_discount", spec)
    return li.agg(F.sum(F.when(cond, 1).otherwise(0)).alias("invalid_count"))


def _q_invalid_regex(spark, sf):
    cust = _t(spark, sf, "customer")
    spec = _spec(field="c_name", valid_regex="^Customer#[0-9]{9}$")
    cond = invalid_condition(cust, "c_name", spec)
    return cust.agg(F.sum(F.when(cond, 1).otherwise(0)).alias("invalid_count"))


def _q_invalid_max_length(spark, sf):
    docs = _t(spark, sf, "documents")
    spec = _spec(field="text", valid_max_length=300)
    cond = invalid_condition(docs, "text", spec)
    return docs.agg(F.sum(F.when(cond, 1).otherwise(0)).alias("invalid_count"))


def _q_duplicate_count(spark, sf):
    """Duplicate groups of one key, through the engine's one uniqueness
    compiler (``duplicate_groups``)."""
    return _duplicate_count(_t(spark, sf, "orders"), ["o_custkey"])


def _q_duplicate_composite(spark, sf):
    return _duplicate_count(_t(spark, sf, "lineitem"),
                            ["l_orderkey", "l_linenumber"])


def _duplicate_count(df, columns):
    from datacontract_cli_spark.engine.executor import _DUP_ALIAS, duplicate_groups
    _, fold = duplicate_groups(df, columns)
    return fold.select(F.col(_DUP_ALIAS).alias("duplicate_count"))


def _q_freshness_retention(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
    )


def _q_row_filter(spark, sf):
    orders = _t(spark, sf, "orders").filter(F.expr("o_totalprice <= 1000"))
    return orders.agg(F.count(F.lit(1)).alias("row_count"))


def _q_violation_samples(spark, sf):
    orders = _t(spark, sf, "orders")
    spec = _spec(field="o_totalprice", valid_max=1000.0)
    cond = invalid_condition(orders, "o_totalprice", spec)
    return (
        orders.filter(cond)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy("o_orderkey")
        .limit(5)
    )


def _q_percent_failed(spark, sf):
    ev = _t(spark, sf, "events")
    bad = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return ev.agg(
        F.round(bad * 100.0 / F.count(F.lit(1)), 6).alias("failed_percent")
    )


def _q_profile_orders(spark, sf):
    from datacontract_cli_spark.operators.profile import profile_df
    return profile_df(
        _t(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        exact_distinct=True,
    )


def _q_referential_integrity(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    ev = _t(spark, sf, "events")
    cust = _t(spark, sf, "customer")
    return spark.createDataFrame(
        [(orphan_count(li, "l_orderkey", orders, "o_orderkey"),
          orphan_count(ev, "user_id", cust, "c_custkey"))],
        "lineitem_orphans bigint, event_user_orphans bigint",
    )


def _q_psi_event_type(spark, sf):
    baseline = {"click": 0.2, "error": 0.2, "purchase": 0.2, "signup": 0.2, "view": 0.2}
    return drift.psi_df(_t(spark, sf, "events"), "event_type", baseline)


def _q_jsd_event_type(spark, sf):
    baseline = {"click": 0.2, "error": 0.2, "purchase": 0.2, "signup": 0.2, "view": 0.2}
    return drift.jsd_df(_t(spark, sf, "events"), "event_type", baseline)


def _q_chi2_event_type(spark, sf):
    baseline = {"click": 0.2, "error": 0.2, "purchase": 0.2, "signup": 0.2, "view": 0.2}
    return drift.chi2_df(_t(spark, sf, "events"), "event_type", baseline)


def _q_ks_value(spark, sf):
    points = [[10.0, 0.1], [35.0, 0.5], [100.0, 0.9], [300.0, 0.99]]
    return drift.ks_df(_t(spark, sf, "events"), "value", points)


def _q_ks_by_event_type(spark, sf):
    """Per-slice KS drift (the north rule's text-length-quantile drift
    check per role/tool): one groupBy, map-side count-if partials,
    |groups| rows over the exchange."""
    points = [[10.0, 0.1], [35.0, 0.5], [100.0, 0.9], [300.0, 0.99]]
    return drift.ks_by_group(_t(spark, sf, "events"), "event_type",
                             "value", points).orderBy("event_type")


def _q_window_top3(spark, sf):
    # per-customer top-3 as a grouped sorted-array slice instead of a
    # row_number window: same exchange (by o_custkey), but a hash
    # aggregate replaces the per-partition global sort + WindowExec —
    # measured ~15% faster at sf1.0, row set PROVEN identical
    # (exceptAll-empty both ways; (−totalprice, orderkey) is a total
    # order, so the slice reproduces row_number exactly)
    orders = _t(spark, sf, "orders")
    s = F.struct((-F.col("o_totalprice")).alias("np"),
                 F.col("o_orderkey").alias("k"))
    g = orders.groupBy("o_custkey").agg(
        F.slice(F.array_sort(F.collect_list(s)), 1, 3).alias("t"))
    return (g.select("o_custkey", F.posexplode("t").alias("p", "v"))
            .select("o_custkey", F.col("v.k").alias("o_orderkey"),
                    (F.col("p") + 1).cast("int").alias("rn")))


def _q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_join_revenue_by_nation(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    nation = _t(spark, sf, "nation")
    # SHUFFLE_HASH on the orders side: auto-broadcast picked orders
    # (25 MB < the 64 MB threshold), but building a 1.5M-row hash relation
    # single-threaded on the driver dominated the query (measured 3.2s →
    # 0.9s at sf1.0); a shuffled hash join builds per-partition tables in
    # parallel and scales with the cluster. cust/nation stay broadcast.
    return (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_topk_parts(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.col("l_partkey"))
        .limit(10)
    )


def _q_sessionization(spark, sf):
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    # parquet TIMESTAMP_NTZ → cast to session-UTC timestamp for unix_millis
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev_ms = F.unix_millis(F.lag(F.col("ts").cast("timestamp")).over(w))
    gap = ms - prev_ms
    marked = ev.withColumn("new_session",
                           F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0))
    return marked.agg(F.sum("new_session").alias("n_sessions"))


# --- training-data ops -------------------------------------------------------

def _q_dedup_exact(spark, sf):
    docs = _t(spark, sf, "documents")
    norm = dedup.normalized_text(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(norm).alias("n_unique"),
    )


def _q_token_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    n_tok = textstats.whitespace_token_count(F.col("text"))
    return docs.agg(
        F.sum(n_tok).alias("total_tokens"),
        F.round(F.avg(n_tok), 4).alias("avg_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


def _pii_contact_col():
    """Deterministic contact-text derivation (this sandbox's TPC-H tables
    carry no free-text PII columns, so the PII scan derives one from keys —
    the identical expression runs in the DuckDB oracle): every row gets an
    email, every third row a grouped-digit phone."""
    return F.concat(
        F.lit("reach "), F.col("c_name"), F.lit(" at c"),
        F.col("c_custkey").cast("string"), F.lit("@example.com or "),
        F.when(F.col("c_custkey") % 3 == 0,
               F.concat(F.lit("25-989-741-"),
                        F.lpad((F.col("c_custkey") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("n/a")))


def _q_pii_scan_customer(spark, sf):
    """PII detection over contact text: per-category values-with-match and
    total match counts — pure regexp Column math, one narrow pass."""
    from datacontract_cli_spark.operators import pii
    cust = _t(spark, sf, "customer").withColumn("contact", _pii_contact_col())
    return pii.pii_summary(cust, ["contact"], categories=["email", "phone"])


def _q_pii_scrub_customer(spark, sf):
    """Scrub validation: masked values and residual (must-be-zero) PII
    matches after scrubbing."""
    from datacontract_cli_spark.operators import pii
    cust = _t(spark, sf, "customer").withColumn("contact", _pii_contact_col())
    scrubbed = pii.scrub(F.col("contact"), ["email", "phone"])
    return cust.agg(
        F.sum(F.when(scrubbed.contains(pii.DEFAULT_MASK), 1).otherwise(0))
        .alias("masked_values"),
        F.sum(pii.match_count(scrubbed, "email")
              + pii.match_count(scrubbed, "phone")).alias("residual_matches"),
    )


def _q_lm_quality_score(spark, sf):
    """CCNet-style quality signal: per-language average perplexity of the
    held-out half of the corpus under a unigram LM fit on the first half —
    fit is one grouped count, scoring is a broadcast vocabulary join."""
    from datacontract_cli_spark.operators import lm_score
    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    held = docs.filter(F.col("doc_id") % 2 == 1)
    lm = lm_score.fit_unigram_lm(train, vocab_size=1000)
    scores = lm_score.score_documents(held, lm)
    return (scores.join(held.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("perplexity"), 4).alias("avg_perplexity"),
                 F.round(F.min("perplexity"), 4).alias("min_perplexity"),
                 F.round(F.max("perplexity"), 4).alias("max_perplexity"))
            .orderBy("lang"))


def _q_benchmark_contamination(spark, sf):
    """Decontamination: corpus docs sharing a 5-word-gram with a benchmark
    set (docs 0-9) — broadcast semi-join, corpus shuffles (doc_id, gram)
    pairs only. Raw gram strings (hash_grams=False), the reference lane,
    so the DuckDB oracle reproduces the join keys."""
    from datacontract_cli_spark.operators.contamination import contamination_stats
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return contamination_stats(corpus, bench, n=5, hash_grams=False)


def _q_partitioned_validation(spark, sf):
    """The north-rule centerpiece IN the correctness gate: per-bucket
    verdicts over hash buckets of user_id, folded to global metrics — the
    fold must equal plain global SQL counts (bucketing must not change any
    metric)."""
    from datacontract_cli_spark.checks.spec import CheckSpec, MetricType, Op, Threshold
    from datacontract_cli_spark.engine.partitioned import PartitionedValidator

    ev = _t(spark, sf, "events")
    specs = [
        CheckSpec(key="missing_et", category="schema", type="field_required",
                  name="m", model="events", field="event_type",
                  metric=MetricType.MISSING_COUNT, threshold=Threshold(Op.EQ, 0),
                  missing_values=["error"]),
        CheckSpec(key="invalid_val", category="schema", type="field_maximum",
                  name="i", model="events", field="value",
                  metric=MetricType.INVALID_COUNT, threshold=Threshold(Op.EQ, 0),
                  valid_max=10.0),
        # duplicate key CONTAINS the partition key, so bucket-local counts
        # sum exactly (engine/partitioned.py module docstring)
        CheckSpec(key="dup_event", category="schema", type="field_unique",
                  name="d", model="events", field=None,
                  metric=MetricType.DUPLICATE_COUNT, threshold=Threshold(Op.EQ, 0),
                  columns=["user_id", "event_id"]),
    ]
    pv = PartitionedValidator(spark, checkpoint_dir=None,
                              partition_key="user_id", n_buckets=16)
    verdicts = pv.run(ev, specs, "events")
    folded = PartitionedValidator.fold(verdicts)
    m = folded["metrics"]
    return spark.createDataFrame(
        [(int(folded["n_buckets_validated"]), int(m["row_count"]),
          int(m["missing_et"]), int(m["invalid_val"]), int(m["dup_event"]))],
        "n_buckets bigint, row_count bigint, missing_et bigint, "
        "invalid_val bigint, dup_event bigint",
    )


def _q_histogram_totalprice(spark, sf):
    """Equi-width histogram (explicit bounds so both engines compute the
    same bucket float math)."""
    from datacontract_cli_spark.operators.profile import histogram
    orders = _t(spark, sf, "orders")
    return histogram(orders, "o_totalprice", 5, lo=0.0, hi=600000.0)


def _q_bpe_token_stats(spark, sf):
    """Token counts under the BPE-ish regex tokenizer (words / numbers /
    single symbols) — the portable-pattern analogue of a GPT-2-style
    pre-tokenizer, all JVM-side regexp."""
    docs = _t(spark, sf, "documents")
    n_tok = textstats.regex_token_count(F.col("text"))
    return docs.agg(
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.round(F.avg(n_tok), 4).alias("avg_tokens"),
        F.max(n_tok).cast("long").alias("max_tokens"),
    )


def _q_winnow_dups(spark, sf):
    """Winnowing-fingerprint candidate pairs (MOSS): shared k-gram
    fingerprints via inverted-index join; md5 hash family (the reference
    lane) so the DuckDB oracle reproduces the exact pair set."""
    docs = _t(spark, sf, "documents")
    return (
        dedup.winnow_shared_pairs(docs, "doc_id", k=8, window=4, min_shared=30,
                                  max_doc_freq=50, hash_family="md5")
        .select("id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"))
        .orderBy("id_a", "id_b")
    )


def _q_lang_freq(spark, sf):
    return (
        _t(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(textstats.whitespace_token_count(F.col("text"))), 4).alias("avg_tokens"),
        )
    )


def _q_text_quality(spark, sf):
    docs = _t(spark, sf, "documents")
    n_tok = textstats.whitespace_token_count(F.col("text"))
    keep = (n_tok >= 20) & (n_tok <= 60) & (F.col("lang") == "en")
    return docs.agg(
        F.sum(F.when(keep, 1).otherwise(0)).alias("kept"),
        F.count(F.lit(1)).alias("total"),
    )


def _q_minhash_near_dups(spark, sf):
    docs = _t(spark, sf, "documents")
    # md5 kernel (the reference lane): the shared hash family — banded-LSH
    # candidates + signature agreement are reproduced bit-for-bit by the
    # DuckDB oracle (same one md5 per shingle + 64 affine permutations +
    # 16x4 banding)
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", threshold=0.8,
                                          kernel="md5")
    return _released(spark, pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")),
        pairs).orderBy("id_a", "id_b")


def _q_ngram_jaccard_dups(spark, sf):
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard(docs, "doc_id", n=3, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_simhash_near_dups(spark, sf):
    docs = _t(spark, sf, "documents")
    # md5 hash family (the reference lane): the oracle brute-forces hamming
    # over all pairs, which ALSO proves the pigeonhole word-blocking is
    # exhaustive for hamming<=3
    return dedup.simhash_near_duplicates(
        docs, "doc_id", max_hamming=3, hash_family="md5"
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _q_minhash_near_dups_recall(spark, sf):
    """MinHash LSH RECALL on the arrow lane (the library default) against
    the exact 3-shingle Jaccard >= 0.8 pair set: the oracle asserts
    n_missed == 0, i.e. banded LSH at this threshold loses no pair the
    exact inverted-index scan finds."""
    docs = _t(spark, sf, "documents")
    exact = dedup.ngram_jaccard(docs, "doc_id", n=3, threshold=0.8) \
        .select("id_a", "id_b")
    lsh = dedup.minhash_near_duplicates(docs, "doc_id", threshold=0.8,
                                        kernel="arrow")
    found = exact.join(lsh.select("id_a", "id_b"), ["id_a", "id_b"],
                       "left_semi")
    n_exact, n_found = exact.count(), found.count()
    lsh.unpersist()
    return spark.createDataFrame(
        [(n_exact, n_found)], "n_exact bigint, n_found bigint"
    ).select("n_exact", "n_found",
             (F.col("n_exact") - F.col("n_found")).alias("n_missed"))


def _q_events_hourly(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
                   .alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("total_value"))
    )


def _q_dedup_keep_first(spark, sf):
    docs = _t(spark, sf, "documents")
    kept = dedup.dedup_exact(docs, "doc_id")
    return kept.agg(F.count(F.lit(1)).alias("n_kept"),
                    F.sum("doc_id").alias("id_sum"))


def _q_conversation_stats(spark, sf):
    """Salted per-group stats shape over events (user_id as the conv key)."""
    from datacontract_cli_spark.operators.convchecks import conversation_stats
    ev = _t(spark, sf, "events")
    stats = conversation_stats(ev, conv_col="user_id", turn_col="event_id",
                               ts_col="ts", salt_buckets=8)
    return stats.select(
        "user_id",
        F.col("n_turns").alias("n_events"),
        F.col("min_turn").alias("min_event_id"),
        F.col("max_turn").alias("max_event_id"),
    )


def _q_semi_anti_join(spark, sf):
    """Customers WITH big orders (semi) and WITHOUT any orders (anti)."""
    cust = _t(spark, sf, "customer")
    big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 50000)
    with_big = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
    orders = _t(spark, sf, "orders")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return spark.createDataFrame(
        [(with_big.count(), without.count())],
        "n_with_big_order bigint, n_without_orders bigint",
    )


def _q_rollup_orders(spark, sf):
    orders = _t(spark, sf, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
                "n", "total")
    )


def _q_unpivot_part(spark, sf):
    part = _t(spark, sf, "part")
    long = part.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("double")), 2).alias("total"),
    )


def _q_cube_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "revenue",
        )
    )


def _q_pivot_status(spark, sf):
    orders = _t(spark, sf, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select("o_orderpriority",
                F.coalesce("O", F.lit(0)).alias("n_open"),
                F.coalesce("F", F.lit(0)).alias("n_finished"),
                F.coalesce("P", F.lit(0)).alias("n_pending"))
    )


def _q_dedup_clusters(spark, sf):
    """Connected components over the md5-family minhash near-dup pairs:
    cluster_id = min doc id of the component (the representative a dedup
    pipeline keeps). The oracle replays it as a DuckDB recursive CTE over
    the SAME pair set. The clusters frame holds no cache, so releasing the
    pairs leaves the session's cache empty."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", threshold=0.8,
                                          kernel="md5")
    clusters = dedup.connected_components(pairs)
    pairs.unpersist()
    return clusters.select(
        F.col("node").cast("long").alias("node"),
        F.col("cluster_id").cast("long").alias("cluster_id")).orderBy("node")


def _q_stratified_sample(spark, sf):
    """Deterministic per-language quota sample (training-data mixing): rank
    inside each stratum by md5(doc_id) — the shared hash family — so the
    exact sample is engine-independent."""
    from datacontract_cli_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf, "documents")
    return (
        stratified_sample(docs, "lang", 10, "doc_id")
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def _q_fd_violations(spark, sf):
    """Functional-dependency validation: c_custkey -> c_nationkey must be
    deterministic within customer (every key maps to one nation), and a
    REAL dependency check across orders: o_orderkey -> o_custkey."""
    from datacontract_cli_spark.operators.refintegrity import fd_violations
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    a = fd_violations(cust, ["c_custkey"], "c_nationkey") \
        .select(F.col("violating_groups").alias("cust_nation_violations"))
    b = fd_violations(orders, ["o_orderkey"], "o_custkey") \
        .select(F.col("violating_groups").alias("order_cust_violations"))
    return a.crossJoin(b)


def _q_sequence_violations(spark, sf):
    """Funnel/sequence-pattern validation: per user (ordered by ts,
    event_id), purchases not preceded by click/view and signups that are
    neither first nor view-preceded — one lag window + one aggregate."""
    from datacontract_cli_spark.operators.convchecks import predecessor_violations
    ev = _t(spark, sf, "events")
    return predecessor_violations(
        ev, "user_id", ["ts", "event_id"], "event_type",
        {"purchase": {"allowed": ["click", "view"], "allow_first": False},
         "signup": {"allowed": ["view"], "allow_first": True}})


def _q_tfidf_top_terms(spark, sf):
    """Declarative keyword extraction: top-3 tf-idf terms per document
    (smoothed sklearn idf), deterministic tie-break by term."""
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return (textstats.tfidf_top_terms(docs, k=3)
            .orderBy("doc_id", "rank"))


def _q_diversity_sample(spark, sf):
    """Embedding-diversity quota sample: sign-LSH buckets of embedding
    space, up to 3 docs per bucket by the shared md5 hash order — the
    cluster-balanced selection keeping dense regions from dominating."""
    from datacontract_cli_spark.operators.sampling import diversity_sample

    emb = _t(spark, sf, "embeddings")
    return (
        diversity_sample(emb, "embedding", "vec_id", quota=3, nbits=6)
        .select("vec_id", "bucket")
        .orderBy("bucket", "vec_id")
    )


def _q_repetition_ratio(spark, sf):
    """Within-document repetition (fraction of repeated word 3-grams) per
    language — the Gopher/C4-style boilerplate signal, as pure Column math."""
    docs = _t(spark, sf, "documents")
    rep = textstats.repetition_ratio(F.col("text"), n=3)
    return (
        docs.groupBy("lang")
        .agg(F.round(F.avg(rep), 4).alias("avg_repetition"),
             F.round(F.max(rep), 4).alias("max_repetition"),
             F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def _q_hash_split(spark, sf):
    """Leakage-safe train/valid/test assignment by id hash: same id -> same
    split regardless of partitioning, run order, or engine."""
    from datacontract_cli_spark.operators.sampling import hash_split

    docs = _t(spark, sf, "documents")
    return (
        hash_split(docs, "doc_id", {"train": 0.9, "valid": 0.05, "test": 0.05})
        .groupBy("split").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split")
    )


def _q_gopher_quality(spark, sf):
    """Gopher-style quality rules (word-count bounds, mean-word-length
    bounds, alpha-word fraction) aggregated to per-rule failure counts.
    Thresholds tuned so each rule binds on the synthetic corpus."""
    from datacontract_cli_spark.operators.textstats import gopher_quality

    docs = _t(spark, sf, "documents")
    flags = gopher_quality(docs, min_words=30, max_words=80,
                           min_mean_word_len=4.0, max_mean_word_len=5.0,
                           min_alpha_word_frac=0.8)
    return flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(~F.col("ok_word_count"), 1)).alias("fail_word_count"),
        F.count(F.when(~F.col("ok_mean_word_len"), 1)).alias("fail_mean_word_len"),
        F.count(F.when(~F.col("ok_alpha_words"), 1)).alias("fail_alpha_words"),
        F.count(F.when(F.col("keep"), 1)).alias("kept"),
    )


def _q_top_ngrams(spark, sf):
    """Corpus-wide most-frequent 5-grams (dedup-analysis view): distributed
    top-k via TakeOrderedAndProject, (occurrences DESC, gram ASC) order."""
    from datacontract_cli_spark.operators.contamination import top_ngrams

    docs = _t(spark, sf, "documents")
    return top_ngrams(docs, n=5, k=15)


def _q_turn_contiguity(spark, sf):
    """Turn-index density check (north rule: stable dense turn ordering
    per conversation) exercised on a driver table: lineitem's
    (l_orderkey, l_linenumber-1) is dense 0..n-1 until the quantity filter
    knocks holes in it — violating orders + a global violation count in
    one result."""
    from datacontract_cli_spark.operators.convchecks import turn_density_violations

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 10).select(
        F.col("l_orderkey").alias("conv_id"),
        (F.col("l_linenumber") - 1).alias("turn_idx"))
    v = turn_density_violations(li, "conv_id", "turn_idx")
    totals = v.agg(F.count(F.lit(1)).alias("total_violations"))
    return (v.crossJoin(F.broadcast(totals))
            .orderBy("conv_id").limit(10)
            .select("conv_id", "n_turns", "min_turn", "max_turn",
                    "dup_turn_groups", "total_violations"))


def _q_quality_classifier(spark, sf):
    """fastText-style hashed linear classifier scores: top-10 documents by
    sigmoid(mean seeded-weight of md5-hashed unigrams). Zero-shuffle
    per-row Column math (the plan has no Exchange)."""
    from datacontract_cli_spark.operators.classifier import quality_scores

    docs = _t(spark, sf, "documents")
    # arrow kernel: same md5 buckets, same fold order, same HALF_UP
    # rounding — bit-identical scores (oracle-verified at 3 SFs), with the
    # md5 work memoized per distinct word per task instead of per token
    s = quality_scores(docs, n_buckets=4096, seed=0, kernel="arrow")
    # n_tokens: size() is INT; DuckDB len() is BIGINT — align the type
    # family for the driver's type-sensitive hash
    return (s.withColumn("n_tokens", F.col("n_tokens").cast("long"))
            .orderBy(F.desc("quality_score"), F.asc("doc_id")).limit(10))


def _q_sequence_packing(spark, sf):
    """Greedy FFD sequence packing of documents into 512-token bins across
    8 md5 buckets: one-row fill/waste accounting. The cumsum window is
    PARTITIONED by bucket — never global."""
    from datacontract_cli_spark.operators.packing import packing_stats

    docs = _t(spark, sf, "documents")
    return packing_stats(docs, budget=512, n_buckets=8)


def _q_doc_chunks(spark, sf):
    """Sliding-window chunking (64-token chunks every 48): corpus-level
    chunk accounting. Entirely narrow until the one-row agg."""
    from datacontract_cli_spark.operators.packing import chunk_documents

    docs = _t(spark, sf, "documents")
    c = chunk_documents(docs, chunk_size=64, stride=48)
    return c.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").alias("total_chunk_tokens"),
        F.round(F.avg(F.col("n_tokens") / F.lit(64.0)), 6).alias("avg_fill"),
        F.sum((F.col("n_tokens") == 64).cast("long")).alias("n_full_chunks"),
    )


def _q_sliced_validation(spark, sf):
    """Per-slice contract validation: every agg-able check evaluated per
    o_orderstatus segment in ONE groupBy — the semantic-segment analogue
    of the per-partition pass/fail verdicts. Exact quantile so the DuckDB
    oracle (quantile_cont) reproduces the p50 bit-for-bit."""
    from datacontract_cli_spark.engine.sliced import sliced_validation
    from datacontract_cli_spark.model.contract import load_contract_str

    contract = load_contract_str("""
id: orders
version: 1.0.0
schema:
  - name: orders
    properties:
      - name: o_custkey
        logicalType: integer
        required: true
      - name: o_totalprice
        logicalType: number
        logicalTypeOptions:
          minimum: 0
        quality:
          - type: library
            metric: quantile
            arguments: {quantile: 0.5, exact: true}
            mustBeLessThan: 251500
    quality:
      - type: library
        metric: rowCount
        mustBeGreaterThan: 1000
""")
    out = sliced_validation(_t(spark, sf, "orders"), contract, "orders",
                            ["o_orderstatus"])
    return (out.withColumn("metric_value", F.round("metric_value", 6))
            .orderBy("o_orderstatus", "check_key"))


def _q_mixture_sample(spark, sf):
    """Domain-mixture subsample: resample sources toward a 40/40/20
    src0/src1/src2 target at 5% of token volume; per-row md5 threshold,
    zero shuffles on the corpus. Unlisted sources drop."""
    from datacontract_cli_spark.operators.packing import mixture_sample

    docs = _t(spark, sf, "documents")
    kept = mixture_sample(docs, {"src0": 0.4, "src1": 0.4, "src2": 0.2},
                          sample_frac=0.05)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").alias("kept_chars"))
            .orderBy("source"))


def _q_line_dedup(spark, sf):
    """C4/CCNet corpus line-dedup on a derived multi-line corpus: derived
    doc d holds source texts d, d+1, d+2 as lines (overlapping windows →
    every line occurs in up to 3 docs), so keep-first must retain derived
    doc 0's three lines, every other doc's LAST line only, and strip the
    tail docs empty. The oracle derives the same corpus and applies
    row_number-over-(line) independently of the operator's groupBy+join
    first-occurrence plan."""
    from datacontract_cli_spark.operators.lines import line_dedup

    docs = _t(spark, sf, "documents").select(F.col("doc_id").alias("src"),
                                             "text")
    offs = spark.range(3).select(F.col("id").alias("off"))
    lines = (docs.crossJoin(F.broadcast(offs))
             .withColumn("derived", F.col("src") - F.col("off"))
             .filter(F.col("derived") >= 0))
    derived_docs = (lines.groupBy("derived")
                    .agg(F.concat_ws("\n", F.transform(
                        F.array_sort(F.collect_list(F.struct("off", "text"))),
                        lambda s: s["text"])).alias("text"))
                    .select(F.col("derived").alias("doc_id"), "text"))
    return line_dedup(derived_docs, min_len=10).orderBy("doc_id")


def _q_contamination_fraction(spark, sf):
    """Per-doc eval-overlap FRACTION (the PaLM-style decontamination
    report): corpus docs >= 10 against the doc<10 benchmark, fraction of
    each doc's distinct 5-grams found in the eval set. Raw gram strings
    (hash_grams=False), the reference lane, so DuckDB reproduces the join
    keys."""
    from datacontract_cli_spark.operators.contamination import (
        contamination_fraction,
    )
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return (contamination_fraction(corpus, bench, n=5, hash_grams=False)
            .orderBy("doc_id"))


def _q_transition_drift(spark, sf):
    """Conversation-FLOW drift (north rule's role-frequency drift lifted
    to first-order sequence structure): PSI of adjacent-event transition
    bigrams per user (order = ts, event_id) against a uniform baseline
    over the 25 event-type pairs. One conv-partitioned lag window + the
    declarative one-row drift plan — no collect."""
    from itertools import product

    from datacontract_cli_spark.operators.convchecks import transition_drift

    types = ["click", "error", "purchase", "signup", "view"]
    baseline = {f"{a}->{b}": 0.04 for a, b in product(types, types)}
    ev = _t(spark, sf, "events")
    return transition_drift(ev, baseline, conv_col="user_id",
                            order_cols=("ts", "event_id"),
                            col="event_type")


def _q_tool_args_validation(spark, sf):
    """Per-tool JSON-Schema argument validation (transcript tool-call
    lane) exercised on events: event_type plays the tool column, props
    the argument JSON; two tools carry schemas with disjoint constraints
    on k, the rest validate vacuously (unknown='ignore'). One narrow
    CASE projection — no shuffle until the per-tool count."""
    from datacontract_cli_spark.operators.jsonschema import (
        tool_args_violation_counts,
    )

    schemas = {
        "purchase": {"type": "object", "required": ["k"],
                     "properties": {"k": {"type": "integer",
                                          "minimum": 50}}},
        "error": {"type": "object",
                  "properties": {"k": {"type": "integer", "maximum": 10}}},
    }
    ev = _t(spark, sf, "events")
    return (tool_args_violation_counts(ev, schemas, tool_col="event_type",
                                       args_col="props")
            .orderBy("tool"))


def _q_agent_loops(spark, sf):
    """Degenerate-agent-loop detection (gaps-and-islands run lengths):
    maximal runs of >=3 consecutive identical event_types per user under
    (ts, event_id) order — the retry-storm / stuck-tool-loop signature in
    agent transcripts. One conv-partitioned window (lag + running sum in
    a single sort) then a map-side-combining groupBy: rows over the wire
    is O(runs), never O(turns)."""
    from datacontract_cli_spark.operators.convchecks import loop_report

    ev = _t(spark, sf, "events")
    return loop_report(ev, key_col="user_id", order_cols=("ts", "event_id"),
                       action_cols=("event_type",), min_run=3)


def _q_error_followup(spark, sf):
    """Per-action follow-up-rate diagnostics: for each event_type, how
    often is the NEXT event in the same user stream an 'error' — the
    per-tool error-rate table for agent transcripts. One lead window
    partitioned by user + one groupBy on 5 action values."""
    from datacontract_cli_spark.operators.convchecks import followup_rates

    ev = _t(spark, sf, "events")
    return followup_rates(ev, target="error", key_col="user_id",
                          order_cols=("ts", "event_id"),
                          col="event_type").orderBy("event_type")


def _table_fixture_root(sf_dir: str, kind: str) -> str:
    """Deterministic /tmp location for a documents-derived lakehouse
    fixture table, keyed by source path+mtime so a fresh sf_dir rebuilds."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "documents.parquet")
    key = f"{os.path.abspath(src)}:{os.path.getmtime(src)}:{kind}:v1"
    h = hashlib.md5(key.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"dcspark_{kind}_{h}")


def _q_iceberg_scan(spark, sf):
    """Round-trip the documents table through a pure-Python-written
    Iceberg v2 layout (partitioned by lang), read it back through the
    pure-Python manifest planner with a partition-pruned filter, and
    aggregate — exactness vs the oracle proves the whole metadata plane
    (OCF codec, manifests, pruning, schema mapping)."""
    import os

    from datacontract_cli_spark.sources.iceberg_table import read_iceberg
    from datacontract_cli_spark.sources.iceberg_write import write_iceberg_table

    root = _table_fixture_root(sf, "iceberg")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        write_iceberg_table(_t(spark, sf, "documents"), root,
                            partition_by=["lang"], files_per_group=2)
        open(marker, "w").close()
    return (
        read_iceberg(spark, root, filters=[("lang", "=", "en")])
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def _q_delta_time_travel(spark, sf):
    """Two-version Delta table (v0 = web docs, v1 appends the rest) built
    by the pure-Python log writer; reads VERSION 0 via log replay with a
    partition filter. Oracle = the web+en slice of documents — matching
    it proves replay, time travel and partition-value injection."""
    import os

    from datacontract_cli_spark.sources.delta_table import (
        read_delta,
        write_delta_table,
    )

    root = _table_fixture_root(sf, "delta")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        docs = _t(spark, sf, "documents")
        write_delta_table(docs.filter(F.col("source") == "web"), root,
                          partition_by=["lang"])
        write_delta_table(docs.filter(~F.col("source").eqNullSafe("web")),
                          root, mode="append")
        open(marker, "w").close()
    return (
        read_delta(spark, root, version=0, filters=[("lang", "=", "en")])
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def _q_collapse_lines(spark, sf):
    """Within-doc consecutive-duplicate-line collapse over planted
    repetition (each doc's 40-char head repeated 3×, then a tail): the
    oracle replays the build and the collapse with DuckDB's indexed
    list lambda, so line-boundary or off-by-one bugs in the indexed
    higher-order filter surface as count/length mismatches
    (operators/lines.py:collapse_repeated_lines)."""
    from datacontract_cli_spark.operators.lines import (
        collapse_repeated_lines,
    )

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.substring("text", 1, 40).alias("L"),
        F.substring("text", 41, 80).alias("R"))
    nl = F.lit("\n")
    built = docs.select(
        "doc_id",
        # F.concat (not concat_ws): null text must stay null on both
        # sides (DuckDB || is null-propagating, concat_ws skips nulls)
        F.concat(F.col("L"), nl, F.col("L"), nl, F.col("L"), nl,
                 F.col("R")).alias("text"))
    before = built.select(
        "doc_id", "text",
        F.size(F.split("text", "\n")).cast("long").alias("lines_before"))
    out = collapse_repeated_lines(before)
    return (out.select(
        "doc_id", "lines_before",
        F.size(F.split("text", "\n")).cast("long").alias("lines_after"),
        F.length("text").cast("long").alias("n_chars"))
        .orderBy("doc_id"))


def _q_gopher_repetition(spark, sf):
    """Gopher §A1.3 repetition metrics over planted lined text (each
    doc's normalized 30-char head twice + a tail line): dup-line
    fraction, dup-line char fraction, top-bigram char coverage. Text is
    whitespace-normalized with an explicit class INCLUDING \\x0B first
    (Java \\s and RE2 \\s disagree on vertical tab; scrubbing it here
    means the operator's internal Java \\s+ and the oracle's class see
    identical whitespace), and null text is filtered on both sides
    (Spark's explode_outer keeps a null-text doc as a zeros row, the
    oracle's unnest drops it); the count-tie rule (greatest gram) is
    fixed, so the metric doubles match bit-for-bit
    (operators/textstats.py:gopher_repetition)."""
    from datacontract_cli_spark.operators.textstats import gopher_repetition

    norm = F.trim(F.regexp_replace(F.col("text"),
                                   "[ \t\n\r\f\x0b]+", " "))
    docs = _t(spark, sf, "documents").filter(
        F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.trim(F.substring(norm, 1, 30)).alias("L"),
        F.trim(F.substring(norm, 31, 60)).alias("R"))
    built = docs.select(
        "doc_id",
        F.concat(F.col("L"), F.lit("\n"), F.col("L"), F.lit("\n"),
                 F.col("R")).alias("text"))
    return gopher_repetition(built).orderBy("doc_id")


def _q_iceberg_upsert(spark, sf):
    """Single-snapshot MERGE upsert lifecycle: documents → Iceberg table,
    then ONE upsert commit carrying updates (doc_id%5: n_chars+1000) and
    inserts (doc_id%10 copied to doc_id+1000000) as an equality-delete
    manifest + data manifest at the same sequence number. The oracle
    replays the merge relationally; a wrong sequence-number scoping
    (deletes eating their own inserts, or stale rows surviving) shows as
    a row mismatch (sources/iceberg_write.py:upsert_iceberg; reference
    binds MERGE INTO via its warehouse engines)."""
    import os

    from datacontract_cli_spark.sources.iceberg_table import read_iceberg
    from datacontract_cli_spark.sources.iceberg_write import (
        upsert_iceberg,
        write_iceberg_table,
    )

    root = _table_fixture_root(sf, "icemerge")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        docs = _t(spark, sf, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang",
            F.col("n_chars").cast("long").alias("n_chars"))
        write_iceberg_table(docs, root)
        batch = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", "lang",
            (F.col("n_chars") + 1000).alias("n_chars"),
        ).unionByName(docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "lang",
            "n_chars"))
        upsert_iceberg(batch, root, key_cols=["doc_id"])
        open(marker, "w").close()
    return read_iceberg(spark, root).orderBy("doc_id")


def _q_iceberg_evolution(spark, sf):
    """Field-id schema evolution lifecycle: documents → Iceberg table
    with an INT score column; promote score→long, rename lang→language,
    add bonus double; append a post-evolution batch. Old files must
    project by field id (renamed column surfaces under the new name,
    promoted ints widen, added column backfills null) — the oracle
    builds the same final state relationally
    (sources/iceberg_write.py:evolve_schema_iceberg)."""
    import os

    from datacontract_cli_spark.sources.iceberg_table import read_iceberg
    from datacontract_cli_spark.sources.iceberg_write import (
        append_iceberg,
        evolve_schema_iceberg,
        write_iceberg_table,
    )

    root = _table_fixture_root(sf, "iceevo")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        docs = _t(spark, sf, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang",
            (F.col("doc_id") % 100).cast("int").alias("score"))
        write_iceberg_table(docs, root)
        evolve_schema_iceberg(root, promote={"score": "long"},
                              rename={"lang": "language"},
                              add=[("bonus", "double")])
        extra = _t(spark, sf, "documents") \
            .filter(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.col("lang").alias("language"),
                (F.col("doc_id") % 100).cast("long").alias("score"),
                (F.col("doc_id") % 7).cast("double").alias("bonus"))
        append_iceberg(extra, root)
        open(marker, "w").close()
    return read_iceberg(spark, root).orderBy("doc_id")


def _q_delta_deletion_vectors(spark, sf):
    """Delta protocol-3 merge-on-read lifecycle over documents: a
    COLUMN-MAPPED table (parquet files carry generated physical names)
    takes two successive deletion-vector DELETE commits (doc_id % 9 = 0,
    then lang = 'fr' — the second must UNION into the first files' DVs).
    The reader decodes the roaring-bitmap DVs (sources/roaring.py,
    spec-pinned) and applies them as one broadcast LEFT ANTI join on
    (_metadata.file_path, row_index); fully-deleted files prune at
    planning. The oracle recomputes the surviving set relationally, so
    exactness proves the DV codec, descriptor resolution, union-on-
    redelete, column-mapping projection and the anti-join application."""
    import os

    from datacontract_cli_spark.sources.delta_table import (
        delete_rows_delta,
        read_delta,
        write_delta_table,
    )

    root = _table_fixture_root(sf, "delta_dv")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        docs = _t(spark, sf, "documents")
        write_delta_table(docs, root, partition_by=["lang"],
                          column_mapping="name")
        delete_rows_delta(spark, root, "doc_id % 9 = 0")
        delete_rows_delta(spark, root, "lang = 'fr'")
        open(marker, "w").close()
    return (
        read_delta(spark, root)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


def _q_iceberg_mor(spark, sf):
    """Iceberg v2 MERGE-ON-READ lifecycle over documents: positional
    delete (doc_id % 7 == 0), equality delete (lang = 'de'), then an
    append that re-adds the de docs with doc_id < 50 — which survive
    both older deletes (sequence-number scoping). The reader applies
    delete files as broadcast LEFT ANTI joins on
    (_metadata.file_path, _metadata.row_index) / the equality key; the
    oracle recomputes the surviving set relationally, so exactness
    proves delete-file commit, planning, scoping and application."""
    import os

    from datacontract_cli_spark.sources.iceberg_table import read_iceberg
    from datacontract_cli_spark.sources.iceberg_write import (
        append_iceberg,
        delete_equality_iceberg,
        delete_rows_iceberg,
        write_iceberg_table,
    )

    root = _table_fixture_root(sf, "iceberg_mor")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        docs = _t(spark, sf, "documents")
        write_iceberg_table(docs, root, files_per_group=4)
        delete_rows_iceberg(spark, root, "doc_id % 7 = 0")
        delete_equality_iceberg(
            spark, root,
            spark.createDataFrame([("de",)], "lang string"), ["lang"])
        append_iceberg(
            docs.filter((F.col("lang") == "de") & (F.col("doc_id") < 50)),
            root)
        open(marker, "w").close()
    return (
        read_iceberg(spark, root)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


_QUARANTINE_CONTRACT = """
apiVersion: v3.0.2
kind: DataContract
id: documents-quality-gate
version: 1.0.0
name: documents
schema:
  - name: documents
    logicalType: table
    properties:
      - name: doc_id
        logicalType: integer
      - name: text
        logicalType: string
        required: true
      - name: lang
        logicalType: string
        required: true
        logicalTypeOptions:
          enum: [en, de, fr]
      - name: source
        logicalType: string
      - name: n_chars
        logicalType: integer
        logicalTypeOptions:
          maximum: 500
"""


def _q_iceberg_quarantine(spark, sf):
    """Contract-driven quarantine: rows violating the documents contract
    (lang outside {en,de,fr}, n_chars > 500) are exported to a quarantine
    parquet and removed from the Iceberg table by ONE positional-delete
    snapshot. The post-quarantine read must equal the oracle's relational
    recomputation of the conforming set — proving the violation
    predicates, the (file, position) attribution, the delete commit and
    its merge-on-read application all at once."""
    import os

    from datacontract_cli_spark.model.contract import load_contract_str
    from datacontract_cli_spark.operators.quarantine import (
        quarantine_violations,
    )
    from datacontract_cli_spark.sources.iceberg_table import read_iceberg
    from datacontract_cli_spark.sources.iceberg_write import (
        write_iceberg_table,
    )

    root = _table_fixture_root(sf, "iceberg_quar")
    marker = os.path.join(root, "_READY")
    if not os.path.exists(marker):
        write_iceberg_table(_t(spark, sf, "documents"), root,
                            files_per_group=4)
        quarantine_violations(
            spark, root, load_contract_str(_QUARANTINE_CONTRACT),
            "documents")
        open(marker, "w").close()
    return (
        read_iceberg(spark, root)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate tests only the FIRST 50
    # entries.  Everything that has never been driver-green (or failed last
    # round) is front-loaded; multi-round-stable rows are rotated past 50.
    return {
        # --- never driver-tested (r04 cap) or failed in r04 — must be in top 50
        "repetition_ratio": _q_repetition_ratio,
        "diversity_sample": _q_diversity_sample,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "fd_violations": _q_fd_violations,
        "sequence_violations": _q_sequence_violations,
        "pii_scan_customer": _q_pii_scan_customer,
        "pii_scrub_customer": _q_pii_scrub_customer,
        # --- new in round 5
        "gopher_quality": _q_gopher_quality,
        "top_ngrams": _q_top_ngrams,
        "turn_contiguity": _q_turn_contiguity,
        "quality_classifier": _q_quality_classifier,
        "sequence_packing": _q_sequence_packing,
        "mixture_sample": _q_mixture_sample,
        "doc_chunks": _q_doc_chunks,
        "sliced_validation": _q_sliced_validation,
        "line_dedup": _q_line_dedup,
        "contamination_fraction": _q_contamination_fraction,
        "transition_drift": _q_transition_drift,
        "tool_args_validation": _q_tool_args_validation,
        "agent_loops": _q_agent_loops,
        "error_followup": _q_error_followup,
        "ks_by_event_type": _q_ks_by_event_type,
        "iceberg_scan_documents": _q_iceberg_scan,
        "delta_time_travel": _q_delta_time_travel,
        "iceberg_merge_on_read": _q_iceberg_mor,
        "iceberg_quarantine": _q_iceberg_quarantine,
        "delta_deletion_vectors": _q_delta_deletion_vectors,
        "iceberg_upsert": _q_iceberg_upsert,
        "iceberg_evolution": _q_iceberg_evolution,
        "collapse_lines": _q_collapse_lines,
        "gopher_repetition": _q_gopher_repetition,
        # --- green in r03 but pushed past the cap in r04
        "partitioned_validation": _q_partitioned_validation,
        "dedup_clusters": _q_dedup_clusters,
        "stratified_sample": _q_stratified_sample,
        "hash_split": _q_hash_split,
        # --- core contract-check lanes
        # (missing_count/duplicate_count rotated late-r5 for the iceberg/
        # delta scans; duplicate_count_composite rotated for
        # iceberg_merge_on_read; freshness_retention rotated for
        # iceberg_quarantine: all green r01-r04, predicate/agg lanes
        # untouched r5)
        # (percent_failed rotated late-r5 for delta_deletion_vectors:
        # green r01-r04, threshold lane untouched r5)
        # --- LLM-data-pipeline lanes
        # (lm_quality_score STAYS in-window: its fit was rewritten this
        # round — the driver must re-verify it)
        "lm_quality_score": _q_lm_quality_score,
        # --- rows that had been rotated out and came back into the window
        # when the 18 queries of the unreached operators (streaming,
        # similarity, asof, cohorts, ...) were deleted with their modules
        # (benchmark_contamination had been rotated late-r5 for
        # semantic_dedup: green r04, contamination.py untouched since;
        # chi2_event_type had been rotated for the since-deleted
        # delta_zorder: green r04, and the round's one drift.py change —
        # _baseline_literal key rendering — is identically exercised by
        # psi/jsd_event_type, which stay)
        # (jsd_event_type rotated late-r5 for collapse_lines,
        # psi_event_type for gopher_repetition: both green r03+r04; the
        # round's _baseline_literal fix is verified by the local gate at
        # three SFs like every other never-driver-tested lane)
        "psi_event_type": _q_psi_event_type,
        "jsd_event_type": _q_jsd_event_type,
        "chi2_event_type": _q_chi2_event_type,
        "benchmark_contamination": _q_benchmark_contamination,
        # (row_filter / violation_samples rotated late-r5 for
        # iceberg_upsert / iceberg_evolution: green r01-r04, and this
        # round's executor.py change — the tail() method — is off their
        # code path)
        "row_filter": _q_row_filter,
        "violation_samples": _q_violation_samples,
        # (minhash_near_dups/ngram_jaccard_dups rotated late-r5 for
        # agent_loops/error_followup, dedup_exact for ks_by_event_type:
        # green r03+r04 — r01-r04 for dedup_exact — and their dedup.py
        # lanes untouched this round; edits were winnowing/simhash only)
        "minhash_near_dups": _q_minhash_near_dups,
        "ngram_jaccard_dups": _q_ngram_jaccard_dups,
        "dedup_exact": _q_dedup_exact,
        "percent_failed": _q_percent_failed,
        "missing_count": _q_missing_count,
        "duplicate_count": _q_duplicate_count,
        "duplicate_count_composite": _q_duplicate_composite,
        # (freshness_retention came back when delta_zorder was deleted)
        "freshness_retention": _q_freshness_retention,
        # ---------------- position 51+: stable rows, rotated out
        # (tpch_q1/topk_parts/simhash_near_dups rotated r5: their code
        # paths are untouched this
        # round — the one dedup.py change was the winnow arrow kernel.
        # profile_orders/referential_integrity/ks_value rotated late-r5 for
        # line_dedup/contamination_fraction/transition_drift: green r03+r04,
        # profile.py / refintegrity.py / the ks lane untouched this round)
        "profile_orders": _q_profile_orders,
        "referential_integrity": _q_referential_integrity,
        "ks_value": _q_ks_value,
        # (row_count rotated late-r5 for tool_args_validation: green
        # r01-r04, a one-line direct aggregate untouched since r1)
        "row_count": _q_row_count,
        "simhash_near_dups": _q_simhash_near_dups,
        "tpch_q1": _q_tpch_q1,
        "topk_parts": _q_topk_parts,
        "token_stats": _q_token_stats,
        "dedup_keep_first": _q_dedup_keep_first,
        "window_top3_per_customer": _q_window_top3,
        "bpe_token_stats": _q_bpe_token_stats,
        "winnow_dups": _q_winnow_dups,
        "join_revenue_by_nation": _q_join_revenue_by_nation,
        "sessionization": _q_sessionization,
        "lang_freq": _q_lang_freq,
        "text_quality_filter": _q_text_quality,
        "invalid_count_enum": _q_invalid_enum,
        "invalid_count_range": _q_invalid_range,
        "invalid_count_regex": _q_invalid_regex,
        "invalid_count_max_length": _q_invalid_max_length,
        "events_hourly": _q_events_hourly,
        "conversation_stats": _q_conversation_stats,
        "cube_revenue": _q_cube_revenue,
        "pivot_status": _q_pivot_status,
        "semi_anti_join": _q_semi_anti_join,
        "rollup_orders": _q_rollup_orders,
        "unpivot_part": _q_unpivot_part,
        "histogram_totalprice": _q_histogram_totalprice,
        # appended past the window: the local oracle gate checks it at
        # three SFs
        "minhash_near_dups_recall": _q_minhash_near_dups_recall,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # the Spark side round-trips documents through a pure-Python
        # Iceberg/Delta layout in /tmp and reads it back via manifest/log
        # planning; the oracle recomputes the same slice straight from
        # the source parquet (CAST: DuckDB sum() is HUGEINT, Spark BIGINT)
        "iceberg_scan_documents": (
            "SELECT count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM documents WHERE lang = 'en'"
        ),
        "delta_time_travel": (
            "SELECT count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM documents WHERE source = 'web' AND lang = 'en'"
        ),
        "iceberg_quarantine": (
            # the conforming set under the quarantine contract: lang in
            # the enum (none are null in the fixture data) and
            # n_chars <= 500 — everything else was positionally deleted
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM documents "
            "WHERE lang IS NOT NULL AND lang IN ('en', 'de', 'fr') "
            "AND text IS NOT NULL "
            "AND (n_chars IS NULL OR n_chars <= 500) "
            "GROUP BY lang ORDER BY lang"
        ),
        "gopher_repetition": (
            "WITH norm AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "trim(regexp_replace(text, '[ \t\n\r\f\\x0B]+', ' ', 'g')) "
            "AS n FROM documents WHERE text IS NOT NULL), "
            "built AS (SELECT doc_id, "
            "trim(substring(n, 1, 30)) || chr(10) || "
            "trim(substring(n, 1, 30)) || chr(10) || "
            "trim(substring(n, 31, 60)) AS txt FROM norm), "
            "lines AS (SELECT doc_id, "
            "unnest(string_split(txt, chr(10))) AS ln FROM built), "
            "lg AS (SELECT doc_id, ln, count(*) AS c FROM lines "
            "GROUP BY 1, 2), "
            "ls AS (SELECT doc_id, sum(c) AS n_lines, "
            "sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines, "
            "sum(c * length(ln)) AS line_chars, "
            "sum(CASE WHEN c > 1 THEN c * length(ln) ELSE 0 END) "
            "AS dup_chars FROM lg GROUP BY 1), "
            "wlist AS (SELECT doc_id, string_split(trim(regexp_replace("
            "txt, '[ \t\n\r\f]+', ' ', 'g')), ' ') AS w FROM built), "
            "wc AS (SELECT doc_id, "
            "length(array_to_string(w, ' ')) AS word_chars, "
            "list_transform(w[1:len(w) - 1], (x, i) -> "
            "x || ' ' || w[i + 1]) AS grams FROM wlist), "
            "g AS (SELECT doc_id, word_chars, unnest(grams) AS gm "
            "FROM wc), "
            "gc AS (SELECT doc_id, word_chars, gm, count(*) AS c "
            "FROM g GROUP BY 1, 2, 3), "
            "top AS (SELECT doc_id, word_chars, gm, c, ROW_NUMBER() "
            "OVER (PARTITION BY doc_id ORDER BY c DESC, gm DESC) AS rn "
            "FROM gc) "
            "SELECT ls.doc_id, "
            "CAST(dup_lines AS DOUBLE) / n_lines AS dup_line_frac, "
            "CASE WHEN line_chars > 0 THEN "
            "CAST(dup_chars AS DOUBLE) / line_chars ELSE 0.0 END "
            "AS dup_line_char_frac, "
            "CASE WHEN top.word_chars > 0 AND length(top.gm) > 0 THEN "
            "CAST(top.c * length(top.gm) AS DOUBLE) / top.word_chars "
            "ELSE 0.0 END AS top_bigram_char_frac "
            "FROM ls LEFT JOIN (SELECT * FROM top WHERE rn = 1) top "
            "USING (doc_id) ORDER BY ls.doc_id"
        ),
        "collapse_lines": (
            "WITH t AS (SELECT doc_id, substring(text, 1, 40) AS L, "
            "substring(text, 41, 80) AS R FROM documents), "
            "built AS (SELECT doc_id, "
            "L || chr(10) || L || chr(10) || L || chr(10) || R AS txt "
            "FROM t), "
            "parts AS (SELECT doc_id, string_split(txt, chr(10)) AS p "
            "FROM built), "
            "coll AS (SELECT doc_id, p, "
            "list_filter(p, (x, i) -> i = 1 OR x != p[i-1]) AS c "
            "FROM parts) "
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(len(p) AS BIGINT) AS lines_before, "
            "CAST(len(c) AS BIGINT) AS lines_after, "
            "CAST(length(array_to_string(c, chr(10))) AS BIGINT) "
            "AS n_chars FROM coll ORDER BY doc_id"
        ),
        "iceberg_upsert": (
            # relational replay of the MERGE: updated keys take the new
            # row, inserts append, untouched rows survive
            "WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents), "
            "up AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars "
            "FROM base WHERE doc_id % 5 = 0 "
            "UNION ALL SELECT doc_id + 1000000, lang, n_chars "
            "FROM base WHERE doc_id % 10 = 0) "
            "SELECT doc_id, lang, n_chars FROM ("
            "SELECT * FROM base WHERE doc_id NOT IN "
            "(SELECT doc_id FROM up) UNION ALL SELECT * FROM up) "
            "ORDER BY doc_id"
        ),
        "iceberg_evolution": (
            # final state after promote+rename+add and one new-schema
            # append: old rows widen/rename/backfill-null by field id
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "lang AS language, CAST(doc_id % 100 AS BIGINT) AS score, "
            "CAST(NULL AS DOUBLE) AS bonus FROM documents "
            "UNION ALL "
            "SELECT CAST(doc_id + 1000000 AS BIGINT), lang, "
            "CAST(doc_id % 100 AS BIGINT), CAST(doc_id % 7 AS DOUBLE) "
            "FROM documents WHERE doc_id % 25 = 0 "
            "ORDER BY doc_id"
        ),
        "delta_deletion_vectors": (
            # surviving set after two DV DELETE commits on the
            # column-mapped table: doc_id % 9 = 0 first, lang = 'fr'
            # second (union semantics on re-deleted files)
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM documents "
            "WHERE doc_id % 9 <> 0 AND (lang IS NULL OR lang <> 'fr') "
            "GROUP BY lang ORDER BY lang"
        ),
        "iceberg_merge_on_read": (
            # surviving set after the MoR lifecycle: everything minus the
            # positional delete (doc_id % 7 = 0) minus the equality
            # delete (lang = 'de'), plus the later re-append of de docs
            # with doc_id < 50 which — appended after both deletes —
            # survives them under sequence-number scoping
            "WITH live AS ("
            "  SELECT * FROM documents "
            "  WHERE doc_id % 7 <> 0 AND lang <> 'de' "
            "  UNION ALL "
            "  SELECT * FROM documents WHERE lang = 'de' AND doc_id < 50"
            ") SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "min(doc_id) AS min_id, max(doc_id) AS max_id "
            "FROM live GROUP BY lang ORDER BY lang"
        ),
        "line_dedup": (
            # derive the same overlapping-window corpus, then keep-first
            # via row_number over (line) — independent of the operator's
            # groupBy-min + join plan
            "WITH offs AS (SELECT unnest(generate_series(0, 2)) AS off), "
            "l AS (SELECT d.doc_id - o.off AS doc_id, o.off AS pos, "
            "d.text AS line FROM documents d, offs o "
            "WHERE d.doc_id - o.off >= 0), "
            "nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines "
            "FROM l GROUP BY 1), "
            "k AS (SELECT doc_id, pos, line, "
            "CASE WHEN length(line) >= 10 THEN row_number() OVER "
            "(PARTITION BY line ORDER BY doc_id, pos) ELSE 1 END AS rn "
            "FROM l), "
            "kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, "
            "string_agg(line, chr(10) ORDER BY pos) AS text_clean "
            "FROM k WHERE rn = 1 GROUP BY doc_id) "
            "SELECT nl.doc_id, nl.n_lines, "
            "coalesce(kept.n_kept, 0) AS n_kept, "
            "nl.n_lines - coalesce(kept.n_kept, 0) AS n_dropped, "
            "coalesce(kept.text_clean, '') AS text_clean "
            "FROM nl LEFT JOIN kept USING (doc_id) ORDER BY doc_id"
        ),
        "contamination_fraction": (
            r"WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), "
            r"'\s+') AS words FROM documents), "
            r"g AS (SELECT doc_id, unnest(list_distinct(list_transform("
            r"generate_series(1, greatest(len(words) - 4, 0)), "
            r"i -> array_to_string(words[i:i+4], ' ')))) AS gram FROM w), "
            r"bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10), "
            r"c AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, "
            r"CAST(count(*) FILTER (gram IN (SELECT gram FROM bench)) "
            r"AS BIGINT) AS n_contaminated "
            r"FROM g WHERE doc_id >= 10 GROUP BY g.doc_id) "
            r"SELECT doc_id, n_grams, n_contaminated, "
            r"round(CAST(n_contaminated AS DOUBLE) / n_grams, 6) "
            r"AS overlap_fraction FROM c ORDER BY doc_id"
        ),
        "tool_args_validation": (
            # the events props are uniformly {"k": <int 0..99>}; the two
            # schemas reduce to the k comparisons on this data (the Spark
            # side still evaluates the full keyword set)
            "SELECT event_type AS tool, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(*) FILTER ("
            "(event_type = 'purchase' AND "
            "CAST(json_extract(props, '$.k') AS BIGINT) < 50) OR "
            "(event_type = 'error' AND "
            "CAST(json_extract(props, '$.k') AS BIGINT) > 10)"
            ") AS BIGINT) AS n_invalid "
            "FROM events GROUP BY event_type ORDER BY tool"
        ),
        "agent_loops": (
            # independent gaps-and-islands: lag-change flag -> running-sum
            # island id -> per-island count; IS DISTINCT FROM mirrors the
            # operator's null-safe equality
            "WITH s AS (SELECT user_id, ts, event_id, event_type, "
            "CASE WHEN lag(event_type) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) IS DISTINCT FROM event_type "
            "THEN 1 ELSE 0 END AS chg FROM events), "
            "r AS (SELECT user_id, sum(chg) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id "
            "FROM s), "
            "runs AS (SELECT user_id, run_id, "
            "CAST(count(*) AS BIGINT) AS run_len FROM r GROUP BY 1, 2), "
            "loops AS (SELECT * FROM runs WHERE run_len >= 3) "
            "SELECT CAST(count(*) AS BIGINT) AS loop_runs, "
            "CAST(count(DISTINCT user_id) AS BIGINT) AS loop_convs, "
            "CAST(coalesce(max(run_len), 0) AS BIGINT) AS max_run_len "
            "FROM loops"
        ),
        "error_followup": (
            "WITH s AS (SELECT event_type AS act, "
            "lead(event_type) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS nxt FROM events) "
            "SELECT act AS event_type, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(CASE WHEN nxt = 'error' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_followed, "
            "round(CAST(sum(CASE WHEN nxt = 'error' THEN 1 ELSE 0 END) "
            "AS BIGINT) / CAST(count(*) AS BIGINT), 6) AS followup_rate "
            "FROM s WHERE act IS NOT NULL GROUP BY 1 ORDER BY 1"
        ),
        "transition_drift": (
            # exact psi_df replica incl. the 1e-6 epsilon floor over the
            # full-outer of observed transitions vs the 25 baseline pairs
            "WITH t AS (SELECT user_id, event_type, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev "
            "FROM events), "
            "tr AS (SELECT prev || '->' || event_type AS k FROM t "
            "WHERE prev IS NOT NULL), "
            "freq AS (SELECT k, CAST(count(*) AS DOUBLE) / "
            "(SELECT count(*) FROM tr) AS p FROM tr GROUP BY k), "
            "base AS (SELECT a.x || '->' || b.x AS k, 0.04 AS q FROM "
            "(SELECT unnest(['click','error','purchase','signup','view']) "
            "AS x) a, (SELECT unnest(['click','error','purchase','signup',"
            "'view']) AS x) b), "
            "j AS (SELECT greatest(coalesce(p, 0), 1e-6) AS a, "
            "greatest(coalesce(q, 0), 1e-6) AS b "
            "FROM freq FULL OUTER JOIN base USING (k)) "
            "SELECT round(sum((a - b) * ln(a / b)), 6) AS psi FROM j"
        ),
        "row_count": "SELECT count(*) AS row_count FROM lineitem",
        "missing_count": (
            "SELECT count(*) FILTER (WHERE event_type IS NULL OR event_type = 'error') "
            "AS missing_count, count(*) AS row_count FROM events"
        ),
        "invalid_count_enum": (
            "SELECT count(*) FILTER (WHERE o_orderstatus IS NOT NULL "
            "AND o_orderstatus NOT IN ('O','F')) AS invalid_count FROM orders"
        ),
        "invalid_count_range": (
            "SELECT count(*) FILTER (WHERE l_discount IS NOT NULL "
            "AND NOT (l_discount >= 0.02 AND l_discount <= 0.08)) AS invalid_count FROM lineitem"
        ),
        "invalid_count_regex": (
            "SELECT count(*) FILTER (WHERE c_name IS NOT NULL "
            "AND NOT regexp_matches(c_name, '^Customer#[0-9]{9}$')) AS invalid_count FROM customer"
        ),
        "invalid_count_max_length": (
            "SELECT count(*) FILTER (WHERE text IS NOT NULL AND length(text) > 300) "
            "AS invalid_count FROM documents"
        ),
        "duplicate_count": (
            "SELECT count(*) AS duplicate_count FROM "
            "(SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 1)"
        ),
        "duplicate_count_composite": (
            "SELECT count(*) AS duplicate_count FROM "
            "(SELECT l_orderkey, l_linenumber FROM lineitem "
            "GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)"
        ),
        "freshness_retention": (
            "SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts, "
            "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts FROM events"
        ),
        "row_filter": "SELECT count(*) AS row_count FROM orders WHERE o_totalprice <= 1000",
        "violation_samples": (
            "SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders "
            "WHERE o_totalprice IS NOT NULL AND o_totalprice > 1000 "
            "ORDER BY o_orderkey LIMIT 5"
        ),
        "percent_failed": (
            "SELECT round(100.0 * count(*) FILTER (WHERE event_type = 'error') "
            "/ count(*), 6) AS failed_percent FROM events"
        ),
        "profile_orders": (
            "SELECT 'o_orderkey' AS \"column\", count(*) AS n_rows, "
            "count(*) FILTER (WHERE o_orderkey IS NULL) AS null_count, "
            "count(DISTINCT o_orderkey) AS n_distinct, "
            "CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders "
            "UNION ALL SELECT 'o_custkey', count(*), count(*) FILTER (WHERE o_custkey IS NULL), "
            "count(DISTINCT o_custkey), CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders "
            "UNION ALL SELECT 'o_orderstatus', count(*), count(*) FILTER (WHERE o_orderstatus IS NULL), "
            "count(DISTINCT o_orderstatus), min(length(o_orderstatus))::VARCHAR, max(length(o_orderstatus))::VARCHAR FROM orders "
            "UNION ALL SELECT 'o_orderpriority', count(*), count(*) FILTER (WHERE o_orderpriority IS NULL), "
            "count(DISTINCT o_orderpriority), min(length(o_orderpriority))::VARCHAR, max(length(o_orderpriority))::VARCHAR FROM orders"
        ),
        "referential_integrity": (
            "SELECT (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND "
            "NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS lineitem_orphans, "
            "(SELECT count(*) FROM events e WHERE e.user_id IS NOT NULL AND "
            "NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS event_user_orphans"
        ),
        "psi_event_type": (
            "SELECT round(sum((frac - 0.2) * ln(frac / 0.2)), 6) AS psi FROM ("
            "SELECT CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS frac "
            "FROM events GROUP BY event_type)"
        ),
        "lm_quality_score": (
            # identical unigram fit/score: vocab = top-1000 (count DESC,
            # word ASC) over even doc_ids; add-one smoothing with one OOV
            # bucket: p(w) = (c+1)/(N+V+1)
            r"WITH tw AS (SELECT unnest(list_filter(regexp_split_to_array("
            r"lower(text), '\s+'), x -> x <> '')) AS w FROM documents "
            r"WHERE doc_id % 2 = 0), "
            r"counts AS (SELECT w, count(*) AS c FROM tw GROUP BY w), "
            r"vocab AS (SELECT w, c FROM (SELECT w, c, row_number() "
            r"OVER (ORDER BY c DESC, w ASC) AS r FROM counts) WHERE r <= 1000), "
            r"norm AS (SELECT CAST(sum(c) AS DOUBLE) AS N, "
            r"CAST(count(*) AS DOUBLE) AS V FROM vocab), "
            r"hw AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array("
            r"lower(text), '\s+'), x -> x <> '')) AS w FROM documents "
            r"WHERE doc_id % 2 = 1), "
            r"scored AS (SELECT hw.doc_id, count(*) AS n_tokens, "
            r"-sum(ln((coalesce(vocab.c, 0) + 1) / (norm.N + norm.V + 1))) "
            r"/ count(*) AS anlp FROM hw LEFT JOIN vocab ON hw.w = vocab.w "
            r"CROSS JOIN norm GROUP BY hw.doc_id), "
            r"px AS (SELECT doc_id, exp(anlp) AS perplexity FROM scored) "
            r"SELECT d.lang, count(*) AS n_docs, "
            r"round(avg(px.perplexity), 4) AS avg_perplexity, "
            r"round(min(px.perplexity), 4) AS min_perplexity, "
            r"round(max(px.perplexity), 4) AS max_perplexity "
            r"FROM px JOIN documents d USING (doc_id) "
            r"GROUP BY d.lang ORDER BY d.lang"
        ),
        "pii_scan_customer": (
            r"WITH c AS (SELECT 'reach ' || c_name || ' at c' || "
            r"CAST(c_custkey AS VARCHAR) || '@example.com or ' || "
            r"CASE WHEN c_custkey % 3 = 0 THEN '25-989-741-' || "
            r"lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') "
            r"ELSE 'n/a' END AS contact FROM customer) "
            # CAST sums to BIGINT: DuckDB integer sum() yields HUGEINT,
            # which hash-mismatches Spark's BIGINT in the driver's
            # type-sensitive value hash (VERDICT r4 #1).
            'SELECT \'contact\' AS "column", \'email\' AS category, '
            r"CAST(sum(CASE WHEN regexp_matches(contact, "
            r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') "
            r"THEN 1 ELSE 0 END) AS BIGINT) AS values_with_match, "
            r"CAST(sum(len(regexp_extract_all(contact, "
            r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) "
            r"AS match_count FROM c "
            r"UNION ALL "
            r"SELECT 'contact', 'phone', "
            r"CAST(sum(CASE WHEN regexp_matches(contact, "
            r"'\b\d{2,3}[-. ]\d{3}[-. ]\d{3,4}(?:[-. ]\d{4})?\b') "
            r"THEN 1 ELSE 0 END) AS BIGINT), "
            r"CAST(sum(len(regexp_extract_all(contact, "
            r"'\b\d{2,3}[-. ]\d{3}[-. ]\d{3,4}(?:[-. ]\d{4})?\b'))) AS BIGINT) FROM c"
        ),
        "pii_scrub_customer": (
            r"WITH c AS (SELECT 'reach ' || c_name || ' at c' || "
            r"CAST(c_custkey AS VARCHAR) || '@example.com or ' || "
            r"CASE WHEN c_custkey % 3 = 0 THEN '25-989-741-' || "
            r"lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') "
            r"ELSE 'n/a' END AS contact FROM customer), "
            r"s AS (SELECT regexp_replace(regexp_replace(contact, "
            r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'), "
            r"'\b\d{2,3}[-. ]\d{3}[-. ]\d{3,4}(?:[-. ]\d{4})?\b', '[PII]', 'g') "
            r"AS scrubbed FROM c) "
            r"SELECT CAST(sum(CASE WHEN contains(scrubbed, '[PII]') "
            r"THEN 1 ELSE 0 END) AS BIGINT) AS masked_values, "
            r"CAST(sum(len(regexp_extract_all(scrubbed, "
            r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) + "
            r"len(regexp_extract_all(scrubbed, "
            r"'\b\d{2,3}[-. ]\d{3}[-. ]\d{3,4}(?:[-. ]\d{4})?\b'))) AS BIGINT) "
            r"AS residual_matches FROM s"
        ),
        "gopher_quality": (
            # identical rule math: words = non-empty \s+ splits; mean word
            # length and alpha-word fraction as double divisions. count(*)
            # FILTER keeps every count BIGINT (never HUGEINT).
            r"WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array("
            r"text, '\s+'), x -> x <> '') AS words FROM documents), "
            r"s AS (SELECT doc_id, len(words) AS n_words, "
            r"CASE WHEN len(words) > 0 THEN CAST(list_sum(list_transform("
            r"words, x -> len(x))) AS DOUBLE) / len(words) ELSE 0.0 END AS mwl, "
            r"CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, "
            r"x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words) "
            r"ELSE 0.0 END AS af FROM w), "
            r"f AS (SELECT n_words BETWEEN 30 AND 80 AS ok_wc, "
            r"mwl >= 4.0 AND mwl <= 5.0 AS ok_mwl, af >= 0.8 AS ok_af FROM s) "
            r"SELECT count(*) AS n_docs, "
            r"count(*) FILTER (WHERE NOT ok_wc) AS fail_word_count, "
            r"count(*) FILTER (WHERE NOT ok_mwl) AS fail_mean_word_len, "
            r"count(*) FILTER (WHERE NOT ok_af) AS fail_alpha_words, "
            r"count(*) FILTER (WHERE ok_wc AND ok_mwl AND ok_af) AS kept "
            r"FROM f"
        ),
        "top_ngrams": (
            # same gram construction as benchmark_contamination (5-word
            # grams of the lowercased \s+ split), WITHOUT per-doc dedup —
            # occurrences count every gram instance
            r"WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), "
            r"'\s+') AS words FROM documents), "
            r"g AS (SELECT doc_id, unnest(list_transform("
            r"generate_series(1, greatest(len(words) - 4, 0)), "
            r"i -> array_to_string(words[i:i+4], ' '))) AS gram FROM w) "
            r"SELECT gram, count(*) AS n_occurrences, "
            r"count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram "
            r"ORDER BY n_occurrences DESC, gram ASC LIMIT 15"
        ),
        "turn_contiguity": (
            "WITH t AS (SELECT l_orderkey AS conv_id, "
            "l_linenumber - 1 AS turn_idx FROM lineitem "
            "WHERE l_quantity > 10), "
            "s AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, "
            "min(turn_idx) AS min_turn, max(turn_idx) AS max_turn "
            "FROM t GROUP BY 1), "
            "d AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS dup_turn_groups "
            "FROM (SELECT conv_id, turn_idx FROM t GROUP BY 1, 2 "
            "HAVING count(*) > 1) GROUP BY 1), "
            "v AS (SELECT s.conv_id, s.n_turns, s.min_turn, s.max_turn, "
            "coalesce(d.dup_turn_groups, 0) AS dup_turn_groups "
            "FROM s LEFT JOIN d USING (conv_id) "
            "WHERE s.min_turn <> 0 OR s.max_turn <> s.n_turns - 1 "
            "OR coalesce(d.dup_turn_groups, 0) > 0), "
            "tot AS (SELECT CAST(count(*) AS BIGINT) AS total_violations FROM v) "
            "SELECT conv_id, n_turns, min_turn, max_turn, dup_turn_groups, "
            "total_violations FROM v CROSS JOIN tot "
            "ORDER BY conv_id LIMIT 10"
        ),
        "quality_classifier": (
            # hashed-linear score: md5 bucket (shared hash family) →
            # seeded affine weight, exact integer math; weights are exact
            # multiples of 2^-20 so the list sum is order-exact in both
            # engines; only exp() is libm-dependent (round 6 absorbs ULP)
            r"WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array("
            r"lower(text), '\s+'), x -> x <> '') AS ws FROM documents), "
            r"s AS (SELECT doc_id, len(ws) AS n_tokens, "
            r"CASE WHEN len(ws) > 0 THEN list_aggregate(list_transform(ws, "
            r"w -> ((('0x' || substring(md5(w), 1, 6))::BIGINT % 4096) "
            r"* 2654435761 + 12345) % 1048576 / 1048576.0 - 0.5), 'sum') "
            r"/ len(ws) ELSE 0.0 END AS m FROM d) "
            r"SELECT doc_id, n_tokens, "
            r"round(1.0 / (1.0 + exp(-(m + 0.0))), 6) AS quality_score "
            r"FROM s ORDER BY quality_score DESC, doc_id LIMIT 10"
        ),
        "sequence_packing": (
            # FFD greedy packing, budget 512, 8 md5 buckets; fills are
            # integer sums (exact), fill/512.0 is a power-of-two division
            # (exact), so only the final rounding touches float noise
            r"WITH d AS (SELECT doc_id, CAST(len(list_filter("
            r"regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) "
            r"AS BIGINT) AS n_tokens, "
            r"('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 8 "
            r"AS bucket FROM documents), "
            r"packed AS (SELECT bucket, n_tokens, CAST(floor("
            r"(sum(n_tokens) OVER (PARTITION BY bucket "
            r"ORDER BY n_tokens DESC, doc_id ASC "
            r"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)"
            r" / 512) AS BIGINT) AS local_bin FROM d), "
            r"bins AS (SELECT bucket * 1099511627776 + local_bin AS bin_id, "
            r"CAST(sum(n_tokens) AS BIGINT) AS fill FROM packed "
            r"GROUP BY bucket * 1099511627776 + local_bin) "
            r"SELECT count(*) AS n_bins, "
            r"CAST(sum(fill) AS BIGINT) AS total_tokens, "
            r"round(avg(fill / 512.0), 6) AS avg_fill, "
            r"round(1.0 - CAST(sum(fill) AS DOUBLE) / (count(*) * 512.0), 6) "
            r"AS pad_waste FROM bins"
        ),
        "doc_chunks": (
            # sliding-window chunk accounting; chunk token counts derive
            # arithmetically (least(64, n - start)) — equivalent to the
            # slice length since every start < n
            r"WITH d AS (SELECT doc_id, len(list_filter("
            r"regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) "
            r"AS n FROM documents), "
            r"c AS (SELECT doc_id, "
            r"unnest(generate_series(0, CAST(floor((n - 1) / 48.0) AS BIGINT)))"
            r" AS i, n FROM d WHERE n > 0) "
            r"SELECT count(*) AS n_chunks, "
            r"count(DISTINCT doc_id) AS n_docs, "
            r"CAST(sum(least(64, n - i * 48)) AS BIGINT) "
            r"AS total_chunk_tokens, "
            r"round(avg(least(64, n - i * 48) / 64.0), 6) AS avg_fill, "
            r"CAST(sum(CASE WHEN least(64, n - i * 48) >= 64 THEN 1 ELSE 0 "
            r"END) AS BIGINT) AS n_full_chunks FROM c"
        ),
        "sliced_validation": (
            # per-status grouped checks; quantile_cont = Spark's exact
            # interpolated percentile;
            # missing/invalid conditions mirror the engine's predicates
            "WITH g AS (SELECT o_orderstatus, count(*) AS n, "
            "sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS miss, "
            "sum(CASE WHEN o_totalprice IS NOT NULL AND NOT "
            "(o_totalprice >= 0) THEN 1 ELSE 0 END) AS inv, "
            "quantile_cont(o_totalprice, 0.5) AS p50 "
            "FROM orders GROUP BY o_orderstatus) "
            "SELECT * FROM ("
            "SELECT o_orderstatus, "
            "'orders__o_custkey__field_required' AS check_key, "
            "CAST(miss AS DOUBLE) AS metric_value, miss = 0 AS passed FROM g "
            "UNION ALL SELECT o_orderstatus, "
            "'orders__o_totalprice__field_minimum', "
            "CAST(inv AS DOUBLE), inv = 0 FROM g "
            "UNION ALL SELECT o_orderstatus, "
            "'orders__o_totalprice__quantile_0_5', "
            "round(p50, 6), p50 < 251500.0 FROM g "
            "UNION ALL SELECT o_orderstatus, 'orders__row_count', "
            "CAST(n AS DOUBLE), n > 1000 FROM g) "
            "ORDER BY o_orderstatus, check_key"
        ),
        "mixture_sample": (
            # per-source keep probability p = min(1, frac·t_s / c_s); the
            # target normalizer replicates Python's sum order
            # ((0.4+0.4)+0.2); md5_frac thresholds are exact multiples of
            # 2^-32 so the kept set is bit-identical
            r"WITH sh AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) "
            r"AS tok FROM documents GROUP BY source), "
            r"tot AS (SELECT sum(tok) AS all_tok FROM sh), "
            r"p AS (SELECT source, least(1.0, "
            r"(0.05 * (CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.4 "
            r"ELSE 0.2 END / ((0.4 + 0.4) + 0.2))) / (tok / all_tok)) AS p "
            r"FROM sh CROSS JOIN tot "
            r"WHERE source IN ('src0','src1','src2')) "
            r"SELECT d.source, count(*) AS n_kept, "
            r"CAST(sum(d.n_chars) AS BIGINT) AS kept_chars "
            r"FROM documents d JOIN p ON d.source = p.source "
            r"WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT "
            r"/ 4294967296.0 < p.p "
            r"GROUP BY d.source ORDER BY d.source"
        ),
        "benchmark_contamination": (
            r"WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), "
            r"'\s+') AS words FROM documents), "
            r"g AS (SELECT doc_id, unnest(list_distinct(list_transform("
            r"generate_series(1, greatest(len(words) - 4, 0)), "
            r"i -> array_to_string(words[i:i+4], ' ')))) AS gram FROM w), "
            r"bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10), "
            r"flagged AS (SELECT DISTINCT g.doc_id FROM g "
            r"JOIN bench USING (gram) WHERE g.doc_id >= 10), "
            r"tot AS (SELECT count(DISTINCT doc_id) AS t FROM documents "
            r"WHERE doc_id >= 10) "
            # scalar subquery, not GROUP BY over flagged: an empty flagged
            # set must still yield ONE row (0, total, 0.0) like Spark's agg
            r"SELECT (SELECT count(*) FROM flagged) AS contaminated_docs, "
            r"t AS total_docs, "
            r"round(CAST((SELECT count(*) FROM flagged) AS DOUBLE) / t, 6) "
            r"AS contamination_rate FROM tot"
        ),
        "jsd_event_type": (
            "WITH freq AS (SELECT event_type AS k, "
            "CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS p "
            "FROM events GROUP BY event_type), "
            "base(k, q) AS (VALUES ('click', 0.2), ('error', 0.2), "
            "('purchase', 0.2), ('signup', 0.2), ('view', 0.2)), "
            "j AS (SELECT coalesce(f.p, 0) AS p, coalesce(b.q, 0) AS q "
            "FROM freq f FULL OUTER JOIN base b ON f.k = b.k) "
            "SELECT round(sum("
            "CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0 END + "
            "CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2)) ELSE 0 END"
            ") / 2, 6) AS jsd FROM j"
        ),
        "chi2_event_type": (
            "WITH base(k, q) AS (VALUES ('click', 0.2), ('error', 0.2), "
            "('purchase', 0.2), ('signup', 0.2), ('view', 0.2)), "
            "freq AS (SELECT event_type AS k, count(*) AS n "
            "FROM events GROUP BY event_type), "
            "tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM events) "
            "SELECT round(sum(pow(CAST(coalesce(n, 0) AS DOUBLE) - q * t, 2) "
            "/ (q * t)), 4) AS chi2, count(*) - 1 AS df_degrees "
            "FROM base LEFT JOIN freq USING (k) CROSS JOIN tot"
        ),
        "ks_value": (
            "SELECT round(greatest("
            "abs(CAST(count(*) FILTER (WHERE value <= 10.0) AS DOUBLE)/count(value) - 0.1), "
            "abs(CAST(count(*) FILTER (WHERE value <= 35.0) AS DOUBLE)/count(value) - 0.5), "
            "abs(CAST(count(*) FILTER (WHERE value <= 100.0) AS DOUBLE)/count(value) - 0.9), "
            "abs(CAST(count(*) FILTER (WHERE value <= 300.0) AS DOUBLE)/count(value) - 0.99)"
            "), 6) AS ks FROM events"
        ),
        "ks_by_event_type": (
            "SELECT event_type, CAST(count(value) AS BIGINT) AS n, "
            "round(greatest("
            "abs(CAST(count(*) FILTER (WHERE value <= 10.0) AS DOUBLE)/count(value) - 0.1), "
            "abs(CAST(count(*) FILTER (WHERE value <= 35.0) AS DOUBLE)/count(value) - 0.5), "
            "abs(CAST(count(*) FILTER (WHERE value <= 100.0) AS DOUBLE)/count(value) - 0.9), "
            "abs(CAST(count(*) FILTER (WHERE value <= 300.0) AS DOUBLE)/count(value) - 0.99)"
            "), 6) AS ks FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "window_top3_per_customer": (
            "SELECT o_custkey, o_orderkey, rn FROM ("
            "SELECT o_custkey, o_orderkey, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            "FROM orders) WHERE rn <= 3"
        ),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "join_revenue_by_nation": (
            "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY n_name"
        ),
        "topk_parts": (
            "SELECT l_partkey, round(sum(l_quantity), 2) AS total_qty FROM lineitem "
            "GROUP BY l_partkey ORDER BY total_qty DESC, l_partkey LIMIT 10"
        ),
        "sessionization": (
            "SELECT count(*) AS n_sessions FROM ("
            "SELECT epoch_ms(ts) - epoch_ms(lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id)) AS gap FROM events"
            ") WHERE gap IS NULL OR gap > 1800000"
        ),
        "dedup_exact": (
            "SELECT count(*) AS n_docs, "
            "count(DISTINCT trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS n_unique "
            "FROM documents"
        ),
        "token_stats": (
            "SELECT CAST(sum(n) AS BIGINT) AS total_tokens, round(avg(n), 4) AS avg_tokens, "
            "round(avg(length(text)), 4) AS avg_chars FROM ("
            "SELECT text, CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n FROM documents)"
        ),
        "lang_freq": (
            "SELECT lang, count(*) AS n_docs, round(avg(CASE WHEN length(trim(text)) = 0 "
            "THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END), 4) AS avg_tokens "
            "FROM documents GROUP BY lang"
        ),
        "text_quality_filter": (
            "SELECT count(*) FILTER (WHERE n BETWEEN 20 AND 60 AND lang = 'en') AS kept, "
            "count(*) AS total FROM (SELECT lang, CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n, text FROM documents)"
        ),
        "ngram_jaccard_dups": (
            "WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')), ' ') AS t FROM documents), "
            "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN "
            "list_distinct(list_transform(generate_series(1, len(t) - 2), "
            "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) "
            "ELSE [array_to_string(t, ' ')] END AS g FROM toks), "
            "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "len(list_intersect(a.g, b.g)) AS inter, len(a.g) AS la, len(b.g) AS lb "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE len(list_intersect(a.g, b.g)) > 0) "
            "SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard "
            "FROM pairs WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8"
        ),
        "events_hourly": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, "
            "event_type, count(*) AS n, round(sum(value), 4) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "dedup_keep_first": (
            "SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM ("
            "SELECT doc_id, row_number() OVER ("
            "PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) "
            "ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1"
        ),
        "conversation_stats": (
            "SELECT user_id, count(*) AS n_events, min(event_id) AS min_event_id, "
            "max(event_id) AS max_event_id FROM events GROUP BY user_id"
        ),
        "semi_anti_join": (
            "SELECT (SELECT count(*) FROM customer c WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_totalprice > 50000)) AS n_with_big_order, "
            "(SELECT count(*) FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) "
            "AS n_without_orders"
        ),
        "rollup_orders": (
            "SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus, "
            "coalesce(o_orderpriority, 'ALL') AS o_orderpriority, "
            "count(*) AS n, round(sum(o_totalprice), 2) AS total "
            "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
        ),
        "unpivot_part": (
            "SELECT measure, count(*) AS n, round(sum(value), 2) AS total FROM ("
            "SELECT p_partkey, 'p_retailprice' AS measure, "
            "CAST(p_retailprice AS DOUBLE) AS value FROM part "
            "UNION ALL SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part"
            ") GROUP BY measure"
        ),
        "cube_revenue": (
            "SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, "
            "coalesce(l_linestatus, 'ALL') AS l_linestatus, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
        ),
        "pivot_status": (
            "SELECT o_orderpriority, "
            "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open, "
            "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished, "
            "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending "
            "FROM orders GROUP BY o_orderpriority"
        ),
        # the LSH queries run on the shared md5 hash family, so DuckDB
        # reproduces the banded-LSH / pigeonhole pipelines bit-for-bit
        "bpe_token_stats": (
            "SELECT CAST(sum(n) AS BIGINT) AS total_tokens, "
            "round(avg(n), 4) AS avg_tokens, CAST(max(n) AS BIGINT) AS max_tokens "
            "FROM (SELECT len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n FROM documents)"
        ),
        "winnow_dups": _winnow_oracle(),
        "partitioned_validation": (
            # the per-bucket fold must equal the plain global counts
            "SELECT 16::BIGINT AS n_buckets, count(*) AS row_count, "
            "count(*) FILTER (WHERE event_type IS NULL OR event_type = 'error') "
            "AS missing_et, "
            "count(*) FILTER (WHERE value > 10.0) AS invalid_val, "
            "(SELECT count(*) FROM (SELECT user_id, event_id FROM events "
            "GROUP BY user_id, event_id HAVING count(*) > 1)) AS dup_event "
            "FROM events"
        ),
        "histogram_totalprice": (
            # same float math as Spark's width_bucket with explicit bounds:
            # width = (hi-lo)/n, bucket = floor(v/width)+1, v==hi folds back
            "SELECT bucket, round((bucket - 1) * 120000.0::DOUBLE, 6) AS lo, "
            "round(bucket * 120000.0::DOUBLE, 6) AS hi, count(*) AS n FROM ("
            "SELECT CASE WHEN o_totalprice::DOUBLE = 600000.0 THEN 5 "
            "ELSE CAST(floor(o_totalprice::DOUBLE / 120000.0::DOUBLE) AS BIGINT) + 1 END "
            "AS bucket FROM orders WHERE o_totalprice IS NOT NULL) "
            "GROUP BY bucket ORDER BY bucket"
        ),
        "minhash_near_dups": _minhash_md5_oracle(),
        "simhash_near_dups": _simhash_md5_oracle(),
        "dedup_clusters": _dedup_clusters_oracle(),
        "fd_violations": (
            "SELECT "
            "(SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) "
            "FROM (SELECT count(DISTINCT c_nationkey) AS n FROM customer "
            "GROUP BY c_custkey)) AS cust_nation_violations, "
            "(SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) "
            "FROM (SELECT count(DISTINCT o_custkey) AS n FROM orders "
            "GROUP BY o_orderkey)) AS order_cust_violations"
        ),
        "sequence_violations": (
            "WITH lagged AS (SELECT event_type AS s, lag(event_type) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id) AS p FROM events) "
            "SELECT CAST(sum(CASE WHEN s = 'purchase' AND "
            "(p IS NULL OR p NOT IN ('click', 'view')) THEN 1 ELSE 0 END) AS BIGINT) "
            "AS purchase_violations, "
            "CAST(sum(CASE WHEN s = 'signup' AND p IS NOT NULL AND p <> 'view' "
            "THEN 1 ELSE 0 END) AS BIGINT) AS signup_violations FROM lagged"
        ),
        "tfidf_top_terms": (
            # same normalization (lower, collapse ws, trim) and smoothed
            # idf = ln((1+N)/(1+df)) + 1; '/' is float division in both
            r"WITH docs AS (SELECT doc_id, text FROM documents "
            r"WHERE doc_id < 50), "
            r"terms AS (SELECT doc_id, unnest(string_split(trim("
            r"regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term "
            r"FROM docs), "
            r"tf AS (SELECT doc_id, term, count(*) AS tf FROM terms "
            r"GROUP BY 1, 2), "
            r"dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            r"n AS (SELECT count(DISTINCT doc_id) AS N FROM docs) "
            r"SELECT doc_id, term, tf, round(score, 6) AS tfidf, rank FROM ("
            r"SELECT tf.doc_id, tf.term, tf.tf, "
            r"tf.tf * (ln((1 + N) / (1 + df)) + 1) AS score, "
            r"row_number() OVER (PARTITION BY tf.doc_id ORDER BY "
            r"tf.tf * (ln((1 + N) / (1 + df)) + 1) DESC, tf.term) AS rank "
            r"FROM tf JOIN dfq USING (term) CROSS JOIN n) "
            r"WHERE rank <= 3 ORDER BY doc_id, rank"
        ),
        "diversity_sample": (
            # identical sign-bucket: bit i = (embedding[i+1] > 0), 6 bits;
            # embeddings are float32 -- sign is cast-stable
            "SELECT vec_id, bucket FROM (SELECT vec_id, bucket, row_number() "
            "OVER (PARTITION BY bucket ORDER BY md5(vec_id::VARCHAR), vec_id)"
            " AS rn FROM (SELECT vec_id, "
            "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + "
            "(CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) + "
            "(CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + "
            "(CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) + "
            "(CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) + "
            "(CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bucket "
            "FROM embeddings)) WHERE rn <= 3 ORDER BY bucket, vec_id"
        ),
        "stratified_sample": (
            "SELECT doc_id, lang FROM ("
            "SELECT doc_id, lang, row_number() OVER (PARTITION BY lang "
            "ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn FROM documents) "
            "WHERE rn <= 10 ORDER BY lang, doc_id"
        ),
        "repetition_ratio": (
            # same normalization + 3-gram construction as the Spark column
            "SELECT lang, round(avg(rep), 4) AS avg_repetition, "
            "round(max(rep), 4) AS max_repetition, count(*) AS n_docs FROM ("
            "SELECT lang, CASE WHEN len(t) - 2 > 0 THEN "
            "1.0 - len(list_distinct(g)) / (len(t) - 2)::DOUBLE "
            "ELSE 0.0 END AS rep FROM ("
            "SELECT lang, t, list_transform(generate_series(1, "
            "greatest(len(t) - 2, 1)), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g "
            "FROM (SELECT lang, string_split(trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g')), ' ') AS t FROM documents))) "
            "GROUP BY lang ORDER BY lang"
        ),
        "hash_split": (
            "SELECT split, count(*) AS n FROM ("
            "SELECT CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'valid' "
            "ELSE 'test' END AS split FROM ("
            "SELECT ('0x' || substring(md5(doc_id::VARCHAR || 'split'), 1, 8))"
            "::BIGINT / 4294967296.0 AS u FROM documents)) "
            "GROUP BY 1 ORDER BY 1"
        ),
        "minhash_near_dups_recall": (
            # recall of the arrow minhash lane vs the exact 3-shingle
            # Jaccard >= 0.8 pair set (n_missed = 0)
            "WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace("
            "lower(text), '\\s+', ' ', 'g')), ' ') AS t FROM documents), "
            "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN "
            "list_distinct(list_transform(generate_series(1, len(t) - 2), "
            "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) "
            "ELSE [array_to_string(t, ' ')] END AS g FROM toks), "
            "ex AS (SELECT a.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE len(list_intersect(a.g, b.g))::DOUBLE / (len(a.g) + len(b.g) "
            "- len(list_intersect(a.g, b.g))) >= 0.8) "
            "SELECT count(*)::BIGINT AS n_exact, count(*)::BIGINT AS n_found, "
            "0::BIGINT AS n_missed FROM ex"
        ),
    }


def _winnow_oracle(k: int = 8, window: int = 4, min_shared: int = 30,
                   max_doc_freq: int = 50) -> str:
    """DuckDB SQL replicating dedup.winnow_shared_pairs exactly: char k-gram
    md5 hashes -> per-window minima -> distinct fingerprints -> stop-gram
    doc-frequency filter -> inverted-index pair counts."""
    p = dedup.MINHASH_MD5_P
    return (
        "WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) "
        "AS t FROM documents), "
        "g AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(t) - "
        f"{k - 1}, 1)), i -> ('0x' || substring(md5(substring(t, i, {k})), 1, 8))::BIGINT "
        f"% {p}) AS h FROM n), "
        "f AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, "
        f"greatest(len(h) - {window - 1}, 1)), i -> list_min(h[i:i+{window - 1}]))) "
        "AS fp FROM g), "
        "inv0 AS (SELECT doc_id, unnest(fp) AS fv FROM f), "
        "inv AS (SELECT * FROM inv0 WHERE fv IN ("
        f"SELECT fv FROM inv0 GROUP BY fv HAVING count(*) <= {max_doc_freq})) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared "
        "FROM inv a JOIN inv b ON a.fv = b.fv AND a.doc_id < b.doc_id "
        f"GROUP BY 1, 2 HAVING count(*) >= {min_shared}"
    )


def _minhash_md5_oracle(num_hashes: int = 64, bands: int = 16,
                        shingle_size: int = 3, threshold: float = 0.8) -> str:
    """DuckDB SQL replicating dedup.minhash_candidates(kernel='md5') exactly:
    one md5 per distinct word-3-gram -> 32-bit base -> K affine permutation
    minima -> 16x4 banding on the raw signature-slice string -> candidate
    pairs -> signature-agreement Jaccard estimate."""
    a_const, b_const = dedup.minhash_md5_constants(num_hashes)
    ks_rows = ", ".join(f"({k}, {a_const[k]}, {b_const[k]})" for k in range(num_hashes))
    rpb = num_hashes // bands
    return (
        "WITH ks(k, a, b) AS (VALUES " + ks_rows + "), "
        "toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' ') AS t FROM documents), "
        f"sh AS (SELECT doc_id, CASE WHEN len(t) >= {shingle_size} THEN "
        f"list_distinct(list_transform(generate_series(1, len(t) - {shingle_size - 1}), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) "
        "ELSE [array_to_string(t, ' ')] END AS g FROM toks), "
        "base AS (SELECT doc_id, ('0x' || substring(md5(unnest(g)), 1, 8))::BIGINT "
        f"% {dedup.MINHASH_MD5_P} AS h FROM sh), "
        f"sig AS (SELECT doc_id, k, min((a * h + b) % {dedup.MINHASH_MD5_P}) AS m "
        "FROM base CROSS JOIN ks GROUP BY doc_id, k), "
        f"band AS (SELECT doc_id, k // {rpb} AS band, "
        "string_agg(m::VARCHAR, ',' ORDER BY k) AS key FROM sig GROUP BY doc_id, band), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a "
        "JOIN band b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), "
        "est AS (SELECT c.id_a, c.id_b, "
        f"sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / {num_hashes}.0 AS est "
        "FROM cand c JOIN sig sa ON sa.doc_id = c.id_a "
        "JOIN sig sb ON sb.doc_id = c.id_b AND sb.k = sa.k GROUP BY c.id_a, c.id_b) "
        "SELECT id_a, id_b, round(est, 4) AS est_jaccard FROM est "
        f"WHERE est >= {threshold}"
    )


def _dedup_clusters_oracle(threshold: float = 0.8) -> str:
    """Recursive-CTE connected components over the SAME md5-minhash pair set
    the Spark side clusters: cc(node, label) holds every (node, reachable
    id); min(label) per node is the component minimum — the cluster_id the
    iterative min-label propagation converges to."""
    pairs_sql = _minhash_md5_oracle(threshold=threshold)
    return (
        # MATERIALIZED: without it DuckDB may inline the (expensive) minhash
        # pair CTE into every recursive iteration
        "WITH RECURSIVE mh AS MATERIALIZED (" + pairs_sql + "), "
        "edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mh "
        "UNION SELECT id_b, id_a FROM mh), "
        "cc(node, label) AS ("
        "SELECT a, a FROM edges "
        "UNION "
        "SELECT e.a, cc.label FROM edges e JOIN cc ON cc.node = e.b) "
        "SELECT node, min(label) AS cluster_id FROM cc GROUP BY node "
        "ORDER BY node"
    )


def _simhash_md5_oracle(max_hamming: int = 3, nbits: int = 60) -> str:
    """DuckDB SQL replicating dedup.simhash_near_duplicates(hash_family='md5')
    by BRUTE FORCE over all pairs — equality with the Spark result also
    proves the pigeonhole word-blocking is exhaustive for hamming <= 3."""
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split(trim(regexp_replace("
        "lower(text), '\\s+', ' ', 'g')), ' ')) AS tok FROM documents), "
        "h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv "
        "FROM toks), "
        "votes AS (SELECT doc_id, b, "
        "sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s "
        f"FROM h CROSS JOIN generate_series(0, {nbits - 1}) AS g(b) GROUP BY doc_id, b), "
        "sim AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS fp "
        "FROM votes GROUP BY doc_id) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming "
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}"
    )
