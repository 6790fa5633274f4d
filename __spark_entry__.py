"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship event-detection query on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data operators) over the driver testdata; ``oracle_sql()``
gives the DuckDB-equivalent SQL for everything SQL-expressible. Doubles
are rounded to 6dp on BOTH sides before hashing; timestamps are emitted
as epoch BIGINTs to sidestep tz-representation differences.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # epoch projections (unix_timestamp) and the model kernels' seeds
    # (epoch nanos of window_start) assume UTC; pin it so the contract
    # holds under any harness session defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _documents_as_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences,
    )

    return documents_to_sequences(_t(spark, sf_dir, "documents"))


def _small_params():
    from bigdata_event_stream_detection_spark.plans.pipeline import small_params

    return small_params(
        num_themes=3, window_length="1 hour", em_iterations=5,
        min_doc_tokens=5, min_word_corpus_count=2, bw_max_iterations=5,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize documents -> windowed EM themes -> HMM decode
    -> detected-event strength rows, on sf0.001."""
    from bigdata_event_stream_detection_spark.plans.pipeline import (
        detect_event_stream,
    )

    seqs = _documents_as_sequences(spark, "/root/testdata/sf0.001")
    return detect_event_stream(seqs, _small_params())


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_word_count(spark, sf_dir):
    # A1/P1/P3: tokenize + hash agg + min-count filter
    from bigdata_event_stream_detection_spark.functions.textfns import ascii_words

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(ascii_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )


def _q_word_count_histogram(spark, sf_dir):
    # A10: count -> #words histogram
    from bigdata_event_stream_detection_spark.functions.textfns import ascii_words

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(ascii_words(F.col("text"))).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
    )
    return wc.groupBy(F.col("cnt").alias("occurrences")).agg(
        F.count("*").alias("n_words"))


def _q_background_model(spark, sf_dir):
    # A1-A3: normalized word distribution over kept words
    from bigdata_event_stream_detection_spark.functions.textfns import ascii_words

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(ascii_words(F.col("text"))).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    total = counts.agg(F.sum("cnt").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "word", "cnt", F.round(F.col("cnt") / F.col("_total"), 6).alias("p"))


def _q_funnel_conversion(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.funnel import (
        funnel_conversion,
    )

    return funnel_conversion(_t(spark, sf_dir, "events"),
                             ["view", "click", "purchase"])


def _q_funnel_times_within(spark, sf_dir):
    # horizon-bounded per-user chain: every step within 2 days of t0
    from bigdata_event_stream_detection_spark.operators.funnel import (
        funnel_times,
    )

    ft = funnel_times(_t(spark, sf_dir, "events"),
                      ["view", "click", "purchase"],
                      within_seconds=2 * 86400)
    return ft.select(
        "user_id",
        *[F.unix_micros(F.col(f"t{i}").cast("timestamp")).alias(f"t{i}_us")
          for i in range(3)])


def _q_absence_patterns(spark, sf_dir):
    # CEP negation: view then purchase with NO error between, within 24h
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence,
    )

    m = match_absence(_t(spark, sf_dir, "events"),
                      "view", "purchase", "error",
                      within_seconds=86400)
    return m.select(
        "user_id", "first_event_id",
        F.unix_micros(F.col("first_ts").cast("timestamp"))
        .alias("first_ts_us"),
        F.unix_micros(F.col("then_ts").cast("timestamp"))
        .alias("then_ts_us"),
        "gap_sec")


def _q_timeout_alerts(spark, sf_dir):
    # CEP timeout/SLA: a view with no purchase within 4h (an error in
    # the horizon silences the alert)
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout,
    )

    m = match_timeout(_t(spark, sf_dir, "events"),
                      "view", "purchase", within_seconds=4 * 3600,
                      unless="error")
    return m.select(
        "user_id", "first_event_id",
        F.unix_micros(F.col("first_ts").cast("timestamp"))
        .alias("first_ts_us"),
        F.unix_micros(F.col("deadline_ts").cast("timestamp"))
        .alias("deadline_us"))


def _q_tfidf_top_terms(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


def _q_approx_distinct_users(spark, sf_dir):
    # HLL++ sketch vs exact distinct, per-group tolerance verdict
    from bigdata_event_stream_detection_spark.operators.sketches import (
        approx_distinct_verified,
    )

    return approx_distinct_verified(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", rsd=0.05)


def _q_heavy_hitter_words(spark, sf_dir):
    # two-pass Misra-Gries: provably equal to the exact HAVING filter
    from bigdata_event_stream_detection_spark.functions.textfns import (
        ascii_words,
    )
    from bigdata_event_stream_detection_spark.operators.sketches import (
        heavy_hitters,
    )

    words = _t(spark, sf_dir, "documents").select(
        F.explode(ascii_words(F.col("text"))).alias("word"))
    return heavy_hitters(words, "word", threshold_frac=0.005)


def _q_shard_manifest(spark, sf_dir):
    # trainer-shard accounting: epoch-shuffle hash -> shard membership
    # -> per-shard doc/token/source totals (one agg, no global sort)
    from bigdata_event_stream_detection_spark.functions.textfns import (
        ascii_words,
    )
    from bigdata_event_stream_detection_spark.operators.sharding import (
        shard_assignments,
        shard_manifest,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(ascii_words(F.col("text"))))
    return shard_manifest(shard_assignments(docs, 8, seed=7, epoch=1))


def _q_hash_split(spark, sf_dir):
    # deterministic disjoint train/val/test assignment by key hash
    from bigdata_event_stream_detection_spark.operators.sampling import (
        hash_split,
    )

    return hash_split(
        _t(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "split")


def _q_leakage_safe_split(spark, sf_dir):
    # cluster-quarantined train/val/test split: near-duplicates can
    # never straddle the train/eval boundary
    from bigdata_event_stream_detection_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from bigdata_event_stream_detection_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, num_hashes=8, rows_per_band=2)
    return leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1})


def _q_duplicate_spans(spark, sf_dir):
    # substring-level dedup audit (Lee et al. ACL'22 shape): per-doc
    # token coverage by cross-doc duplicated 8-grams
    from bigdata_event_stream_detection_spark.operators.dedup import (
        duplicate_spans,
    )

    return duplicate_spans(_t(spark, sf_dir, "documents"), n=8)


def _q_remove_duplicate_spans(spark, sf_dir):
    # the cut half of substring dedup: rewrite docs with cross-doc
    # duplicated 8-gram spans removed; fingerprint checks exact content
    from bigdata_event_stream_detection_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    return remove_duplicate_spans(_t(spark, sf_dir, "documents"), n=8)


def _q_value_quantile_sketch(spark, sf_dir):
    # mergeable fixed-width-histogram quantiles (the streaming-safe
    # sketch) next to the exact rank-ceil(q*n) value + bin verdict
    from bigdata_event_stream_detection_spark.operators.sketches import (
        histogram_quantiles_verified,
    )

    return histogram_quantiles_verified(
        _t(spark, sf_dir, "events"), ["event_type"], "value",
        [0.5, 0.9, 0.99], bin_width=1.0)


def _q_pivot_event_values(spark, sf_dir):
    # §2.3 breadth: groupBy().pivot() — wide per-user event-type totals
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (ev.groupBy("user_id").pivot("event_type", types)
            .agg(F.round(F.sum("value"), 6)))


def _q_asof_purchase_click(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    return asof_join(purchases, clicks, time_col="ts", by=("user_id",),
                     value_cols=("value",)).select(
        "event_id", "user_id", "ts", "right_ts", "right_value")


def _q_interval_error_purchase(spark, sf_dir):
    # banded range join: purchases within ±30 min of an error, same user
    from bigdata_event_stream_detection_spark.operators.asof import (
        interval_join,
    )

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    return interval_join(errors, purchases, 1800.0, by=("user_id",))


def _q_absence_rule_matches(spark, sf_dir):
    # dynamic-rules absence CEP, incl. a self-type-then rule
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_absence_rules,
    )

    rules = spark.createDataFrame(
        [("r1", "view", "purchase", "error", 1800.0),
         ("r2", "click", "signup", "view", 600.0),
         ("r3", "error", "error", "purchase", 900.0)],
        "rule_id string, first_type string, then_type string,"
        " without_type string, within_seconds double")
    return match_absence_rules(_t(spark, sf_dir, "events"), rules)


def _q_expectation_summary(spark, sf_dir):
    # declarative quality gate: all checks in ONE scan; NULL = violation
    from bigdata_event_stream_detection_spark.operators.expectations import (
        expectation_summary,
    )

    checks = [
        ("value_nonneg", "value >= 0"),
        ("value_reasonable", "value <= 200"),
        ("type_known",
         "event_type IN ('click', 'view', 'purchase', 'signup')"),
        ("ts_present", "ts IS NOT NULL"),
    ]
    return expectation_summary(_t(spark, sf_dir, "events"), checks)


def _q_expectation_violations(spark, sf_dir):
    # the quarantine feed: (row id, failed check), violations-sized
    from bigdata_event_stream_detection_spark.operators.expectations import (
        violating_rows,
    )

    checks = [
        ("value_reasonable", "value <= 200"),
        ("type_known",
         "event_type IN ('click', 'view', 'purchase', 'signup')"),
    ]
    return violating_rows(_t(spark, sf_dir, "events"), checks)


def _q_timeout_rule_alerts(spark, sf_dir):
    # dynamic-rules CEP: the pattern set is DATA (a 3-row rules table),
    # incl. a self-type "no repeat within T" rule
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_timeout_rules,
    )

    rules = spark.createDataFrame(
        [("err_no_purchase", "error", "purchase", 1800.0),
         ("view_no_click", "view", "click", 600.0),
         ("no_repeat_signup", "signup", "signup", 3600.0)],
        "rule_id string, first_type string, then_type string,"
        " within_seconds double")
    return match_timeout_rules(_t(spark, sf_dir, "events"), rules)


# MATCH_RECOGNIZE sequence pattern shared by the query and its
# single-node oracle recompute (tools/local_oracle.seq_match_rows)
_SEQ_STEPS = [("view", "view", "1"), ("click", "click", "+"),
              ("purchase", "purchase", "1")]
_SEQ_WITHIN_S = 3 * 86400


def _q_seq_matches(spark, sf_dir):
    # general quantified-pattern CEP: view click+ purchase within 3
    # days — the shape funnel (all-'1') and runs (single '+') cannot
    # express; Arrow per-key NFA scan (operators/cep.py:match_seq)
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = match_seq(_t(spark, sf_dir, "events"), _SEQ_STEPS,
                  within_seconds=_SEQ_WITHIN_S)
    return m.select(
        "user_id", "first_event_id",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
        "n_events", "step_counts")


# DEFINE-clause (predicate) steps shared by the query and its oracle;
# written dialect-portably so Spark and DuckDB evaluate them alike
_SEQ_DEFINE_STEPS = [
    ("hi_view", "event_type = 'view' AND value >= 10.0", "1"),
    ("clicks", "event_type = 'click'", "+"),
    ("buy", "event_type = 'purchase'", "1"),
]


def _q_seq_define_matches(spark, sf_dir):
    # MATCH_RECOGNIZE DEFINE clauses: steps are SQL predicates, not
    # types — only views worth >= 10 anchor the journey
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = match_seq(_t(spark, sf_dir, "events"), _SEQ_DEFINE_STEPS,
                  within_seconds=_SEQ_WITHIN_S, classify="predicate")
    return m.select(
        "user_id", "first_event_id",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
        "n_events", "step_counts")


def _q_seq_overlap_matches(spark, sf_dir):
    # AFTER MATCH SKIP TO NEXT ROW: overlapping matches — every later
    # anchor tried even inside an earlier match's extent
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq,
    )

    m = match_seq(_t(spark, sf_dir, "events"), _SEQ_STEPS,
                  within_seconds=_SEQ_WITHIN_S,
                  after_match="next_row")
    return m.select(
        "user_id", "first_event_id",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
        "n_events", "step_counts")


# dynamic-rules sequence patterns shared by the query and its oracle
_SEQ_RULES = [("journey", "view:1,click:+,purchase:1", 3 * 86400),
              ("err_burst", "error:+", 86400),
              ("signup_convert", "signup:1,purchase:1", 7 * 86400)]


def _q_seq_rule_matches(spark, sf_dir):
    # rules-as-data for QUANTIFIED sequences: the pattern specs are a
    # 3-row table (operators/cep.py:match_seq_rules); key space is
    # (user x matching rules)
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_seq_rules,
    )

    rules = spark.createDataFrame(
        [(rid, spec, float(w)) for rid, spec, w in _SEQ_RULES],
        "rule_id string, steps string, within_seconds double")
    m = match_seq_rules(_t(spark, sf_dir, "events"), rules)
    return m.select(
        "user_id", "rule_id", "first_event_id",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
        "n_events", "step_counts")


def _q_error_runs(spark, sf_dir):
    # Kleene-plus CEP: 2+ consecutive errors per user, <=2h apart
    from bigdata_event_stream_detection_spark.operators.cep import (
        match_runs,
    )

    return match_runs(_t(spark, sf_dir, "events"), "error",
                      min_run=2, max_gap_seconds=7200)


def _q_latest_user_state(spark, sf_dir):
    # CDC latest-wins snapshot: events as a changelog over user_id
    # (signup=I, error=D tombstone, else U); ONE max_by hash aggregate,
    # no sort (operators/cdc.py)
    from bigdata_event_stream_detection_spark.operators.cdc import (
        events_as_changelog,
        latest_snapshot,
    )

    cl = events_as_changelog(_t(spark, sf_dir, "events"))
    return latest_snapshot(cl, attrs=["event_type", "value"])


def _q_scd2_user_history(spark, sf_dir):
    # SCD2 versioned history of the same changelog: validity intervals,
    # tombstones close the last version and leave a version-number gap
    from bigdata_event_stream_detection_spark.operators.cdc import (
        events_as_changelog,
        scd2_history,
    )

    cl = events_as_changelog(_t(spark, sf_dir, "events"))
    return scd2_history(cl, attrs=["event_type", "value"])


def _q_burst_windows(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.windows import (
        burst_windows,
    )

    return burst_windows(_t(spark, sf_dir, "events"))


def _q_cusum_changepoints(spark, sf_dir):
    # slow-drift complement to burst_windows: Page's one-sided CUSUM as
    # two stacked per-key ordered window aggregates (cumsum + running
    # min), no driver loop
    from bigdata_event_stream_detection_spark.operators.changepoint import (
        cusum_changepoints,
    )

    return cusum_changepoints(_t(spark, sf_dir, "events"))


def _q_windowed_event_counts(spark, sf_dir):
    # A8/A4: tumbling 1h event-time window counts
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("ws_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
    )


def _q_sliding_window_counts(spark, sf_dir):
    # sliding 1h/30m windows — native window() duplication semantics
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("w", F.window("ts", "1 hour", "30 minutes"))
        .groupBy(
            F.unix_timestamp(F.col("w.start")).alias("ws_epoch"), "event_type")
        .agg(F.count("*").alias("n"))
    )


def _q_session_windows(spark, sf_dir):
    # batch sessionization, 10 min gap per user
    ev = _t(spark, sf_dir, "events")
    byu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    new_sess = (epoch - F.lag(epoch).over(byu) > 600).cast("int")
    sess = ev.withColumn(
        "session_id",
        F.sum(F.coalesce(new_sess, F.lit(0))).over(
            byu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min(F.unix_timestamp(F.col("ts"))).alias("session_start_epoch"),
        F.count("*").alias("n_events"),
    )


def _q_topk_event_types_per_user(spark, sf_dir):
    # O3: top-3 event types per user by count
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc())
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3)


def _q_argmax_event_type(spark, sf_dir):
    # A6: per-user argmax event_type by total value (row_number == max_by
    # with deterministic tiebreak)
    ev = _t(spark, sf_dir, "events")
    sums = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 6).alias("total"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("total").desc(), F.col("event_type").asc())
    return (
        sums.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "total")
    )


def _q_semi_join_filter(spark, sf_dir):
    # P4: left-semi join — lineitems restricted to large parts
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    return (
        li.join(part.select(F.col("p_partkey").alias("l_partkey")),
                "l_partkey", "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                     .cast("double"), 6).alias("sum_qty"))
    )


def _q_revenue_per_nation(spark, sf_dir):
    # J5: broadcast dims, exact decimal sum
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double"), 6).alias("revenue"),
        )
    )


def _q_order_priority_histogram(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(F.count("*").alias("n"))


def _q_moving_avg_counts(spark, sf_dir):
    # §2.8 frame-spec smoothing: ±2-row moving average of hourly counts
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("ws_epoch"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type").orderBy("ws_epoch")
        .rowsBetween(-2, 2)
    )
    return hourly.select(
        "ws_epoch", "event_type", "n",
        F.round(F.avg("n").over(w), 6).alias("smoothed"),
    )


def _q_ntile_split(spark, sf_dir):
    # M4: ntile(4) chunking per event_type by (value, event_id)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    tiles = ev.withColumn("tile", F.ntile(4).over(w))
    return tiles.groupBy("event_type", "tile").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def _q_union_high_value(spark, sf_dir):
    # U1: union of two filtered subsets, then agg
    ev = _t(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "click") & (F.col("value") > 50))
    b = ev.filter(F.col("event_type") == "error")
    return a.unionByName(b).groupBy("user_id").agg(F.count("*").alias("n"))


def _q_distinct_users(spark, sf_dir):
    # A13
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"))


def _q_top_users_by_value(spark, sf_dir):
    # O5: global top-10 with deterministic tiebreak
    ev = _t(spark, sf_dir, "events")
    sums = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6)
        .alias("total"))
    return sums.orderBy(F.col("total").desc(), F.col("user_id").asc()).limit(10)


def _q_rollup_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.rollup("event_type").agg(F.count("*").alias("n"))


def _q_dedup_exact(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _q_dedup_minhash_lsh(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    return lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=8, rows_per_band=2)


def _q_simhash_fingerprints(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), bits=16)


def _q_simhash_near_dups(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    return simhash_candidate_pairs(_t(spark, sf_dir, "documents"),
                                   bits=16, bands=4, max_hamming=1)


def _q_dedup_ngram_jaccard(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=3, threshold=0.3)


def _q_dedup_clusters(spark, sf_dir):
    # transitive duplicate-cluster assignment over the LSH pair graph
    from bigdata_event_stream_detection_spark.operators.dedup import (
        dedup_clusters, lsh_candidate_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, num_hashes=8, rows_per_band=2)
    return dedup_clusters(docs, pairs)


def _q_contamination_overlap(spark, sf_dir):
    # decontamination sweep: docs with doc_id % 20 == 0 act as the
    # held-out eval corpus; the rest are the training corpus
    from bigdata_event_stream_detection_spark.operators.dedup import (
        contamination_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    return contamination_overlap(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0), k=3)


def _q_embedding_near_dups(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.dedup import (
        embedding_near_dups,
    )

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _q_embedding_centroids(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.similarity import (
        embedding_centroids,
    )

    return embedding_centroids(_t(spark, sf_dir, "embeddings"))


def _q_ann_cosine_topk(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.similarity import (
        cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_ann_lsh_topk(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.similarity import (
        lsh_bucket_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, planes=4)


def _q_ann_ivf_topk(spark, sf_dir):
    # IVF coarse-quantized ANN (engine-specific clustering; rows-only)
    from bigdata_event_stream_detection_spark.operators.similarity import (
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                    n_centroids=8, n_probe=3)


def _q_ann_pq_topk(spark, sf_dir):
    # product-quantization ANN: m-byte codes + ADC lookup-table scan
    from bigdata_event_stream_detection_spark.operators.similarity import (
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                   k=5, m=8, ksub=16)


def _q_ann_binary_hamming(spark, sf_dir):
    # 1-bit binary-quantized ANN: sign-pack -> bit_count(xor) Hamming
    # shortlist (pure codegen) -> exact cosine rescore of the
    # shortlist only (operators/similarity.py binary_hamming_topk)
    from bigdata_event_stream_detection_spark.operators.similarity import (
        binary_hamming_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return binary_hamming_topk(emb, emb.filter(F.col("vec_id") < 10),
                               k=5, candidates=32)


def _q_ann_pq_rescored(spark, sf_dir):
    # ADC shortlist -> exact cosine rerank (the accuracy knob)
    from bigdata_event_stream_detection_spark.operators.similarity import (
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                   k=5, m=8, ksub=16, rescore_factor=4)


def _q_fim_transform(spark, sf_dir):
    # fill-in-the-middle PSM reorder on a hash-gated half of the
    # corpus, causal passthrough for the rest — pure Column slices
    from bigdata_event_stream_detection_spark.operators.objectives import (
        fim_transform,
    )
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences,
    )

    seqs = documents_to_sequences(_t(spark, sf_dir, "documents"))
    out = fim_transform(seqs, fim_rate=0.5)
    return out.select(
        "doc_id", "is_fim",
        F.size("output_ids").alias("n_out"),
        F.md5(F.concat_ws(",", F.transform(
            "output_ids", lambda x: x.cast("string"))))
        .alias("fingerprint"),
    )


def _q_mlm_masking(spark, sf_dir):
    # BERT MLM pair prep: hash-derived 15% selection with the 80/10/10
    # action split, all Column expressions — zero shuffles/Python
    from bigdata_event_stream_detection_spark.operators.objectives import (
        mlm_masking,
    )
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences,
    )

    seqs = documents_to_sequences(_t(spark, sf_dir, "documents"))
    out = mlm_masking(seqs, mask_rate=0.15, vocab_size=30_000)
    fp = lambda c: F.md5(F.concat_ws(",", F.transform(
        c, lambda x: x.cast("string"))))
    return out.select(
        "doc_id",
        F.size("input_ids").alias("n_tok"),
        F.size(F.filter("labels", lambda x: x != -100))
        .alias("n_selected"),
        fp("input_ids").alias("input_fp"),
        fp("labels").alias("labels_fp"),
    )


def _q_span_corruption(spark, sf_dir):
    # T5 denoising-pair prep: hash-derived span masks (replay-stable,
    # engine-portable), ONE vectorized pandas rewrite, zero shuffles
    from bigdata_event_stream_detection_spark.operators.objectives import (
        span_corruption,
    )
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences,
    )

    seqs = documents_to_sequences(_t(spark, sf_dir, "documents"))
    out = span_corruption(seqs, mask_rate=0.15, span_len=3)
    fp = lambda c: F.md5(F.concat_ws(",", F.transform(
        c, lambda x: x.cast("string"))))
    return out.select(
        "doc_id", "n_spans",
        F.size("input_ids").alias("n_input"),
        F.size("target_ids").alias("n_target"),
        fp("input_ids").alias("input_fp"),
        fp("target_ids").alias("target_fp"),
    )


def _q_token_sequence_stats(spark, sf_dir):
    # token-native quality signals (the pre-tokenized input shape
    # carries no raw text): distinct fraction, Gopher top-share,
    # duplicate-bigram fraction, token entropy — all in-row, no shuffle
    from bigdata_event_stream_detection_spark.operators.text import (
        token_sequence_stats,
    )
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences,
    )

    seqs = documents_to_sequences(_t(spark, sf_dir, "documents"))
    return token_sequence_stats(seqs)


def _q_skipgram_cooc(spark, sf_dir):
    # GloVe-style distance-weighted co-occurrence: in-row pair stream
    # (no positions self-join), one (w1,w2) hash agg
    from bigdata_event_stream_detection_spark.operators.text import (
        skipgram_cooccurrence,
    )

    return skipgram_cooccurrence(
        _t(spark, sf_dir, "documents"), window=5, min_weight=5.0)


def _q_nb_confusion(spark, sf_dir):
    # the eval step that closes the classifier loop: confusion matrix
    # of the held-out predictions against the true labels — pure
    # counting over the oracle-proven scoring plan
    from bigdata_event_stream_detection_spark.operators.classifier import (
        nb_classify, nb_train,
    )

    docs = _t(spark, sf_dir, "documents")
    cond, priors = nb_train(docs.filter(F.col("doc_id") % 5 != 0))
    pred = nb_classify(docs.filter(F.col("doc_id") % 5 == 0),
                       cond, priors)
    return (
        pred.join(docs.select("doc_id",
                              F.col("lang").alias("true_label")),
                  "doc_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
    )


def _q_uncorroborated_events(spark, sf_dir):
    # batch path of the streaming LEFT-OUTER anti-join form: hourly
    # (window, theme, source) strengths from the events table; keep the
    # rows NO other source corroborates. theme_id derives from the
    # portable md5 hash so DuckDB reproduces it.
    from bigdata_event_stream_detection_spark.functions.textfns import (
        hash60,
    )
    from bigdata_event_stream_detection_spark.streaming.engine import (
        uncorroborated_events,
    )

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            # events carry no source column: derive a 3-way feed split
            F.pmod(F.col("user_id"), F.lit(3)).cast("string")
            .alias("source"),
            F.pmod(hash60(F.col("event_type")), F.lit(7)).cast("int")
            .alias("theme_id"))
        .agg(F.count("*").alias("strength"))
    )
    out = uncorroborated_events(hourly, min_strength=2)
    return out.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        "theme_id", "source", "strength")


def _q_packed_sequences(spark, sf_dir):
    # trainer-shaped packed batches: concatenated token stream + doc-
    # boundary prefix array per (source, pack); order-exact md5
    # fingerprints checked against the single-node recompute
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences,
    )
    from bigdata_event_stream_detection_spark.operators.sampling import (
        pack_sequences,
    )

    seqs = documents_to_sequences(_t(spark, sf_dir, "documents"))
    seqs = seqs.withColumn("doc_id", F.col("doc_id").cast("long"))
    out = pack_sequences(seqs, budget_tokens=400)
    fp = lambda c: F.md5(F.concat_ws(",", F.transform(
        c, lambda x: x.cast("string"))))
    return out.select(
        "source", "pack_id", "n_docs", "total_tokens",
        fp("boundaries").alias("boundaries_fp"),
        fp("tokens").alias("tokens_fp"),
    )


def _q_vocab_prune_remap(spark, sf_dir):
    # tokenizer-migration primitive: renumber the top-50 ids (reversed,
    # a real renumbering) and fold the tail into UNK=-1, order-exact
    # fingerprint per doc; oracle recomputes single-node
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        documents_to_sequences, remap_token_ids,
    )

    seqs = documents_to_sequences(_t(spark, sf_dir, "documents"))
    mapping = spark.range(50).select(
        F.col("id").alias("old_id"),
        (F.lit(49) - F.col("id")).alias("new_id"))
    out = remap_token_ids(seqs, mapping, unk_id=-1)
    return out.select(
        "doc_id",
        F.size("tokens").alias("n_tok"),
        F.md5(F.concat_ws(",", F.transform(
            "tokens", lambda t: t.cast("string")))).alias("fingerprint"),
    )


def _q_ann_ivfpq_topk(spark, sf_dir):
    # IVF-PQ: coarse cells + residual PQ codes + ADC — the composed
    # 10^9-vector shape; oracle is the single-node recompute with
    # identical seeds/op order (tools/local_oracle.ann_ivfpq_rows)
    from bigdata_event_stream_detection_spark.operators.similarity import (
        ivf_pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 10),
                       k=5, n_centroids=8, n_probe=3, m=8, ksub=16)


def _q_embedding_kmeans(spark, sf_dir):
    # distributed spherical k-means (full-corpus Lloyd's; only kxd
    # centroid state on the driver) — oracle is a single-node numpy
    # recomputation with identical init/update semantics
    from bigdata_event_stream_detection_spark.operators.similarity import (
        embedding_kmeans,
    )

    return embedding_kmeans(_t(spark, sf_dir, "embeddings"),
                            k=8, iterations=5)


def _q_cm_word_counts(spark, sf_dir):
    # count-min sketch as a relation (md5-derived rows/buckets, exact
    # cell longs): point-frequency estimates for every distinct word,
    # emitted next to the exact count with the never-undercount verdict
    # — self-verifying, same pattern as approx_distinct_verified.
    from bigdata_event_stream_detection_spark.functions.textfns import (
        ascii_words,
    )
    from bigdata_event_stream_detection_spark.operators.sketches import (
        count_min_estimate, count_min_sketch,
    )

    words = _t(spark, sf_dir, "documents").select(
        F.explode(ascii_words(F.col("text"))).alias("w"))
    sk = count_min_sketch(words, "w", width=256, depth=4)
    est = count_min_estimate(sk, words, "w", width=256, depth=4)
    exact = words.groupBy(F.col("w").alias("value")).agg(
        F.count("*").alias("n_exact"))
    return (
        exact.join(est, "value")
        .select("value", "n_exact", "est",
                (F.col("est") >= F.col("n_exact")).alias("never_under"))
    )


def _q_dup_graph_pagerank(spark, sf_dir):
    # centrality over the LSH candidate-pair graph: PageRank picks the
    # canonical copy of a duplicated template and ranks boilerplate
    # hubs. Fixed power iterations -> exactly reproducible by the
    # single-node recompute (tools/local_oracle.pagerank_rows).
    from bigdata_event_stream_detection_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from bigdata_event_stream_detection_spark.operators.graph import (
        pagerank,
    )

    pairs = lsh_candidate_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=8, rows_per_band=2)
    return pagerank(pairs, damping=0.85, iterations=10).select(
        "node", F.round("rank", 6).alias("rank"))


def _q_temperature_mix(spark, sf_dir):
    # multilingual p^alpha mix balancing (Conneau & Lample 2019):
    # per-stratum counts -> temperature fractions -> replay-stable
    # hash sample. alpha=0.5 upweights the small langs vs 'en'.
    from bigdata_event_stream_detection_spark.operators.sampling import (
        temperature_mix_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix_sample(
        docs, alpha=0.5, strata_col="lang").select(
        "doc_id", "lang", "source")


def _q_bloom_contamination(spark, sf_dir):
    # bounded-memory decontamination twin: eval shingles collapse to a
    # <=m-row Bloom bit-position relation; a training shingle flags iff
    # all its hash positions are set (never misses a true overlap).
    # m=4096 here is deliberately small so false positives are live.
    from bigdata_event_stream_detection_spark.operators.dedup import (
        bloom_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    return bloom_contamination(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        m=4096, num_hashes=3, shingle_k=3)


def _q_dsir_sample(spark, sf_dir):
    # DSIR importance resampling (Xie et al. 2023): hashed unigram+
    # bigram bag models on raw vs exemplar slices -> per-doc log
    # importance weight -> deterministic Gumbel top-k selection. All
    # hashes/noise derive from the portable md5 hash60, so the oracle
    # is plain DuckDB SQL.
    from bigdata_event_stream_detection_spark.operators.sampling import (
        dsir_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return dsir_sample(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        k=50, n_buckets=2048)


def _q_nb_lang_classify(spark, sf_dir):
    # trainable quality/label classifier (CCNet/fastText pattern):
    # multinomial NB trained on the doc_id%5!=0 slice's lang labels,
    # scoring the held-out slice. Training is pure counting, so the
    # oracle is plain DuckDB SQL over the same parquet.
    from bigdata_event_stream_detection_spark.operators.classifier import (
        nb_classify, nb_train,
    )

    docs = _t(spark, sf_dir, "documents")
    cond, priors = nb_train(docs.filter(F.col("doc_id") % 5 != 0))
    return nb_classify(docs.filter(F.col("doc_id") % 5 == 0), cond, priors)


def _q_semantic_dedup(spark, sf_dir):
    # SemDeDup: spherical k-means buckets + within-cluster blocked GEMM
    # pair scan; keep the least-centroid-similar member of a dup group.
    # Oracle is a single-node numpy recompute with identical semantics.
    from bigdata_event_stream_detection_spark.operators.dedup import (
        semantic_dedup,
    )

    return semantic_dedup(_t(spark, sf_dir, "embeddings"),
                          k=8, iterations=5, threshold=0.4)


def _q_bpe_merges(spark, sf_dir):
    # distributed BPE training over the vocab-bounded word table
    from bigdata_event_stream_detection_spark.operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"),
                     num_merges=20, min_word_count=2)


def _q_bpe_encode(spark, sf_dir):
    # train + encode: per-doc subword counts and an order-exact md5
    # fingerprint of the token sequence
    from bigdata_event_stream_detection_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, bpe_train(docs, num_merges=20,
                                      min_word_count=2))


def _q_language_id(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import language_id

    return language_id(_t(spark, sf_dir, "documents"))


def _q_quality_scores(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


def _q_token_counts(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def _q_word_bigram_counts(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import (
        word_ngram_counts,
    )

    return word_ngram_counts(_t(spark, sf_dir, "documents"), n=2, min_count=2)


def _q_fingerprints(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


def _q_pii_counts(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import pii_counts

    return pii_counts(_t(spark, sf_dir, "documents"))


def _q_chunked_contexts(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_event_stream_detection_spark.operators.sampling import (
        chunk_sequences,
    )
    from bigdata_event_stream_detection_spark.sources.tokenize import (
        words_column,
    )

    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", words_column(F.col("text")).alias("tokens"))
    chunked = chunk_sequences(toks, max_len=20, stride=15)
    return chunked.select(
        "doc_id", "chunk_id",
        F.array_join("tokens", " ").alias("chunk_text"), "n_tok")


def _q_corpus_stats(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import corpus_stats

    return corpus_stats(_t(spark, sf_dir, "documents"))


def _q_quality_gate(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import (
        quality_percentile_gate,
    )

    return quality_percentile_gate(_t(spark, sf_dir, "documents"), p=0.75)


def _q_doc_cross_entropy(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import (
        cross_entropy_scores,
    )

    return cross_entropy_scores(_t(spark, sf_dir, "documents"), min_count=5)


def _q_pmi_collocations(spark, sf_dir):
    # top-k collocations by pointwise mutual information
    from bigdata_event_stream_detection_spark.operators.text import (
        pmi_collocations,
    )

    return pmi_collocations(_t(spark, sf_dir, "documents"),
                            min_pair_count=5, k=20)


def _q_bigram_perplexity(spark, sf_dir):
    # interpolated bigram-LM self-perplexity: next-order fluency signal
    from bigdata_event_stream_detection_spark.operators.text import (
        bigram_perplexity,
    )

    return bigram_perplexity(_t(spark, sf_dir, "documents"),
                             min_count=2, lam=0.7)


def _q_repetition_stats(spark, sf_dir):
    from bigdata_event_stream_detection_spark.operators.text import (
        repetition_stats,
    )

    return repetition_stats(_t(spark, sf_dir, "documents"), n=2)


_MIX_FRACTIONS = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.3}
_PACK_BUDGET = 4000


def _q_curated_mix(spark, sf_dir):
    # end-to-end curation: quality gate -> exact dedup -> eval-set
    # decontamination -> stratified mix sample -> budgeted packing
    from bigdata_event_stream_detection_spark.plans.curation import (
        curate_training_mix,
    )

    docs = _t(spark, sf_dir, "documents")
    return curate_training_mix(
        docs.filter(F.col("doc_id") % 20 != 0),
        _MIX_FRACTIONS,
        quality_min=0.5,
        eval_docs=docs.filter(F.col("doc_id") % 20 == 0),
        contamination_max=0.2,
        pack_budget=_PACK_BUDGET,
        salt="sample",
    )


def _q_sample_k_per_lang(spark, sf_dir):
    # exact-k deterministic per-stratum reservoir (hash-rank)
    from bigdata_event_stream_detection_spark.operators.sampling import (
        topk_hash_sample,
    )

    return topk_hash_sample(
        _t(spark, sf_dir, "documents"), k=30, strata_col="lang",
    ).select("doc_id", "lang")


def _q_stratified_sample(spark, sf_dir):
    # deterministic training-mix construction (per-language keep rates)
    from bigdata_event_stream_detection_spark.operators.sampling import (
        stratified_hash_sample,
    )

    return stratified_hash_sample(
        _t(spark, sf_dir, "documents"), _MIX_FRACTIONS, strata_col="lang",
    ).select("doc_id", "lang", "source")


def _q_pack_assignments(spark, sf_dir):
    # fixed-budget training-pack assignment (next-fit by char budget)
    from bigdata_event_stream_detection_spark.operators.sampling import (
        pack_assignments,
    )

    return pack_assignments(
        _t(spark, sf_dir, "documents"), budget=_PACK_BUDGET,
    ).select("doc_id", "source", "pack_id")


def _q_intersect_users(spark, sf_dir):
    # §2.6: INTERSECT — users with both click and error events
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


def _q_except_quality_docs(spark, sf_dir):
    # §2.6: EXCEPT — documents minus the short-text set
    docs = _t(spark, sf_dir, "documents")
    short = docs.filter(F.col("n_chars") < 200)
    return docs.select("doc_id").exceptAll(short.select("doc_id"))


def _q_anti_join_inactive(spark, sf_dir):
    # §2.6: ANTI join — customers who never placed a >300k order.
    # Spark plans one left-anti hash join (the pushed filter shrinks
    # the build side first); no NOT-IN rewrite, no per-row subquery.
    cust = _t(spark, sf_dir, "customer")
    big = (_t(spark, sf_dir, "orders")
           .filter(F.col("o_totalprice") > 300000))
    return (cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


def _q_grouping_sets_counts(spark, sf_dir):
    # §2.3: GROUPING SETS — the explicit-subset sibling of cube/rollup
    # (only the aggregation levels a report needs, not the power set).
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_gs_docs")
    return spark.sql("""
        SELECT lang, source, count(*) AS n,
               sum(n_chars) AS chars, grouping_id() AS gid
        FROM _gs_docs
        GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
    """)


def _q_percent_rank_prices(spark, sf_dir):
    # §2.8: percent_rank + cume_dist of order value within its priority
    # class — the distribution-position window pair topk/ntile lack
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    ).filter(F.col("pr") >= 0.99)


def _q_above_avg_orders(spark, sf_dir):
    # §2.3/§2.8: the correlated-scalar-subquery classic ("rows above
    # their group's average") as a partitioned window avg — one shuffle,
    # no self-join, no per-row subquery re-evaluation
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (orders
            .withColumn("_avg", F.avg("o_totalprice").over(w))
            .filter(F.col("o_totalprice") > F.col("_avg"))
            .select("o_orderkey", "o_custkey",
                    F.round("o_totalprice", 2).alias("price"),
                    F.round("_avg", 6).alias("cust_avg")))


def _q_trailing_value_sums(spark, sf_dir):
    # §2.8: RANGE frame over event time — trailing 1h sum per user
    # (value-based frame: all ties included, unlike a ROWS frame)
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, 0))
    return (ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 6).alias("trail_1h"))
        .filter(F.col("trail_1h") > 200))


def _q_value_change_lag(spark, sf_dir):
    # §2.8: lag + first_value — per-user event-over-event value delta,
    # emitted where it swings hard
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(
        "user_id", "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 6)
        .alias("delta"),
        F.round(F.first("value").over(w), 6).alias("first_val"))
        .filter(F.abs(F.col("delta")) > 90))


def _q_json_props_stats(spark, sf_dir):
    # §2.2: semi-structured parsing — the events.props JSON column
    # decoded with a typed from_json schema (codegen JSON path, no UDF),
    # then a plain hash aggregate
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (ev.select("event_type", k.alias("_k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("_k").alias("k_sum"),
                 F.round(F.avg("_k"), 6).alias("k_avg")))


def _q_cube_counts(spark, sf_dir):
    # §2.3: CUBE over (event_type, lang-bucket) with grouping ids
    ev = _t(spark, sf_dir, "events")
    bucketed = ev.withColumn("vbucket", (F.col("value") / 25).cast("int"))
    return (
        bucketed.cube("event_type", "vbucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("vbucket"), F.lit(-1)).alias("vbucket"),
            "n",
        )
    )


def _q_salted_source_counts(spark, sf_dir):
    # skew-mitigated two-phase aggregation; result == plain groupBy
    from bigdata_event_stream_detection_spark.operators.skew import (
        salted_token_counts,
    )

    seqs = _documents_as_sequences(spark, sf_dir)
    return salted_token_counts(seqs, buckets=16)


def _q_media_features(spark, sf_dir):
    # multimodal plumbing: documents' text bytes as opaque payloads ->
    # Arrow-batched (stub-)decode -> fixed-dim features. Not
    # SQL-expressible (hash-seeded decode); rows-only check.
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        extract_features,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.expr(
            "named_struct('width', 64, 'height', 64, 'sample_rate', "
            "cast(null as int), 'n_frames', cast(null as int), "
            "'codec', 'png')").alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6)
        .alias("feature_sum"))


def _q_media_decode_features(spark, sf_dir):
    # REAL codecs (VERDICT r3 item 1): genuinely encoded PNG/WAV/Y4M
    # payloads -> stdlib-codec decode on the workers -> deterministic
    # per-modality features. Oracle = single-node recompute with the
    # same codecs (tools/local_oracle.py:media_decode_feature_rows).
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        extract_features,
        synth_encoded_media,
    )

    media = synth_encoded_media(spark, 90)
    feats = extract_features(media, decoder="real")
    return feats.select(
        "doc_id", "kind",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6)
        .alias("feature_sum"))


def _q_media_resize_fingerprints(spark, sf_dir):
    # real PNG decode -> nearest-neighbour resize -> PNG re-encode;
    # compared by content hash so the oracle checks the exact bytes
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        resize_images,
        synth_encoded_media,
    )

    media = synth_encoded_media(spark, 90)
    resized = resize_images(media, 8, 6, decoder="real")
    return resized.select("doc_id", F.md5("payload").alias("fp"))


def _q_media_frame_fingerprints(spark, sf_dir):
    # real Y4M container: O(1)-seek frame extraction, PNG at rest
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        sample_frames,
        synth_encoded_media,
    )

    media = synth_encoded_media(spark, 90)
    frames = sample_frames(media, every_n=2, decoder="real")
    return frames.select("doc_id", "frame_no",
                         F.md5("frame").alias("fp"))


def _model_prelude(spark, sf_dir):
    """Shared tokenize -> filter -> background -> window -> themes
    prelude for the model queries (same params everywhere)."""
    from bigdata_event_stream_detection_spark.operators import (
        background as bg_ops,
    )
    from bigdata_event_stream_detection_spark.operators import em as em_ops
    from bigdata_event_stream_detection_spark.operators import windows as win

    p = _small_params()
    seqs = _documents_as_sequences(spark, sf_dir)
    from bigdata_event_stream_detection_spark.util import persist_once
    seqs = persist_once(win.filter_docs(seqs, min_tokens=p.min_doc_tokens))
    model = bg_ops.background_model(seqs, min_count=p.min_word_corpus_count)
    windowed = win.with_time_window(seqs, length=p.window_length)
    themes = em_ops.filter_themes(
        em_ops.em_themes(windowed, model, k=p.num_themes,
                         iterations=p.em_iterations,
                         lambda_b=p.lambda_background),
        p.num_themes, p.theme_score_floor_factor)
    return p, windowed, themes, model


def _q_theme_top_words(spark, sf_dir):
    # O3: top-k words per extracted theme by raw probability
    from bigdata_event_stream_detection_spark.operators.transitions import (
        top_theme_words,
    )

    _, _, themes, _ = _model_prelude(spark, sf_dir)
    tw = top_theme_words(themes, lexicon=None, k=5)
    return tw.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        "theme_id", "word_id", "rank")


def _q_theme_salient_words(spark, sf_dir):
    # O7: KL-salience feature selection (Theme.java:186-219)
    from bigdata_event_stream_detection_spark.operators.transitions import (
        top_theme_words,
    )

    _, _, themes, model = _model_prelude(spark, sf_dir)
    tw = top_theme_words(themes, lexicon=None, k=5, score="salience",
                         background=model)
    return tw.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        "theme_id", "word_id", "rank",
        F.round("salience", 6).alias("salience"))


_SLICE_THEME, _SLICE_START, _SLICE_LEN = 1, "2015-01-01 03:30:00", "5 hours"


def _q_theme_strength_slice(spark, sf_dir):
    # absoluteStrength over an arbitrary time slice
    # (LifeCycleAnalyserSpark.java:327-410)
    from bigdata_event_stream_detection_spark.operators import hmm as hmm_ops

    p, windowed, themes, model = _model_prelude(spark, sf_dir)
    dc = hmm_ops.doc_theme_counts(windowed, themes, model,
                                  max_iterations=p.bw_max_iterations)
    return hmm_ops.theme_strength(dc, theme_id=_SLICE_THEME,
                                  start=_SLICE_START, length=_SLICE_LEN)


def _q_strength_series(spark, sf_dir):
    # per-timestamp strength series, finer than the analysis window
    # (LifeCycleAnalyserSpark.java:196-229)
    from bigdata_event_stream_detection_spark.operators import hmm as hmm_ops

    p, windowed, themes, model = _model_prelude(spark, sf_dir)
    dc = hmm_ops.doc_theme_counts(windowed, themes, model,
                                  max_iterations=p.bw_max_iterations)
    s = hmm_ops.strength_series(dc, bucket="minute")
    return s.select(
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        "source", "theme_id", "strength")


def _q_top_docs_per_theme(spark, sf_dir):
    # O4: per-theme top documents by EM mixing weight
    from bigdata_event_stream_detection_spark.operators import (
        background as bg_ops,
    )
    from bigdata_event_stream_detection_spark.operators import em as em_ops
    from bigdata_event_stream_detection_spark.operators import windows as win

    p = _small_params()
    seqs = _documents_as_sequences(spark, sf_dir)
    from bigdata_event_stream_detection_spark.util import persist_once
    seqs = persist_once(win.filter_docs(seqs, min_tokens=p.min_doc_tokens))
    model = bg_ops.background_model(seqs, min_count=p.min_word_corpus_count)
    windowed = win.with_time_window(seqs, length=p.window_length)
    dw = em_ops.em_doc_weights(windowed, model, k=p.num_themes,
                               iterations=p.em_iterations,
                               lambda_b=p.lambda_background)
    top = em_ops.top_docs_per_theme(dw, k=3)
    return top.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        "theme_id", "doc_id", "rank", F.round("weight", 6).alias("weight"))


def _q_detect_events(spark, sf_dir):
    # model-kernel pipeline — not SQL-expressible (rows-only check)
    from bigdata_event_stream_detection_spark.plans.pipeline import (
        detect_event_stream,
    )

    seqs = _documents_as_sequences(spark, sf_dir)
    ev = detect_event_stream(seqs, _small_params())
    return ev.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        "source", "theme_id", "strength")


def _q_evolution_edges(spark, sf_dir):
    from bigdata_event_stream_detection_spark.plans.pipeline import evolution_graph

    seqs = _documents_as_sequences(spark, sf_dir)
    g = evolution_graph(seqs, _small_params())
    return g.select(
        F.unix_timestamp("window1").alias("w1_epoch"), "theme1",
        F.unix_timestamp("window2").alias("w2_epoch"), "theme2",
        F.round("divergence", 6).alias("divergence"))


def _icelite_fresh(name: str) -> str:
    # each icelite driver query rebuilds its table from scratch so the
    # result is a pure function of (sf_dir); the dir persists until the
    # next run because the returned DataFrame lazily reads its files
    import shutil

    path = f"/tmp/besd_icelite_{name}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def _q_icelite_merge_snapshot(spark, sf_dir):
    # MERGE INTO on an icelite table (copy-on-write table format):
    # upserts bump price by 100 for o_orderkey%3==0, %9==0 rows are
    # deleted, shifted keys inserted; result = merged table's
    # per-status profile (sources/icelite.py merge_into)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        merge_into,
        read_table,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = _icelite_fresh("merge")
    create_table(path, orders.schema)
    append(orders.repartitionByRange(8, "o_orderkey"), path)
    upd = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
           .withColumn("is_delete", F.col("o_orderkey") % 9 == 0))
    ins = (orders.filter(F.col("o_orderkey") % 1000 == 0)
           .select((F.col("o_orderkey") + F.lit(100000000)
                    ).alias("o_orderkey"),
                   F.lit("Z").alias("o_orderstatus"),
                   F.col("o_totalprice"),
                   F.lit(False).alias("is_delete")))
    merge_into(spark, path, upd.unionByName(ins), key="o_orderkey",
               delete_col="is_delete")
    return (read_table(spark, path)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


def _q_icelite_wap_gated(spark, sf_dir):
    # write-audit-publish (round 4): the even-key half is the base
    # table; a DIRTY odd-key batch (every 7th key's price nulled) is
    # staged, audited against ("price_not_null", "o_totalprice IS NOT
    # NULL"), and ABORTED — table unchanged, no snapshot; the clean
    # odd-key batch then publishes atomically under tag "r4". Result =
    # the tagged read's per-status profile, so if the aborted batch
    # leaked (or the publish missed rows) the counts diverge from the
    # plain full-orders oracle (sources/icelite.py:write_audit_publish)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        AuditFailed,
        append,
        create_table,
        read_table,
        write_audit_publish,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = _icelite_fresh("wap")
    create_table(path, orders.schema)
    append(orders.filter(F.col("o_orderkey") % 2 == 0), path)
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)
    dirty = odd.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice")))
    checks = [("price_not_null", "o_totalprice IS NOT NULL")]
    try:
        write_audit_publish(dirty, path, checks)
        raise AssertionError("dirty batch must not publish")
    except AuditFailed:
        pass
    write_audit_publish(odd, path, checks, tag="r4")
    return (read_table(spark, path, tag="r4")
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


def _q_icelite_time_travel(spark, sf_dir):
    # snapshot log + time travel: two appends, then version-pinned
    # reads of both snapshots (sources/icelite.py read_table)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        read_table,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    path = _icelite_fresh("travel")
    create_table(path, orders.schema)
    append(orders.filter(F.col("o_orderkey") % 2 == 0), path)
    append(orders.filter(F.col("o_orderkey") % 2 == 1), path)

    def profile(version):
        return (read_table(spark, path, version=version)
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("o_totalprice"), 2).alias("total"))
                .withColumn("version", F.lit(version)))

    return profile(2).unionByName(profile(3)).select(
        "version", "n", "total")


def _q_icelite_pruned_scan(spark, sf_dir):
    # file-level min/max pruning: the between-predicate hands Spark
    # only the files whose footer stats overlap the key range
    # (sources/icelite.py table_files/_file_may_match)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        read_table,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = _icelite_fresh("prune")
    create_table(path, orders.schema)
    append(orders.repartitionByRange(8, "o_orderkey"), path)
    return (read_table(spark, path,
                       where=[("o_orderkey", "between", (1000, 20000))])
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


def _q_icelite_partitioned_prune(spark, sf_dir):
    # hidden partitioning (Iceberg partition transforms): the table is
    # bucketed on user_id and day-partitioned on ts at WRITE time; the
    # reads keep filtering on the SOURCE columns and planning prunes
    # files by the transformed partition value — exactly, not
    # min/max-conservatively (sources/icelite.py _partition_may_match).
    # The result is a pure function of the events data (partitioning
    # only changes which files are planned), so DuckDB oracles it
    # directly against the parquet.
    import datetime as dt

    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        read_table,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    path = _icelite_fresh("partprune")
    create_table(path, ev.schema,
                 partition_spec=[("user_id", "bucket", 8), ("ts", "day")])
    append(ev, path)
    by_user = (read_table(spark, path, where=[("user_id", "=", 42)])
               .groupBy(F.col("event_type").alias("grp"))
               .agg(F.count("*").alias("n"),
                    F.round(F.sum("value"), 2).alias("total"))
               .select(F.lit("user").alias("leg"), "grp", "n", "total"))
    d0, d1 = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 8)
    by_day = (read_table(spark, path,
                         where=[("ts", ">=", d0), ("ts", "<", d1)])
              .groupBy(F.col("ts").cast("date").cast("string").alias("grp"))
              .agg(F.count("*").alias("n"),
                   F.round(F.sum("value"), 2).alias("total"))
              .select(F.lit("days").alias("leg"), "grp", "n", "total"))
    return by_user.unionByName(by_day)


def _q_icelite_mor_merge_snapshot(spark, sf_dir):
    # the SAME merge as icelite_merge_snapshot, committed MERGE-ON-READ
    # (Iceberg v2): one equality delete file + appended upserts, no
    # base file read or rewritten (asserted: every pre-merge file is
    # still referenced). The read path resolves the deletes by
    # sequence number, so the profile must equal the copy-on-write /
    # SQL answer (sources/icelite.py _merge_mor/_apply_deletes)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        merge_into,
        read_table,
        table_files,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = _icelite_fresh("mor")
    create_table(path, orders.schema)
    append(orders.repartitionByRange(8, "o_orderkey"), path)
    before = {e["path"] for e in table_files(path)}
    upd = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
           .withColumn("is_delete", F.col("o_orderkey") % 9 == 0))
    ins = (orders.filter(F.col("o_orderkey") % 1000 == 0)
           .select((F.col("o_orderkey") + F.lit(100000000)
                    ).alias("o_orderkey"),
                   F.lit("Z").alias("o_orderstatus"),
                   F.col("o_totalprice"),
                   F.lit(False).alias("is_delete")))
    merge_into(spark, path, upd.unionByName(ins), key="o_orderkey",
               delete_col="is_delete", strategy="merge-on-read")
    after = {e["path"] for e in table_files(path)}
    assert before <= after, "merge-on-read must not rewrite base files"
    return (read_table(spark, path)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


def _q_icelite_delete_where(spark, sf_dir):
    # row-level DELETE in both strategies composing on one table: a
    # merge-on-read positional delete of a time slice (delete files
    # only — base files untouched), then a copy-on-write delete of a
    # user range (whose rewrite folds the positional delete into the
    # surviving rows). The read applies what remains
    # (sources/icelite.py delete_where)
    import datetime as dt

    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        delete_where,
        read_table,
        snapshots,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    path = _icelite_fresh("delete")
    create_table(path, ev.schema)
    append(ev.repartitionByRange(8, "ts"), path)
    d0, d1 = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 10)
    delete_where(spark, path, [("ts", ">=", d0), ("ts", "<", d1)],
                 strategy="merge-on-read")
    assert snapshots(path)[-1]["summary"]["added_files"] == 0
    delete_where(spark, path, [("user_id", "between", (100, 200))],
                 strategy="copy-on-write")
    return (read_table(spark, path)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total")))


def _q_icelite_delta_cdc_snapshot(spark, sf_dir):
    # the delta (merge-on-read) CDC store shape: per-"trigger" latest
    # rows APPENDED to a cdc.mode=delta table — O(batch) per commit,
    # never a base rewrite — and read_cdc_snapshot resolves latest-wins
    # at read. Two batch appends emulate two triggers; the result must
    # equal the one-shot batch latest_snapshot (= the latest_user_state
    # oracle) regardless of the split
    # (streaming/icelite_sink.py start_apply_changes_icelite/
    # read_cdc_snapshot)
    from bigdata_event_stream_detection_spark.operators.cdc import (
        events_as_changelog,
    )
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
    )
    from bigdata_event_stream_detection_spark.streaming.cdc import (
        _batch_latest,
    )
    from bigdata_event_stream_detection_spark.streaming.icelite_sink import (
        read_cdc_snapshot,
    )

    cl = events_as_changelog(_t(spark, sf_dir, "events"))

    def trigger(batch):
        return _batch_latest(batch, "user_id", "ts", "event_id", "op",
                             ["event_type", "value"],
                             n_buckets=1).drop("bucket")

    first = trigger(cl.filter(F.col("event_id") % 2 == 0))
    second = trigger(cl.filter(F.col("event_id") % 2 == 1))
    path = _icelite_fresh("deltacdc")
    create_table(path, first.schema,
                 properties={"cdc.mode": "delta", "cdc.key": "user_id"})
    append(first, path)
    append(second, path)
    return read_cdc_snapshot(spark, path).select(
        "user_id", "event_type", "value", "last_ts", "last_id")


def _q_icelite_table_changes(spark, sf_dir):
    # changelog (CDF) scan over a history mixing every change kind:
    # two appends, a merge-on-read upsert (updates+deletes+inserts of
    # fresh keys... here all keys exist, so updates+deletes), and a
    # MOR positional time-slice delete. table_changes renders the
    # exact row-level history — an update is delete(old)+insert(new),
    # rows already dead are never re-reported
    # (sources/icelite_changes.py table_changes)
    import datetime as dt

    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        delete_where,
        merge_into,
    )
    from bigdata_event_stream_detection_spark.sources.icelite_changes import (
        table_changes,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value")
    path = _icelite_fresh("changes")
    create_table(path, ev.schema)
    append(ev.filter(F.col("event_id") % 2 == 0)
           .repartitionByRange(4, "event_id"), path)
    append(ev.filter(F.col("event_id") % 2 == 1)
           .repartitionByRange(4, "event_id"), path)
    src = (ev.filter(F.col("event_id") % 7 == 0)
           .withColumn("value", F.col("value") + F.lit(1000.0))
           .withColumn("is_delete", F.col("event_id") % 21 == 0))
    merge_into(spark, path, src, key="event_id", delete_col="is_delete",
               strategy="merge-on-read")
    delete_where(spark, path,
                 [("ts", ">=", dt.datetime(2024, 1, 5)),
                  ("ts", "<", dt.datetime(2024, 1, 10))],
                 strategy="merge-on-read")
    return (table_changes(spark, path)
            .groupBy(F.col("_change_type").alias("change_type"),
                     "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total")))


def _q_icelite_rename_evolution(spark, sf_dir):
    # field-id schema evolution: append under the ORIGINAL column
    # names, rename o_totalprice -> price (metadata-only — zero files
    # rewritten, asserted), append more data under the NEW name, then
    # (r5) a MOR merge keyed on o_orderkey leaves LIVE equality-delete
    # files and the KEY itself is renamed — entries carry the key's
    # field id (kid), so the rename stays metadata-only and the
    # deletes keep applying under the new name
    # (sources/icelite.py rename_column/_read_mapped/_declared_eq_key)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        merge_into,
        read_table,
        rename_column,
        table_files,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = _icelite_fresh("rename")
    create_table(path, orders.schema)
    append(orders.filter(F.col("o_orderkey") % 2 == 0)
           .repartitionByRange(4, "o_totalprice"), path)
    before = {e["path"] for e in table_files(path)}
    rename_column(path, "o_totalprice", "price")
    assert {e["path"] for e in table_files(path)} == before, \
        "rename must rewrite no data files"
    append(orders.filter(F.col("o_orderkey") % 2 == 1)
           .withColumnRenamed("o_totalprice", "price")
           .repartitionByRange(4, "price"), path)
    # MOR merge: delete o_orderkey%10==0, bump %10==5 by +1
    src = (orders.filter(F.col("o_orderkey") % 10 == 5)
           .withColumnRenamed("o_totalprice", "price")
           .withColumn("price", F.col("price") + 1)
           .withColumn("dead", F.lit(False))
           .unionByName(
               orders.filter(F.col("o_orderkey") % 10 == 0)
               .withColumnRenamed("o_totalprice", "price")
               .withColumn("dead", F.lit(True))))
    merge_into(spark, path, src, key="o_orderkey", delete_col="dead",
               strategy="merge-on-read")
    files_mor = {e["path"] for e in table_files(path)}
    rename_column(path, "o_orderkey", "okey")  # LIVE eq deletes (kid)
    assert {e["path"] for e in table_files(path)} == files_mor, \
        "key rename over live eq deletes must rewrite no data files"
    return (read_table(spark, path, where=[("price", ">=", 100000.0)])
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("price"), 2).alias("total")))


def _q_icelite_files_metadata(spark, sf_dir):
    # Iceberg-style metadata tables (sources/icelite_meta.py): the
    # `files` relation of a status-partitioned table, aggregated per
    # partition tuple, must equal the DATA-side truth — record counts
    # from count(*), stats bounds from min/max(o_orderkey), and
    # exactly one file per tuple per append (hash write distribution),
    # two appends. A wrong manifest row, stats bound, or partition
    # tuple diverges from the plain-orders oracle.
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
    )
    from bigdata_event_stream_detection_spark.sources.icelite_meta import (
        read_metadata_table,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    path = _icelite_fresh("meta")
    create_table(path, orders.schema,
                 partition_spec=[("o_orderstatus", "identity")])
    append(orders.filter(F.col("o_orderkey") % 2 == 0), path)
    append(orders.filter(F.col("o_orderkey") % 2 == 1), path)
    files = read_metadata_table(spark, path, "files")
    return (files
            .groupBy(F.col("partition")["o_orderstatus"]
                     .alias("o_orderstatus"))
            .agg(F.sum("record_count").alias("n_rows"),
                 F.count("*").alias("n_files"),
                 F.min(F.col("lower_bounds")["o_orderkey"]
                       .cast("long")).alias("min_key"),
                 F.max(F.col("upper_bounds")["o_orderkey"]
                       .cast("long")).alias("max_key")))


def _q_icelite_mv_refresh(spark, sf_dir):
    # incremental materialized view (sources/icelite_mv.py): the MV is
    # created over the even-key half, then an append (odd keys) and a
    # COW merge (price bump / %9 deletes / shifted inserts — the
    # icelite_merge_snapshot workload) land on the SOURCE; one refresh
    # applies their changelog as signed increments. Result = the
    # refreshed view, which must equal a direct aggregation of the
    # merged table (integer measures — exact under increments).
    return _mv_workload(spark, sf_dir, "mv", filter_sql=None)


def _mv_workload(spark, sf_dir, name, filter_sql):
    from bigdata_event_stream_detection_spark.sources.icelite import (
        append,
        create_table,
        merge_into,
    )
    from bigdata_event_stream_detection_spark.sources.icelite_mv import (
        create_materialized_view,
        read_materialized_view,
        refresh_materialized_view,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    src = _icelite_fresh(name + "src")
    mv = _icelite_fresh(name)
    create_table(src, orders.schema)
    append(orders.filter(F.col("o_orderkey") % 2 == 0), src)
    create_materialized_view(
        spark, src, mv, ["o_orderstatus"],
        {"n": ("count", None), "sum_key": ("sum", "o_orderkey")},
        filter_sql=filter_sql)
    append(orders.filter(F.col("o_orderkey") % 2 == 1), src)
    upd = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
           .withColumn("is_delete", F.col("o_orderkey") % 9 == 0))
    ins = (orders.filter(F.col("o_orderkey") % 1000 == 0)
           .select((F.col("o_orderkey") + F.lit(100000000)
                    ).alias("o_orderkey"),
                   F.lit("Z").alias("o_orderstatus"),
                   F.col("o_totalprice"),
                   F.lit(False).alias("is_delete")))
    merge_into(spark, src, upd.unionByName(ins), key="o_orderkey",
               delete_col="is_delete")
    refresh_materialized_view(spark, mv)
    return (read_materialized_view(spark, mv)
            .select("o_orderstatus", "n",
                    F.col("sum_key").cast("long").alias("sum_key")))


def _q_icelite_mv_filtered(spark, sf_dir):
    # filtered materialized view: WHERE o_totalprice > 1000 in the
    # view definition. The COW merge bumps %3 keys' price by +100,
    # moving boundary rows INTO the predicate — the symmetric delta
    # filter (inserts and deletes filtered alike) must net each
    # crossing correctly, or the counts diverge from the oracle's
    # direct filtered aggregation of the merged table.
    return _mv_workload(spark, sf_dir, "mvf",
                        filter_sql="o_totalprice > 1000")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "word_count": _q_word_count,
        "word_count_histogram": _q_word_count_histogram,
        "background_model": _q_background_model,
        "windowed_event_counts": _q_windowed_event_counts,
        "burst_windows": _q_burst_windows,
        "cusum_changepoints": _q_cusum_changepoints,
        "value_quantile_sketch": _q_value_quantile_sketch,
        "duplicate_spans": _q_duplicate_spans,
        "remove_duplicate_spans": _q_remove_duplicate_spans,
        "asof_purchase_click": _q_asof_purchase_click,
        "interval_error_purchase": _q_interval_error_purchase,
        "error_runs": _q_error_runs,
        "seq_matches": _q_seq_matches,
        "seq_overlap_matches": _q_seq_overlap_matches,
        "seq_rule_matches": _q_seq_rule_matches,
        "seq_define_matches": _q_seq_define_matches,
        "latest_user_state": _q_latest_user_state,
        "scd2_user_history": _q_scd2_user_history,
        "icelite_merge_snapshot": _q_icelite_merge_snapshot,
        "icelite_wap_gated": _q_icelite_wap_gated,
        "icelite_time_travel": _q_icelite_time_travel,
        "icelite_pruned_scan": _q_icelite_pruned_scan,
        "icelite_partitioned_prune": _q_icelite_partitioned_prune,
        "icelite_mor_merge_snapshot": _q_icelite_mor_merge_snapshot,
        "icelite_delete_where": _q_icelite_delete_where,
        "icelite_delta_cdc_snapshot": _q_icelite_delta_cdc_snapshot,
        "icelite_table_changes": _q_icelite_table_changes,
        "icelite_rename_evolution": _q_icelite_rename_evolution,
        "icelite_files_metadata": _q_icelite_files_metadata,
        "icelite_mv_refresh": _q_icelite_mv_refresh,
        "icelite_mv_filtered": _q_icelite_mv_filtered,
        "timeout_rule_alerts": _q_timeout_rule_alerts,
        "expectation_summary": _q_expectation_summary,
        "expectation_violations": _q_expectation_violations,
        "absence_rule_matches": _q_absence_rule_matches,
        "funnel_conversion": _q_funnel_conversion,
        "funnel_times_within": _q_funnel_times_within,
        "absence_patterns": _q_absence_patterns,
        "timeout_alerts": _q_timeout_alerts,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "approx_distinct_users": _q_approx_distinct_users,
        "heavy_hitter_words": _q_heavy_hitter_words,
        "hash_split": _q_hash_split,
        "pivot_event_values": _q_pivot_event_values,
        "sliding_window_counts": _q_sliding_window_counts,
        "session_windows": _q_session_windows,
        "topk_event_types_per_user": _q_topk_event_types_per_user,
        "argmax_event_type": _q_argmax_event_type,
        "semi_join_filter": _q_semi_join_filter,
        "revenue_per_nation": _q_revenue_per_nation,
        "order_priority_histogram": _q_order_priority_histogram,
        "moving_avg_counts": _q_moving_avg_counts,
        "ntile_split": _q_ntile_split,
        "union_high_value": _q_union_high_value,
        "distinct_users": _q_distinct_users,
        "top_users_by_value": _q_top_users_by_value,
        "rollup_counts": _q_rollup_counts,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "simhash_fingerprints": _q_simhash_fingerprints,
        "simhash_near_dups": _q_simhash_near_dups,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "contamination_overlap": _q_contamination_overlap,
        "dedup_clusters": _q_dedup_clusters,
        "leakage_safe_split": _q_leakage_safe_split,
        "embedding_near_dups": _q_embedding_near_dups,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_binary_hamming": _q_ann_binary_hamming,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "embedding_kmeans": _q_embedding_kmeans,
        "semantic_dedup": _q_semantic_dedup,
        "nb_lang_classify": _q_nb_lang_classify,
        "dsir_sample": _q_dsir_sample,
        "bloom_contamination": _q_bloom_contamination,
        "temperature_mix": _q_temperature_mix,
        "dup_graph_pagerank": _q_dup_graph_pagerank,
        "cm_word_counts": _q_cm_word_counts,
        "ann_ivfpq_topk": _q_ann_ivfpq_topk,
        "vocab_prune_remap": _q_vocab_prune_remap,
        "packed_sequences": _q_packed_sequences,
        "uncorroborated_events": _q_uncorroborated_events,
        "nb_confusion": _q_nb_confusion,
        "skipgram_cooc": _q_skipgram_cooc,
        "token_sequence_stats": _q_token_sequence_stats,
        "span_corruption": _q_span_corruption,
        "mlm_masking": _q_mlm_masking,
        "fim_transform": _q_fim_transform,
        "ann_pq_topk": _q_ann_pq_topk,
        "ann_pq_rescored": _q_ann_pq_rescored,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        "language_id": _q_language_id,
        "quality_scores": _q_quality_scores,
        "token_counts": _q_token_counts,
        "word_bigram_counts": _q_word_bigram_counts,
        "fingerprints": _q_fingerprints,
        "pii_counts": _q_pii_counts,
        "quality_gate": _q_quality_gate,
        "corpus_stats": _q_corpus_stats,
        "chunked_contexts": _q_chunked_contexts,
        "embedding_centroids": _q_embedding_centroids,
        "doc_cross_entropy": _q_doc_cross_entropy,
        "bigram_perplexity": _q_bigram_perplexity,
        "pmi_collocations": _q_pmi_collocations,
        "repetition_stats": _q_repetition_stats,
        "stratified_sample": _q_stratified_sample,
        "shard_manifest": _q_shard_manifest,
        "sample_k_per_lang": _q_sample_k_per_lang,
        "curated_mix": _q_curated_mix,
        "pack_assignments": _q_pack_assignments,
        "intersect_users": _q_intersect_users,
        "except_quality_docs": _q_except_quality_docs,
        "anti_join_inactive": _q_anti_join_inactive,
        "grouping_sets_counts": _q_grouping_sets_counts,
        "percent_rank_prices": _q_percent_rank_prices,
        "above_avg_orders": _q_above_avg_orders,
        "json_props_stats": _q_json_props_stats,
        "trailing_value_sums": _q_trailing_value_sums,
        "value_change_lag": _q_value_change_lag,
        "cube_counts": _q_cube_counts,
        "salted_source_counts": _q_salted_source_counts,
        "media_features": _q_media_features,
        "media_decode_features": _q_media_decode_features,
        "media_resize_fingerprints": _q_media_resize_fingerprints,
        "media_frame_fingerprints": _q_media_frame_fingerprints,
        "theme_top_words": _q_theme_top_words,
        "theme_salient_words": _q_theme_salient_words,
        "theme_strength_slice": _q_theme_strength_slice,
        "strength_series": _q_strength_series,
        "top_docs_per_theme": _q_top_docs_per_theme,
        "detect_events": _q_detect_events,
        "evolution_edges": _q_evolution_edges,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_WORDS_CTE = (
    "WITH words AS (SELECT doc_id, unnest(list_filter("
    "string_split_regex(lower(text), '[^a-z]+'), w -> w <> '')) AS word "
    "FROM documents)"
)

# NB train-on-%5!=0 / score-held-out scores, shared by the classify
# and confusion oracles; ends with CTE `pred` = per-doc argmax verdict
_NB_SCORES_CTE = """
    WITH tw AS (
      SELECT lang AS label,
             unnest(list_filter(string_split_regex(lower(text),
                    '[^a-z]+'), w -> w <> '')) AS word
      FROM documents WHERE doc_id % 5 <> 0),
    wc AS (SELECT label, word, count(*) AS c FROM tw GROUP BY 1, 2),
    v AS (SELECT count(DISTINCT word) AS v FROM wc),
    den AS (
      SELECT label, sum(c)::DOUBLE + 1.0 * (SELECT v FROM v) AS den
      FROM wc GROUP BY label),
    cond AS (
      SELECT wc.label, word, ln((c + 1.0) / den) AS log_cond
      FROM wc JOIN den ON wc.label = den.label),
    dc AS (SELECT lang AS label, count(*)::DOUBLE AS nd
           FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
    priors AS (
      SELECT dc.label,
             ln(nd / (SELECT sum(nd) FROM dc)) AS log_prior,
             ln(1.0 / den) AS log_default
      FROM dc JOIN den ON dc.label = den.label),
    dwc AS (
      SELECT doc_id, word, count(*) AS n
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text),
                          '[^a-z]+'), w -> w <> '')) AS word
            FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2),
    vw AS (SELECT DISTINCT word FROM cond),
    scores AS (
      SELECT dwc.doc_id, p.label,
             sum(dwc.n * coalesce(cond.log_cond, p.log_default))
             + any_value(p.log_prior) AS score
      FROM dwc
      JOIN vw ON dwc.word = vw.word
      CROSS JOIN priors p
      LEFT JOIN cond ON cond.label = p.label
                    AND cond.word = dwc.word
      GROUP BY 1, 2),
    all_scores AS (
      SELECT * FROM scores
      UNION ALL
      SELECT d.doc_id, p.label, p.log_prior AS score
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0
            AND doc_id NOT IN (SELECT DISTINCT doc_id
                               FROM scores)) d
      CROSS JOIN priors p),
    pred AS (
      SELECT doc_id, label AS pred_label, round(score, 4) AS score
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, label ASC) AS rk
            FROM all_scores)
      WHERE rk = 1)
"""

_SHINGLES_CTE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    CASE WHEN len(ws) < 3 THEN array_to_string(ws, ' ')
         ELSE ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] END AS shingle
  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
)
"""


def _temperature_mix_sql() -> str:
    # fractions derive from the SAME Python math the query path runs
    # (temperature_mix_fractions), over counts read from the identical
    # parquet — thresholds match by construction
    import duckdb

    from bigdata_event_stream_detection_spark.operators.sampling import (
        sample_threshold, temperature_mix_fractions,
    )

    counts = dict(duckdb.sql(
        f"SELECT lang, count(*) FROM "
        f"'{_ORACLE_SF_DIR}/documents.parquet' GROUP BY 1").fetchall())
    fracs = temperature_mix_fractions(counts, alpha=0.5)
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {sample_threshold(f)}"
        for v, f in sorted(fracs.items()))
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE CAST(concat('0x', substr(md5(
                  concat_ws('|', 'tmix', CAST(doc_id AS VARCHAR))
              ), 1, 15)) AS BIGINT)
              < (CASE {cases} ELSE 0 END)
    """


def _leakage_safe_split_sql() -> str:
    # the dedup_clusters recursive-CC chain (kept in lockstep with that
    # oracle) + hash_split's md5 CASE, keyed on cluster_id
    from bigdata_event_stream_detection_spark.operators.sampling import (
        sample_threshold,
    )

    t1, t2 = sample_threshold(0.8), sample_threshold(0.8 + 0.1)
    h60 = "CAST(concat('0x', substr(md5({0}), 1, 15)) AS BIGINT)"
    return _SHINGLES_CTE.replace(
        "WITH w AS", "WITH RECURSIVE w AS", 1) + f"""
        , hashed AS (
          SELECT doc_id,
                 {h60.format("shingle")} % 35184372088832 AS h
          FROM sh
        ), seeded AS (
          SELECT doc_id, seed,
                 min((h * ((seed * 2 + 1) * 12347) + seed * 7919)
                     % 35184372088832) AS minhash
          FROM hashed, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
          GROUP BY doc_id, seed
        ), bands AS (
          SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
                 string_agg(CAST(minhash AS VARCHAR), ','
                            ORDER BY seed) AS band_sig
          FROM seeded GROUP BY 1, 2
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
        ), edges AS (
          SELECT doc1 AS src, doc2 AS dst FROM pairs
          UNION SELECT doc2, doc1 FROM pairs
        ), reach(node, r) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          UNION
          SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
        ), cc AS (
          SELECT node, min(r) AS cid FROM reach GROUP BY node
        ), clustered AS (
          SELECT d.doc_id, coalesce(cc.cid, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
        )
        SELECT doc_id, cluster_id,
               CASE WHEN h < {t1} THEN 'train'
                    WHEN h < {t2} THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, cluster_id,
                     CAST(concat('0x', substr(md5(
                         concat_ws('|', 'split',
                                   CAST(cluster_id AS VARCHAR))
                     ), 1, 15)) AS BIGINT) AS h
              FROM clustered)
    """


def _hash_split_sql() -> str:
    from bigdata_event_stream_detection_spark.operators.sampling import (
        sample_threshold,
    )

    t1, t2 = sample_threshold(0.8), sample_threshold(0.8 + 0.1)
    return f"""
        SELECT doc_id,
               CASE WHEN h < {t1} THEN 'train'
                    WHEN h < {t2} THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(concat('0x', substr(md5(
                         concat_ws('|', 'split', CAST(doc_id AS VARCHAR))
                     ), 1, 15)) AS BIGINT) AS h
              FROM documents)
    """


def _stratified_sample_sql() -> str:
    from bigdata_event_stream_detection_spark.operators.sampling import (
        sample_threshold,
    )

    cases = " ".join(
        f"WHEN lang = '{v}' THEN {sample_threshold(f)}"
        for v, f in sorted(_MIX_FRACTIONS.items()))
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE CAST(concat('0x', substr(md5(
                  concat_ws('|', 'sample', CAST(doc_id AS VARCHAR))
              ), 1, 15)) AS BIGINT)
              < (CASE {cases} ELSE 0 END)
    """


def _curated_mix_sql() -> str:
    # composes the (individually proven) quality / dedup / contamination
    # / sampling / packing oracle fragments over the same % 20 split
    from bigdata_event_stream_detection_spark.operators.sampling import (
        sample_threshold,
    )

    cases = " ".join(
        f"WHEN lang = '{v}' THEN {sample_threshold(f)}"
        for v, f in sorted(_MIX_FRACTIONS.items()))
    return _SHINGLES_CTE + f"""
        , pool AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
        wq AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             x -> x <> '') AS ws
          FROM pool),
        feats AS (
          SELECT doc_id,
            len(ws) AS n_words,
            (length(text) - length(regexp_replace(text,
                '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
              / greatest(length(text), 1) AS pr,
            len(list_filter(ws, x -> x IN ('the','a','and','of','to','in',
                'is','on','for','with')))::DOUBLE
              / greatest(len(ws), 1) AS sr
          FROM wq),
        q AS (
          SELECT doc_id FROM feats
          WHERE round(least(n_words / 100.0, 1.0) * 0.4
                      + (1.0 - least(pr * 5.0, 1.0)) * 0.3
                      + least(sr * 5.0, 1.0) * 0.3, 6) >= 0.5),
        keep AS (SELECT min(doc_id) AS doc_id FROM pool GROUP BY md5(text)),
        cont AS (
          SELECT t.doc_id,
                 sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0
                     END)::DOUBLE / count(*) AS frac
          FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) t
          LEFT JOIN (SELECT DISTINCT shingle FROM sh
                     WHERE doc_id % 20 = 0) e
            ON t.shingle = e.shingle
          GROUP BY t.doc_id),
        bad AS (SELECT doc_id FROM cont WHERE round(frac, 6) > 0.2),
        cur AS (
          SELECT p.* FROM pool p
          JOIN q USING (doc_id) JOIN keep USING (doc_id)
          WHERE p.doc_id NOT IN (SELECT doc_id FROM bad)),
        samp AS (
          SELECT * FROM cur
          WHERE CAST(concat('0x', substr(md5(
                    concat_ws('|', 'sample', CAST(doc_id AS VARCHAR))
                ), 1, 15)) AS BIGINT)
                < (CASE {cases} ELSE 0 END))
        SELECT doc_id, source, lang, n_chars,
               CAST(floor((sum(n_chars) OVER (PARTITION BY source
                                              ORDER BY doc_id)
                           - n_chars) / {_PACK_BUDGET}) AS INT) AS pack_id
        FROM samp
    """


def oracle_sql() -> dict[str, str]:
    h60 = "CAST(concat('0x', substr(md5({0}), 1, 15)) AS BIGINT)"
    return {
        "word_count": _WORDS_CTE + """
            SELECT word, count(*) AS cnt FROM words
            GROUP BY word HAVING count(*) >= 5
        """,
        "word_count_histogram": _WORDS_CTE + """
            , wc AS (SELECT word, count(*) AS cnt FROM words GROUP BY word)
            SELECT cnt AS occurrences, count(*) AS n_words FROM wc GROUP BY cnt
        """,
        "background_model": _WORDS_CTE + """
            , wc AS (SELECT word, count(*) AS cnt FROM words
                     GROUP BY word HAVING count(*) >= 5)
            SELECT word, cnt, round(cnt / (SELECT sum(cnt) FROM wc), 6) AS p
            FROM wc
        """,
        "windowed_event_counts": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws_epoch,
                   event_type, count(*) AS n,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "funnel_conversion": """
            WITH s0 AS (
              SELECT user_id, min(ts) AS t0 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s1 AS (
              SELECT e.user_id, min(e.ts) AS t1
              FROM events e JOIN s0 USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
            SELECT (SELECT count(*) FROM s0)::BIGINT AS n_step1,
                   (SELECT count(*) FROM s1)::BIGINT AS n_step2,
                   (SELECT count(*) FROM s2)::BIGINT AS n_step3
        """,
        "heavy_hitter_words": _WORDS_CTE + """
            SELECT word, count(*)::BIGINT AS cnt FROM words
            GROUP BY 1
            HAVING count(*) >= ceil(0.005 * (SELECT count(*) FROM words))
        """,
        "approx_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id)::BIGINT AS n_exact,
                   true AS within_tol
            FROM events GROUP BY 1
        """,
        "tfidf_top_terms": _WORDS_CTE + """
            , wc AS (SELECT doc_id, word, count(*)::DOUBLE AS tf
                     FROM words GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(tf) AS len FROM wc GROUP BY 1),
            dfx AS (SELECT word, count(*)::DOUBLE AS df FROM wc GROUP BY 1),
            nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT wc.doc_id, wc.word,
                     (wc.tf / dl.len)
                     * (ln((nd.n_docs + 1.0) / (dfx.df + 1.0)) + 1.0)
                       AS score
              FROM wc JOIN dl USING (doc_id)
                      JOIN dfx USING (word) CROSS JOIN nd),
            ranked AS (
              SELECT doc_id, word, score,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, word) AS rank
              FROM scored)
            SELECT doc_id, rank::INTEGER AS rank, word,
                   round(score, 6) AS score
            FROM ranked WHERE rank <= 5
        """,
        "funnel_times_within": """
            WITH s0 AS (
              SELECT user_id, min(ts) AS t0 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s1 AS (
              SELECT e.user_id, min(e.ts) AS t1
              FROM events e JOIN s0 USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > s0.t0
                AND epoch_us(e.ts) - epoch_us(s0.t0) <= 172800000000
              GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id) JOIN s0 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s1.t1
                AND epoch_us(e.ts) - epoch_us(s0.t0) <= 172800000000
              GROUP BY 1)
            SELECT s0.user_id, epoch_us(t0) AS t0_us,
                   epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us
            FROM s0 LEFT JOIN s1 USING (user_id)
                    LEFT JOIN s2 USING (user_id)
        """,
        "absence_patterns": """
            WITH ranked AS (
              SELECT *, row_number() OVER w AS rn FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            fwd AS (
              SELECT *,
                min(CASE WHEN event_type = 'purchase' THEN rn END)
                  OVER w2 AS then_rn,
                min(CASE WHEN event_type = 'purchase' THEN ts END)
                  OVER w2 AS then_ts,
                min(CASE WHEN event_type = 'error' THEN rn END)
                  OVER w2 AS wo_rn
              FROM ranked
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 1 FOLLOWING
                            AND UNBOUNDED FOLLOWING))
            SELECT user_id, event_id AS first_event_id,
                   epoch_us(ts) AS first_ts_us,
                   epoch_us(then_ts) AS then_ts_us,
                   round(date_diff('microsecond', ts, then_ts) / 1e6, 6)
                     AS gap_sec
            FROM fwd
            WHERE event_type = 'view' AND then_rn IS NOT NULL
              AND (wo_rn IS NULL OR then_rn < wo_rn)
              AND date_diff('microsecond', ts, then_ts)
                  <= 86400::BIGINT * 1000000
        """,
        "timeout_alerts": """
            WITH fwd AS (
              SELECT *,
                min(CASE WHEN event_type = 'purchase' THEN ts END)
                  OVER w2 AS then_ts,
                min(CASE WHEN event_type = 'error' THEN ts END)
                  OVER w2 AS unless_ts
              FROM events
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 1 FOLLOWING
                            AND UNBOUNDED FOLLOWING))
            SELECT user_id, event_id AS first_event_id,
                   epoch_us(ts) AS first_ts_us,
                   epoch_us(ts) + 14400000000 AS deadline_us
            FROM fwd
            WHERE event_type = 'view'
              AND (then_ts IS NULL OR
                   date_diff('microsecond', ts, then_ts)
                   > 14400::BIGINT * 1000000)
              AND (unless_ts IS NULL OR
                   date_diff('microsecond', ts, unless_ts)
                   > 14400::BIGINT * 1000000)
        """,
        "pivot_event_values": """
            SELECT user_id,
              round(sum(CASE WHEN event_type = 'click' THEN value END), 6)
                AS click,
              round(sum(CASE WHEN event_type = 'error' THEN value END), 6)
                AS error,
              round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6)
                AS purchase,
              round(sum(CASE WHEN event_type = 'signup' THEN value END), 6)
                AS signup,
              round(sum(CASE WHEN event_type = 'view' THEN value END), 6)
                AS view
            FROM events GROUP BY user_id
        """,
        "asof_purchase_click": """
            WITH p AS (SELECT event_id, user_id, ts, value
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts, value
                  FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.user_id, p.ts,
                   c.ts AS right_ts, c.value AS right_value
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "interval_error_purchase": """
            WITH e AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'error'),
            p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
            SELECT e.user_id, e.event_id,
                   p.event_id AS right_event_id,
                   round((epoch_us(p.ts) - epoch_us(e.ts)) / 1000000.0, 6)
                     AS dt_sec
            FROM e JOIN p ON e.user_id = p.user_id
             AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 1800000000
        """,
        "error_runs": """
            WITH o AS (
              SELECT user_id, event_id, ts, event_type,
                     lag(event_type) OVER w AS prev_type,
                     lag(ts) OVER w AS prev_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), h AS (
              SELECT *, CASE WHEN event_type = 'error'
                          AND (prev_type IS DISTINCT FROM 'error'
                               OR epoch_us(ts) - epoch_us(prev_ts)
                                  > 7200000000) THEN 1 ELSE 0 END AS hd
              FROM o
            ), r AS (
              SELECT *, sum(hd) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS run_id
              FROM h
            )
            SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
                   CAST(count(*) AS BIGINT) AS run_len
            FROM r WHERE event_type = 'error'
            GROUP BY user_id, run_id
            HAVING count(*) >= 2
        """,
        "icelite_merge_snapshot": """
            WITH merged AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 3 = 0
                          THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 9 <> 0
              UNION ALL
              SELECT o_orderkey + 100000000, 'Z', o_totalprice
              FROM orders WHERE o_orderkey % 1000 = 0
            )
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM merged GROUP BY 1
        """,
        "icelite_wap_gated": """
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY 1
        """,
        "icelite_time_travel": """
            SELECT 2 AS version, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT 3, count(*), round(sum(o_totalprice), 2)
            FROM orders
        """,
        "icelite_pruned_scan": """
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders WHERE o_orderkey BETWEEN 1000 AND 20000
            GROUP BY 1
        """,
        "icelite_partitioned_prune": """
            SELECT 'user' AS leg, event_type AS grp, count(*) AS n,
                   round(sum(value), 2) AS total
            FROM events WHERE user_id = 42 GROUP BY 2
            UNION ALL
            SELECT 'days', CAST(CAST(ts AS DATE) AS VARCHAR), count(*),
                   round(sum(value), 2)
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05'
              AND ts < TIMESTAMP '2024-01-08'
            GROUP BY 2
        """,
        "icelite_mv_refresh": """
            WITH merged AS (
              SELECT o_orderkey, o_orderstatus
              FROM orders WHERE o_orderkey % 9 <> 0
              UNION ALL
              SELECT o_orderkey + 100000000, 'Z'
              FROM orders WHERE o_orderkey % 1000 = 0
            )
            SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_key
            FROM merged GROUP BY 1
        """,
        "icelite_mv_filtered": """
            WITH merged AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 3 = 0
                          THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 9 <> 0
              UNION ALL
              SELECT o_orderkey + 100000000, 'Z', o_totalprice
              FROM orders WHERE o_orderkey % 1000 = 0
            )
            SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_key
            FROM merged WHERE o_totalprice > 1000
            GROUP BY 1
        """,
        "icelite_files_metadata": """
            SELECT o_orderstatus,
                   count(*) AS n_rows,
                   CAST(2 AS BIGINT) AS n_files,
                   CAST(min(o_orderkey) AS BIGINT) AS min_key,
                   CAST(max(o_orderkey) AS BIGINT) AS max_key
            FROM orders GROUP BY o_orderstatus
        """,
        "icelite_mor_merge_snapshot": """
            WITH merged AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 3 = 0
                          THEN o_totalprice + 100.0
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 9 <> 0
              UNION ALL
              SELECT o_orderkey + 100000000, 'Z', o_totalprice
              FROM orders WHERE o_orderkey % 1000 = 0
            )
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM merged GROUP BY 1
        """,
        "icelite_delete_where": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS total
            FROM events
            WHERE NOT (ts >= TIMESTAMP '2024-01-05'
                       AND ts < TIMESTAMP '2024-01-10')
              AND NOT (user_id BETWEEN 100 AND 200)
            GROUP BY 1
        """,
        "icelite_delta_cdc_snapshot": """
            WITH c AS (
              SELECT user_id, ts, event_id, event_type, value,
                     CASE WHEN event_type = 'signup' THEN 'I'
                          WHEN event_type = 'error' THEN 'D'
                          ELSE 'U' END AS op
              FROM events),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM c)
            SELECT user_id, event_type, value,
                   ts AS last_ts, event_id AS last_id
            FROM r WHERE rn = 1 AND op <> 'D'
        """,
        "icelite_rename_evolution": """
            WITH t AS (
              SELECT o_orderstatus,
                     CASE WHEN o_orderkey % 10 = 5
                          THEN o_totalprice + 1
                          ELSE o_totalprice END AS price
              FROM orders
              WHERE o_orderkey % 10 <> 0
            )
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(price), 2) AS total
            FROM t
            WHERE price >= 100000.0
            GROUP BY 1
        """,
        "icelite_table_changes": """
            WITH upd AS (
              SELECT * FROM events WHERE event_id % 7 = 0),
            changes AS (
              SELECT 'insert' AS change_type, event_type, value
              FROM events
              UNION ALL
              SELECT 'insert', event_type, value + 1000.0
              FROM upd WHERE event_id % 21 <> 0
              UNION ALL
              SELECT 'delete', event_type, value FROM upd
              UNION ALL
              SELECT 'delete', event_type,
                     CASE WHEN event_id % 7 = 0 THEN value + 1000.0
                          ELSE value END
              FROM events
              WHERE event_id % 21 <> 0
                AND ts >= TIMESTAMP '2024-01-05'
                AND ts < TIMESTAMP '2024-01-10')
            SELECT change_type, event_type, count(*) AS n,
                   round(sum(value), 2) AS total
            FROM changes GROUP BY 1, 2
        """,
        "latest_user_state": """
            WITH c AS (
              SELECT user_id, ts, event_id, event_type, value,
                     CASE WHEN event_type = 'signup' THEN 'I'
                          WHEN event_type = 'error' THEN 'D'
                          ELSE 'U' END AS op
              FROM events),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM c)
            SELECT user_id, event_type, value,
                   ts AS last_ts, event_id AS last_id
            FROM r WHERE rn = 1 AND op <> 'D'
        """,
        "scd2_user_history": """
            WITH c AS (
              SELECT user_id, ts, event_id, event_type, value,
                     CASE WHEN event_type = 'signup' THEN 'I'
                          WHEN event_type = 'error' THEN 'D'
                          ELSE 'U' END AS op
              FROM events),
            v AS (
              SELECT user_id, op, event_type, value,
                     ts AS valid_from, event_id AS change_id,
                     row_number() OVER w AS version,
                     lead(ts) OVER w AS valid_to
              FROM c
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, version, change_id, event_type, value,
                   valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM v WHERE op <> 'D'
        """,
        "expectation_summary": """
            WITH t AS (
              SELECT count(*) AS n_rows,
                CAST(sum(CASE WHEN NOT coalesce(value >= 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS v0,
                CAST(sum(CASE WHEN NOT coalesce(value <= 200, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                CAST(sum(CASE WHEN NOT coalesce(event_type IN
                         ('click', 'view', 'purchase', 'signup'),
                         FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                CAST(sum(CASE WHEN ts IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS v3
              FROM events
            )
            SELECT c.expectation, t.n_rows, c.n_violations,
                   round(c.n_violations * 1.0
                         / greatest(t.n_rows, 1), 6) AS violation_rate,
                   c.n_violations = 0 AS passed
            FROM t, LATERAL (VALUES
              ('value_nonneg', t.v0), ('value_reasonable', t.v1),
              ('type_known', t.v2), ('ts_present', t.v3))
              AS c(expectation, n_violations)
        """,
        "absence_rule_matches": """
            WITH rules(rule_id, first_type, then_type, without_type,
                       horizon_us) AS (VALUES
              ('r1', 'view', 'purchase', 'error', 1800000000::BIGINT),
              ('r2', 'click', 'signup', 'view', 600000000::BIGINT),
              ('r3', 'error', 'error', 'purchase', 900000000::BIGINT)),
            member AS (
              SELECT DISTINCT rule_id, et FROM (
                SELECT rule_id, unnest([first_type, then_type,
                                        without_type]) AS et
                FROM rules)),
            tagged AS (
              SELECT e.user_id, m.rule_id, e.event_id, e.ts,
                     e.event_type, r.first_type, r.then_type,
                     r.without_type, r.horizon_us
              FROM events e
              JOIN member m ON e.event_type = m.et
              JOIN rules r ON r.rule_id = m.rule_id),
            ranked AS (
              SELECT *, row_number() OVER w AS rn FROM tagged
              WINDOW w AS (PARTITION BY user_id, rule_id
                           ORDER BY ts, event_id)),
            fwd AS (
              SELECT *,
                min(CASE WHEN event_type = then_type THEN rn END)
                  OVER w2 AS then_rn,
                min(CASE WHEN event_type = then_type THEN ts END)
                  OVER w2 AS then_ts,
                min(CASE WHEN event_type = without_type THEN rn END)
                  OVER w2 AS wo_rn
              FROM ranked
              WINDOW w2 AS (PARTITION BY user_id, rule_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 1 FOLLOWING
                            AND UNBOUNDED FOLLOWING))
            SELECT user_id, rule_id, event_id AS first_event_id,
                   ts AS first_ts, then_ts,
                   round(date_diff('microsecond', ts, then_ts) / 1e6, 6)
                     AS gap_sec
            FROM fwd
            WHERE event_type = first_type AND then_rn IS NOT NULL
              AND (wo_rn IS NULL OR then_rn < wo_rn)
              AND date_diff('microsecond', ts, then_ts) <= horizon_us
        """,
        "expectation_violations": """
            SELECT event_id, 'value_reasonable' AS expectation
            FROM events WHERE NOT coalesce(value <= 200, FALSE)
            UNION ALL
            SELECT event_id, 'type_known' AS expectation
            FROM events WHERE NOT coalesce(event_type IN
              ('click', 'view', 'purchase', 'signup'), FALSE)
        """,
        "timeout_rule_alerts": """
            WITH rules(rule_id, first_type, then_type, horizon_us) AS (
              VALUES
                ('err_no_purchase', 'error', 'purchase',
                 1800000000::BIGINT),
                ('view_no_click', 'view', 'click', 600000000::BIGINT),
                ('no_repeat_signup', 'signup', 'signup',
                 3600000000::BIGINT)
            )
            SELECT e.user_id, r.rule_id, e.event_id AS first_event_id,
                   e.ts AS first_ts,
                   e.ts + to_microseconds(r.horizon_us) AS deadline_ts
            FROM events e JOIN rules r ON e.event_type = r.first_type
            WHERE NOT EXISTS (
              SELECT 1 FROM events s
              WHERE s.user_id = e.user_id
                AND s.event_type = r.then_type
                AND (s.ts > e.ts
                     OR (s.ts = e.ts AND s.event_id > e.event_id))
                AND epoch_us(s.ts) - epoch_us(e.ts) <= r.horizon_us)
        """,
        "burst_windows": """
            WITH c AS (
              SELECT event_type,
                     CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                       AS ws_epoch,
                     count(*) AS n
              FROM events GROUP BY 1, 2),
            b AS (
              SELECT *, avg(n) OVER (PARTITION BY event_type
                                     ORDER BY ws_epoch
                                     ROWS BETWEEN 6 PRECEDING
                                          AND 1 PRECEDING) AS base
              FROM c)
            SELECT event_type, ws_epoch, n,
                   round(base, 6) AS baseline,
                   round(n / base, 6) AS lift
            FROM b
            WHERE base IS NOT NULL AND n >= base * 1.5
        """,
        "cusum_changepoints": """
            WITH c AS (
              SELECT event_type,
                     CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                       AS ws_epoch,
                     count(*) AS n
              FROM events GROUP BY 1, 2),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY ws_epoch) AS rn
              FROM c),
            m AS (
              SELECT *, avg(CASE WHEN rn <= 6 THEN n END) OVER
                          (PARTITION BY event_type) AS mu
              FROM r),
            p AS (
              SELECT *, sum(n - mu * 1.25) OVER
                          (PARTITION BY event_type ORDER BY ws_epoch
                           ROWS UNBOUNDED PRECEDING) AS p
              FROM m WHERE rn > 6),
            s AS (
              SELECT *, p - least(0.0, min(p) OVER
                          (PARTITION BY event_type ORDER BY ws_epoch
                           ROWS UNBOUNDED PRECEDING)) AS s
              FROM p)
            SELECT event_type, ws_epoch, n,
                   round(s, 6) AS cusum, round(mu, 6) AS target
            FROM s WHERE s > mu * 2.0
        """,
        "value_quantile_sketch": """
            WITH b AS (
              SELECT event_type,
                     CAST(floor(value / 1.0) AS BIGINT) AS bin,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2),
            c AS (
              SELECT *,
                     CAST(sum(cnt) OVER (PARTITION BY event_type)
                          AS BIGINT) AS n,
                     CAST(sum(cnt) OVER (PARTITION BY event_type
                                         ORDER BY bin
                                         ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cum
              FROM b),
            qq AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
            e AS (
              SELECT c.event_type, qq.q, c.n, c.bin,
                     round(c.bin * 1.0
                           + 1.0 * (qq.q * c.n - (c.cum - c.cnt))
                             / c.cnt, 6) AS est
              FROM c CROSS JOIN qq
              WHERE c.cum >= qq.q * c.n
                AND c.cum - c.cnt < qq.q * c.n),
            x AS (
              SELECT event_type,
                     unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q,
                     unnest(quantile_disc(value, [0.5, 0.9, 0.99]))
                       AS exact
              FROM events GROUP BY event_type)
            SELECT e.event_type, e.q, e.n, e.est,
                   round(x.exact, 6) AS exact,
                   CAST(floor(x.exact / 1.0) AS BIGINT) = e.bin
                     AS within_bin
            FROM e JOIN x USING (event_type, q)
        """,
        "duplicate_spans": """
            WITH w AS (
              SELECT doc_id, list_filter(
                       string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS ws
              FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS gpos,
                     CAST(concat('0x', substr(md5(
                       array_to_string(ws[i:i+7], ' ')), 1, 15))
                       AS BIGINT) AS gram_h
              FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
            dup AS (
              SELECT gram_h FROM g GROUP BY 1
              HAVING count(DISTINCT doc_id) >= 2),
            h AS (SELECT g.doc_id, g.gpos FROM g JOIN dup USING (gram_h)),
            cov AS (
              SELECT doc_id, count(*) AS dup_tokens FROM (
                SELECT DISTINCT doc_id, gpos + j AS pos
                FROM h, unnest(range(0, 8)) AS u(j))
              GROUP BY 1),
            pg AS (SELECT doc_id, count(*) AS dup_grams FROM h GROUP BY 1),
            tot AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
                    FROM w)
            SELECT t.doc_id, t.n_tokens,
                   coalesce(pg.dup_grams, 0) AS dup_grams,
                   coalesce(cov.dup_tokens, 0) AS dup_tokens,
                   CASE WHEN t.n_tokens > 0
                        THEN round(coalesce(cov.dup_tokens, 0)
                                   / t.n_tokens, 6)
                        ELSE 0.0 END AS dup_fraction
            FROM tot t LEFT JOIN pg USING (doc_id)
                       LEFT JOIN cov USING (doc_id)
        """,
        "remove_duplicate_spans": """
            WITH w AS (
              SELECT doc_id, list_filter(
                       string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS ws
              FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS gpos,
                     CAST(concat('0x', substr(md5(
                       array_to_string(ws[i:i+7], ' ')), 1, 15))
                       AS BIGINT) AS gram_h
              FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
            dup AS (
              SELECT gram_h FROM g GROUP BY 1
              HAVING count(DISTINCT doc_id) >= 2),
            cov AS (
              SELECT DISTINCT doc_id, gpos + j AS pos
              FROM g JOIN dup USING (gram_h), unnest(range(0, 8)) AS u(j)),
            toks AS (
              SELECT doc_id, i - 1 AS pos, ws[i] AS word
              FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
            kept AS (
              SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     md5(string_agg(t.word, ' ' ORDER BY t.pos))
                       AS clean_fingerprint
              FROM toks t ANTI JOIN cov
                ON t.doc_id = cov.doc_id AND t.pos = cov.pos
              GROUP BY t.doc_id)
            SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
                   coalesce(kept.n_kept, 0) AS n_kept,
                   coalesce(kept.clean_fingerprint, md5(''))
                     AS clean_fingerprint
            FROM w LEFT JOIN kept USING (doc_id)
        """,
        "sliding_window_counts": """
            SELECT (CAST(floor(epoch(ts) / 1800) AS BIGINT) - i) * 1800 AS ws_epoch,
                   event_type, count(*) AS n
            FROM events, UNNEST([0, 1]) AS t(i)
            GROUP BY 1, 2
        """,
        "session_windows": """
            WITH g AS (
              SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
                     CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                               > 600 THEN 1 ELSE 0 END AS brk
              FROM events
            ), s AS (
              SELECT user_id, e,
                     CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY e
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_id
              FROM g
            )
            SELECT user_id, session_id, min(e) AS session_start_epoch,
                   count(*) AS n_events
            FROM s GROUP BY user_id, session_id
        """,
        "topk_event_types_per_user": """
            WITH c AS (SELECT user_id, event_type, count(*) AS n
                       FROM events GROUP BY 1, 2)
            SELECT * FROM (
              SELECT user_id, event_type, n,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY n DESC, event_type ASC) AS rank
              FROM c) WHERE rank <= 3
        """,
        "argmax_event_type": """
            WITH s AS (SELECT user_id, event_type,
                              round(sum(value), 6) AS total
                       FROM events GROUP BY 1, 2)
            SELECT user_id, event_type, total FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY total DESC, event_type ASC) AS rn FROM s)
            WHERE rn = 1
        """,
        "semi_join_filter": """
            SELECT l_returnflag, count(*) AS n,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                              AS DOUBLE), 6) AS sum_qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
            GROUP BY l_returnflag
        """,
        "revenue_per_nation": """
            SELECT n_name AS nation, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DOUBLE), 6) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "order_priority_histogram": """
            SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1
        """,
        "moving_avg_counts": """
            WITH h AS (
              SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws_epoch,
                     event_type, count(*) AS n
              FROM events GROUP BY 1, 2)
            SELECT ws_epoch, event_type, n,
                   round(avg(n) OVER (PARTITION BY event_type ORDER BY ws_epoch
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
                   AS smoothed
            FROM h
        """,
        "ntile_split": """
            WITH t AS (
              SELECT event_type, value,
                     ntile(4) OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS tile
              FROM events)
            SELECT event_type, tile, count(*) AS n,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM t GROUP BY 1, 2
        """,
        "union_high_value": """
            SELECT user_id, count(*) AS n FROM (
              SELECT user_id FROM events
              WHERE event_type = 'click' AND value > 50
              UNION ALL
              SELECT user_id FROM events WHERE event_type = 'error')
            GROUP BY user_id
        """,
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        """,
        "top_users_by_value": """
            SELECT user_id,
                   round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
                   AS total
            FROM events GROUP BY user_id
            ORDER BY total DESC, user_id ASC LIMIT 10
        """,
        "rollup_counts": """
            SELECT event_type, count(*) AS n FROM events
            GROUP BY ROLLUP(event_type)
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash_lsh": _SHINGLES_CTE + f"""
            , hashed AS (
              SELECT doc_id,
                     {h60.format("shingle")} % 35184372088832 AS h
              FROM sh
            ), seeded AS (
              SELECT doc_id, seed,
                     min((h * ((seed * 2 + 1) * 12347) + seed * 7919)
                         % 35184372088832) AS minhash
              FROM hashed, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
              GROUP BY doc_id, seed
            ), bands AS (
              SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
                     string_agg(CAST(minhash AS VARCHAR), ','
                                ORDER BY seed) AS band_sig
              FROM seeded GROUP BY 1, 2
            )
            SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        """,
        # same LSH pair derivation as dedup_minhash_lsh, then the
        # transitive closure (WITH RECURSIVE) -> min reachable id per
        # node; singletons fall back to their own id via the LEFT JOIN
        "dedup_clusters": _SHINGLES_CTE.replace(
            "WITH w AS", "WITH RECURSIVE w AS", 1) + f"""
            , hashed AS (
              SELECT doc_id,
                     {h60.format("shingle")} % 35184372088832 AS h
              FROM sh
            ), seeded AS (
              SELECT doc_id, seed,
                     min((h * ((seed * 2 + 1) * 12347) + seed * 7919)
                         % 35184372088832) AS minhash
              FROM hashed, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
              GROUP BY doc_id, seed
            ), bands AS (
              SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
                     string_agg(CAST(minhash AS VARCHAR), ','
                                ORDER BY seed) AS band_sig
              FROM seeded GROUP BY 1, 2
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_sig = b.band_sig
               AND a.doc_id < b.doc_id
            ), edges AS (
              SELECT doc1 AS src, doc2 AS dst FROM pairs
              UNION SELECT doc2, doc1 FROM pairs
            ), reach(node, r) AS (
              SELECT src, src FROM (SELECT DISTINCT src FROM edges)
              UNION
              SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
            ), cc AS (
              SELECT node, min(r) AS cid FROM reach GROUP BY node
            )
            SELECT d.doc_id,
                   coalesce(cc.cid, d.doc_id) AS cluster_id,
                   CAST(CASE WHEN coalesce(cc.cid, d.doc_id) = d.doc_id
                        THEN 1 ELSE 0 END AS INT) AS is_representative
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
        """,
        "simhash_fingerprints": _WORDS_CTE + f"""
            , wc AS (SELECT doc_id, word, count(*) AS cnt,
                            {h60.format("word")} AS h
                     FROM words GROUP BY doc_id, word),
            votes AS (
              SELECT doc_id, bit,
                     sum(CASE WHEN (h >> bit) & 1 = 1 THEN cnt
                              ELSE -cnt END) AS v
              FROM wc, UNNEST(range(0, 16)) AS b(bit)
              GROUP BY doc_id, bit)
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "simhash_near_dups": _WORDS_CTE + f"""
            , wc AS (SELECT doc_id, word, count(*) AS cnt,
                            {h60.format("word")} AS h
                     FROM words GROUP BY doc_id, word),
            votes AS (
              SELECT doc_id, bit,
                     sum(CASE WHEN (h >> bit) & 1 = 1 THEN cnt
                              ELSE -cnt END) AS v
              FROM wc, UNNEST(range(0, 16)) AS b(bit)
              GROUP BY doc_id, bit),
            sim AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
            banded AS (
              SELECT doc_id, simhash, band,
                     (simhash >> (band * 4)) & 15 AS band_val
              FROM sim, UNNEST(range(0, 4)) AS b(band))
            SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                     AS hamming
            FROM banded a JOIN banded b USING (band, band_val)
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 1
        """,
        "dedup_ngram_jaccard": _SHINGLES_CTE + """
            , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            common AS (
              SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc1, doc2,
                   round(common / (s1.n_sh + s2.n_sh - common), 6) AS jaccard
            FROM common
            JOIN sizes s1 ON s1.doc_id = doc1
            JOIN sizes s2 ON s2.doc_id = doc2
            WHERE common / (s1.n_sh + s2.n_sh - common) >= 0.3
        """,
        "contamination_overlap": _SHINGLES_CTE + """
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN e.shingle IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
                   round(sum(CASE WHEN e.shingle IS NOT NULL
                             THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
                   AS contaminated_frac
            FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) t
            LEFT JOIN (SELECT DISTINCT shingle FROM sh
                       WHERE doc_id % 20 = 0) e
              ON t.shingle = e.shingle
            GROUP BY t.doc_id
        """,
        "bloom_contamination": _SHINGLES_CTE + """
            , hp AS (
              SELECT doc_id, shingle,
                CAST(concat('0x', substr(md5('bloom0|' || shingle),
                     1, 15)) AS BIGINT) % 4096 AS p0,
                CAST(concat('0x', substr(md5('bloom1|' || shingle),
                     1, 15)) AS BIGINT) % 4096 AS p1,
                CAST(concat('0x', substr(md5('bloom2|' || shingle),
                     1, 15)) AS BIGINT) % 4096 AS p2
              FROM sh),
            bits AS (
              SELECT DISTINCT pos FROM (
                SELECT p0 AS pos FROM hp WHERE doc_id % 20 = 0
                UNION ALL
                SELECT p1 FROM hp WHERE doc_id % 20 = 0
                UNION ALL
                SELECT p2 FROM hp WHERE doc_id % 20 = 0))
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(flag) AS BIGINT) AS n_flagged,
                   round(sum(flag)::DOUBLE / count(*), 6)
                   AS flagged_frac
            FROM (SELECT doc_id,
                         CASE WHEN p0 IN (SELECT pos FROM bits)
                               AND p1 IN (SELECT pos FROM bits)
                               AND p2 IN (SELECT pos FROM bits)
                              THEN 1 ELSE 0 END AS flag
                  FROM hp WHERE doc_id % 20 <> 0)
            GROUP BY doc_id
        """,
        "embedding_near_dups": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            p AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))) AS cos
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT id1, id2, round(cos, 6) AS cos FROM p WHERE cos >= 0.4
        """,
        "ann_cosine_topk": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            scored AS (
              SELECT query_id, c.vec_id AS neighbor_id,
                     list_dot_product(qv, c.v)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(c.v, c.v))) AS cos
              FROM q JOIN e c ON c.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        "ann_binary_hamming": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            h AS (
              SELECT query_id, c.vec_id AS neighbor_id, qv, c.v AS cv,
                     list_sum(list_transform(list_zip(qv, c.v),
                       s -> CASE WHEN (s[1] > 0) <> (s[2] > 0)
                            THEN 1 ELSE 0 END)) AS hamming
              FROM q JOIN e c ON c.vec_id <> q.query_id),
            short AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY hamming ASC, neighbor_id ASC) AS hr
                FROM h)
              WHERE hr <= 32),
            sc AS (
              SELECT query_id, neighbor_id,
                     list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))) AS cos
              FROM short)
            SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM sc)
            WHERE rank <= 5
        """,
        "dsir_sample": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z]+'), x -> x <> '') AS ws,
                     doc_id % 10 = 0 AS is_t
              FROM documents),
            feats AS (
              SELECT doc_id, is_t, word AS feat
              FROM (SELECT doc_id, is_t, unnest(ws) AS word
                    FROM w WHERE len(ws) > 0)
              UNION ALL
              SELECT doc_id, is_t,
                     CASE WHEN len(ws) < 2 THEN array_to_string(ws, ' ')
                          ELSE ws[i] || ' ' || ws[i+1] END AS feat
              FROM w, UNNEST(range(1, greatest(len(ws), 2))) AS t(i)
              WHERE len(ws) > 0),
            b AS (
              SELECT doc_id, is_t,
                     CAST(concat('0x', substr(md5(feat), 1, 15))
                          AS BIGINT) % 2048 AS bucket
              FROM feats),
            rc AS (SELECT bucket, count(*) AS cr FROM b
                   WHERE NOT is_t GROUP BY 1),
            tc AS (SELECT bucket, count(*) AS ct FROM b
                   WHERE is_t GROUP BY 1),
            model AS (
              SELECT bucket,
                     ln((coalesce(ct, 0) + 1.0)
                        / ((SELECT sum(ct)::DOUBLE FROM tc)
                           + 1.0 * 2048))
                   - ln((coalesce(cr, 0) + 1.0)
                        / ((SELECT sum(cr)::DOUBLE FROM rc)
                           + 1.0 * 2048)) AS log_ratio
              FROM rc FULL OUTER JOIN tc USING (bucket)),
            db AS (SELECT doc_id, bucket, count(*) AS n FROM b
                   WHERE NOT is_t GROUP BY 1, 2),
            scored AS (
              SELECT doc_id, sum(n * log_ratio) AS lw
              FROM db JOIN model USING (bucket) GROUP BY 1),
            weights AS (
              SELECT d.doc_id,
                     round(coalesce(lw, 0.0), 6) AS log_weight
              FROM (SELECT doc_id FROM documents
                    WHERE doc_id % 10 <> 0) d
              LEFT JOIN scored USING (doc_id))
            SELECT doc_id, log_weight,
                   round(log_weight - ln(-ln(
                     (CAST(CAST(concat('0x', substr(md5(
                        'dsir|' || CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS DOUBLE) + 1.0)
                     / 1152921504606846977.0)), 6) AS sample_key
            FROM weights
            ORDER BY sample_key DESC, doc_id ASC
            LIMIT 50
        """,
        "skipgram_cooc": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[^a-z]+'), x -> x <> '') AS ws
              FROM documents),
            pos AS (
              SELECT doc_id, i AS pos, ws[i] AS word
              FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)
              WHERE len(ws) >= 2)
            SELECT a.word AS w1, b.word AS w2,
                   round(sum(1.0 / (b.pos - a.pos)), 6) AS weight
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + 5
            GROUP BY 1, 2
            HAVING round(sum(1.0 / (b.pos - a.pos)), 6) >= 5.0
        """,
        "uncorroborated_events": """
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS ws,
                     CAST(user_id % 3 AS VARCHAR) AS source,
                     CAST(CAST(concat('0x', substr(md5(event_type),
                          1, 15)) AS BIGINT) % 7 AS INTEGER) AS theme_id,
                     count(*) AS strength
              FROM events GROUP BY 1, 2, 3)
            SELECT CAST(epoch(a.ws) AS BIGINT) AS ws_epoch,
                   a.theme_id, a.source, a.strength
            FROM (SELECT * FROM hourly WHERE strength >= 2) a
            LEFT JOIN (SELECT * FROM hourly WHERE strength >= 2) b
              ON a.ws = b.ws AND a.theme_id = b.theme_id
             AND a.source <> b.source
            WHERE b.source IS NULL
        """,
        "cm_word_counts": _WORDS_CTE + """
            , cells AS (
              SELECT i AS row,
                     CAST(concat('0x', substr(md5(
                        'cm|' || i || '|' || word), 1, 15)) AS BIGINT)
                     % 256 AS bucket,
                     count(*) AS cnt
              FROM words, UNNEST([0, 1, 2, 3]) AS t(i)
              GROUP BY 1, 2),
            exact AS (SELECT word AS value, count(*) AS n_exact
                      FROM words GROUP BY 1),
            probes AS (
              SELECT value, i AS row,
                     CAST(concat('0x', substr(md5(
                        'cm|' || i || '|' || value), 1, 15)) AS BIGINT)
                     % 256 AS bucket
              FROM exact, UNNEST([0, 1, 2, 3]) AS t(i)),
            est AS (
              SELECT value, min(cnt) AS est
              FROM probes JOIN cells USING (row, bucket)
              GROUP BY 1)
            SELECT value, n_exact, est, est >= n_exact AS never_under
            FROM exact JOIN est USING (value)
        """,
        "nb_lang_classify": _NB_SCORES_CTE + """
            SELECT doc_id, pred_label, score FROM pred
        """,
        "nb_confusion": _NB_SCORES_CTE + """
            SELECT d.lang AS true_label, p.pred_label,
                   CAST(count(*) AS BIGINT) AS n
            FROM pred p JOIN documents d USING (doc_id)
            GROUP BY 1, 2
        """,
        "language_id": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            r AS (
              SELECT doc_id,
                len(list_filter(ws, x -> x IN ('the','a','and','of','to','in',
                    'is','on','for','with'))) / greatest(len(ws), 1) AS en,
                len(list_filter(ws, x -> x IN ('le','la','et','de','un','une',
                    'dans','est','pour','sur'))) / greatest(len(ws), 1) AS fr
              FROM w)
            SELECT doc_id, round(en, 6) AS en_ratio, round(fr, 6) AS fr_ratio,
                   CASE WHEN en >= fr THEN 'en' ELSE 'fr' END AS pred_lang
            FROM r
        """,
        "quality_scores": """
            WITH w AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            f AS (
              SELECT doc_id,
                len(ws) AS n_words,
                CASE WHEN len(ws) > 0 THEN
                  list_sum(list_transform(ws, x -> len(x)))::DOUBLE / len(ws)
                ELSE 0.0 END AS awl,
                (length(text) - length(regexp_replace(text,
                    '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
                  / greatest(length(text), 1) AS pr,
                len(list_filter(ws, x -> x IN ('the','a','and','of','to','in',
                    'is','on','for','with')))::DOUBLE
                  / greatest(len(ws), 1) AS sr
              FROM w)
            SELECT doc_id, n_words, round(awl, 6) AS avg_word_len,
                   round(pr, 6) AS punct_ratio, round(sr, 6) AS stopword_ratio,
                   round(least(n_words / 100.0, 1.0) * 0.4
                         + (1.0 - least(pr * 5.0, 1.0)) * 0.3
                         + least(sr * 5.0, 1.0) * 0.3, 6) AS quality_score
            FROM f
        """,
        "embedding_centroids": """
            WITH e AS (
              SELECT label,
                     unnest(embedding) AS val,
                     unnest(range(0, len(embedding))) AS dim
              FROM embeddings)
            SELECT label, CAST(dim AS INT) AS dim,
                   round(avg(val), 6) AS centroid
            FROM e GROUP BY label, dim
        """,
        "chunked_contexts": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            e AS (
              SELECT doc_id, ws,
                     unnest(range(0,
                         greatest(0, CAST(ceil((len(ws) - 20) / 15.0)
                                          AS BIGINT)) + 1))
                       AS chunk_id
              FROM w WHERE len(ws) > 0)
            SELECT doc_id, chunk_id,
                   array_to_string(list_slice(ws, chunk_id * 15 + 1,
                                              chunk_id * 15 + 20), ' ')
                     AS chunk_text,
                   len(list_slice(ws, chunk_id * 15 + 1,
                                  chunk_id * 15 + 20)) AS n_tok
            FROM e
        """,
        "corpus_stats": """
            WITH d AS (
              SELECT count(*)::BIGINT AS n_docs,
                     CAST(sum(len(list_filter(
                         string_split_regex(text, '\\s+'),
                         x -> x <> ''))) AS BIGINT) AS total_ws_tokens,
                     round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
                     round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
              FROM documents),
            u AS (
              SELECT count(DISTINCT w)::BIGINT AS n_distinct_words
              FROM (SELECT unnest(list_filter(
                        string_split_regex(lower(text), '[^a-z]+'),
                        x -> x <> '')) AS w
                    FROM documents))
            SELECT n_docs, n_distinct_words, total_ws_tokens,
                   p50_chars, p90_chars
            FROM d, u
        """,
        "quality_gate": """
            WITH w AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            f AS (
              SELECT doc_id,
                len(ws) AS n_words,
                (length(text) - length(regexp_replace(text,
                    '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
                  / greatest(length(text), 1) AS pr,
                len(list_filter(ws, x -> x IN ('the','a','and','of','to','in',
                    'is','on','for','with')))::DOUBLE
                  / greatest(len(ws), 1) AS sr
              FROM w),
            q AS (
              SELECT doc_id,
                     round(least(n_words / 100.0, 1.0) * 0.4
                           + (1.0 - least(pr * 5.0, 1.0)) * 0.3
                           + least(sr * 5.0, 1.0) * 0.3, 6) AS quality_score
              FROM f),
            c AS (SELECT round(quantile_cont(quality_score, 0.75), 6)
                         AS cutoff FROM q)
            SELECT doc_id, quality_score, cutoff
            FROM q, c WHERE quality_score >= cutoff
        """,
        "token_counts": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '')) AS ws_tokens,
                   len(regexp_extract_all(lower(text),
                       '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens
            FROM documents
        """,
        "word_bigram_counts": """
            WITH w AS (
              SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            g AS (
              SELECT ws[i] || ' ' || ws[i+1] AS ngram
              FROM w, UNNEST(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2)
            SELECT ngram, count(*) AS cnt
            FROM g GROUP BY ngram HAVING count(*) >= 2
        """,
        # thresholds computed with the SAME sample_threshold() ints the
        # Spark operator uses; the salted md5 hash60 reproduces exactly
        "stratified_sample": _stratified_sample_sql(),
        "shard_manifest": """
            WITH a AS (
              SELECT source,
                     len(list_filter(string_split_regex(lower(text),
                         '[^a-z]+'), x -> x <> '')) AS n_tok,
                     CAST(concat('0x', substr(md5(
                         concat_ws('|', 'shard', '7', '1',
                                   CAST(doc_id AS VARCHAR))
                     ), 1, 15)) AS BIGINT) AS order_key
              FROM documents)
            SELECT CAST(order_key % 8 AS INTEGER) AS shard_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                   count(DISTINCT source) AS n_sources,
                   min(order_key) AS min_key,
                   max(order_key) AS max_key
            FROM a GROUP BY 1 ORDER BY 1
        """,
        "temperature_mix": _temperature_mix_sql(),
        "sample_k_per_lang": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang ORDER BY
                       CAST(concat('0x', substr(md5(concat(
                         CAST(doc_id AS VARCHAR), 'reservoir')), 1, 15))
                         AS BIGINT) ASC, doc_id ASC) AS rk
              FROM documents) WHERE rk <= 30
        """,
        "hash_split": _hash_split_sql(),
        "leakage_safe_split": _leakage_safe_split_sql(),
        "curated_mix": _curated_mix_sql(),
        "pack_assignments": f"""
            SELECT doc_id, source,
                   CAST(floor((sum(n_chars) OVER (PARTITION BY source
                                                  ORDER BY doc_id)
                               - n_chars) / {_PACK_BUDGET}) AS INT)
                   AS pack_id
            FROM documents
        """,
        "fingerprints": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents)
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(ws)), ' '))
                   AS fingerprint
            FROM w
        """,
        "pii_counts": r"""
            SELECT doc_id,
              len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                AS n_emails,
              len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS n_urls,
              len(regexp_extract_all(text, '\+[0-9][0-9() -]{6,}[0-9]'))
                AS n_phones,
              regexp_replace(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  'https?://[^ \t\n]+', '<URL>', 'g'),
                  '\+[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS redacted
            FROM documents
        """,
        "doc_cross_entropy": _WORDS_CTE + """,
            c AS (SELECT word, count(*) AS cnt FROM words
                  GROUP BY word HAVING count(*) >= 5),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
            s AS (SELECT w.doc_id,
                    coalesce(c.cnt / t.total, 1.0 / t.total) AS p,
                    CASE WHEN c.cnt IS NULL THEN 1.0 ELSE 0.0 END AS oov
                  FROM words w LEFT JOIN c USING (word) CROSS JOIN t)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                   round(-avg(ln(p)), 6) AS cross_entropy,
                   round(avg(oov), 6) AS oov_frac
            FROM s GROUP BY doc_id
        """,
        "pmi_collocations": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            toks AS (SELECT unnest(ws) AS word FROM w),
            uni AS (SELECT word, count(*) AS c1 FROM toks GROUP BY word),
            t1 AS (SELECT CAST(sum(c1) AS BIGINT) AS t1 FROM uni),
            big AS (
              SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c12
              FROM w, unnest(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2
              GROUP BY 1, 2 HAVING count(*) >= 5),
            t2 AS (SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT)
                     AS t2 FROM w),
            s AS (
              SELECT w1, w2, c12,
                     round(ln((c12 / t2.t2)
                              / ((u1.c1 / t1.t1) * (u2.c1 / t1.t1))), 6)
                       AS pmi
              FROM big
              JOIN uni u1 ON u1.word = big.w1
              JOIN uni u2 ON u2.word = big.w2
              CROSS JOIN t1 CROSS JOIN t2)
            SELECT w1, w2, c12, pmi FROM s
            ORDER BY pmi DESC, w1, w2 LIMIT 20
        """,
        "bigram_perplexity": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            toks AS (SELECT doc_id, unnest(ws) AS word FROM w),
            uni AS (SELECT word, count(*) AS c1 FROM toks GROUP BY word),
            tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni),
            big AS (
              SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c12
              FROM w, unnest(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2
              GROUP BY 1, 2 HAVING count(*) >= 2),
            trans AS (
              SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
              FROM w, unnest(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2),
            s AS (
              SELECT tr.doc_id,
                     0.7 * coalesce(b.c12::DOUBLE / u1.c1, 0.0)
                     + 0.3 * u2.c1 / tot.total AS p,
                     CASE WHEN b.c12 IS NULL THEN 0.0 ELSE 1.0 END AS hit
              FROM trans tr
              LEFT JOIN big b USING (w1, w2)
              JOIN uni u1 ON u1.word = tr.w1
              JOIN uni u2 ON u2.word = tr.w2
              CROSS JOIN tot)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
                   round(-avg(ln(p)), 6) AS bigram_ce,
                   round(exp(-avg(ln(p))), 2) AS bigram_ppl,
                   round(avg(hit), 6) AS hit_frac
            FROM s GROUP BY doc_id
        """,
        "repetition_stats": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS ws
              FROM documents),
            pw AS (
              SELECT doc_id, word, count(*) AS cnt
              FROM (SELECT doc_id, unnest(ws) AS word FROM w)
              GROUP BY doc_id, word),
            top AS (
              SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
                     max(cnt) AS max_cnt
              FROM pw GROUP BY doc_id),
            g AS (
              SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
              FROM w, UNNEST(range(1, len(ws))) AS t(i)
              WHERE len(ws) >= 2),
            d0 AS (
              SELECT doc_id,
                     1.0 - count(DISTINCT gram)::DOUBLE / count(*) AS dup_raw
              FROM g GROUP BY doc_id)
            SELECT top.doc_id, top.n_words,
                   round(max_cnt / n_words, 6) AS top_word_frac,
                   round(coalesce(d0.dup_raw, 0.0), 6) AS dup_ngram_frac
            FROM top LEFT JOIN d0 USING (doc_id)
        """,
        "intersect_users": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'error'
        """,
        "except_quality_docs": """
            SELECT doc_id FROM documents
            EXCEPT ALL
            SELECT doc_id FROM documents WHERE n_chars < 200
        """,
        "anti_join_inactive": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 300000)
        """,
        "grouping_sets_counts": """
            SELECT lang, source, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   CAST(GROUPING(lang, source) AS BIGINT) AS gid
            FROM documents
            GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
        """,
        "percent_rank_prices": """
            SELECT o_orderkey, o_orderpriority,
                   round(percent_rank() OVER w, 6) AS pr,
                   round(cume_dist() OVER w, 6) AS cd
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
            QUALIFY pr >= 0.99
        """,
        "json_props_stats": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k')
                                 AS INT)) AS BIGINT) AS k_sum,
                   round(avg(CAST(json_extract_string(props, '$.k')
                                  AS INT)), 6) AS k_avg
            FROM events GROUP BY event_type
        """,
        "above_avg_orders": """
            SELECT o_orderkey, o_custkey,
                   round(o_totalprice, 2) AS price,
                   round(cust_avg, 6) AS cust_avg
            FROM (SELECT *, avg(o_totalprice)
                         OVER (PARTITION BY o_custkey) AS cust_avg
                  FROM orders)
            WHERE o_totalprice > cust_avg
        """,
        "trailing_value_sums": """
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 6) AS trail_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING
                         AND CURRENT ROW)
            QUALIFY trail_1h > 200
        """,
        "value_change_lag": """
            SELECT user_id, event_id,
                   round(value - lag(value) OVER w, 6) AS delta,
                   round(first_value(value) OVER w, 6) AS first_val
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            QUALIFY abs(delta) > 90
        """,
        "cube_counts": """
            SELECT coalesce(event_type, '<all>') AS event_type,
                   coalesce(vbucket, -1) AS vbucket, count(*) AS n
            FROM (SELECT event_type,
                         CAST(trunc(value / 25) AS INT) AS vbucket
                  FROM events)  -- trunc: Spark's int cast truncates,
                                -- DuckDB's rounds
            GROUP BY CUBE(event_type, vbucket)
        """,
        # salted_source_counts: the salt is internal; the oracle is the
        # plain per-source aggregate the salted two-phase plan must equal.
        "salted_source_counts": _WORDS_CTE.replace(
            "WITH words AS", "WITH words AS") + """
            , lex AS (SELECT word FROM words GROUP BY word),
            kept AS (
              SELECT d.doc_id, d.source, count(*) AS n_tok
              FROM (SELECT doc_id, source,
                           unnest(list_filter(string_split_regex(
                               lower(text), '[^a-z]+'), w -> w <> '')) AS word
                    FROM documents) d
              JOIN lex USING (word)
              GROUP BY d.doc_id, d.source)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM kept GROUP BY source
        """,
        # The model-pipeline queries (EM/HMM) are not DuckDB-SQL-
        # expressible; their oracles are single-node pandas/numpy
        # recomputations (same deterministic kernels, pandas groupby
        # orchestration instead of Spark shuffles) rendered as VALUES
        # literals — see tools/local_oracle.py.
        **_model_oracles(),
    }


_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # driver compares at sf=0.01


def _model_oracles() -> dict[str, str]:
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "tools"))
    import local_oracle as lo

    global _MODEL_ORACLE_CACHE
    try:
        return _MODEL_ORACLE_CACHE
    except NameError:
        pass
    pipe = lo.LocalPipeline(_ORACLE_SF_DIR, _small_params())
    slice_epoch = 1_420_070_400 + int(3.5 * 3600)  # 2015-01-01 03:30 UTC
    out = {
        "detect_events": lo.values_sql(
            pipe.detect_events_rows(),
            [("ws_epoch", "BIGINT"), ("source", "VARCHAR"),
             ("theme_id", "INTEGER"), ("strength", "BIGINT")]),
        "evolution_edges": lo.values_sql(
            pipe.evolution_rows(),
            [("w1_epoch", "BIGINT"), ("theme1", "INTEGER"),
             ("w2_epoch", "BIGINT"), ("theme2", "INTEGER"),
             ("divergence", "DOUBLE")]),
        "theme_top_words": lo.values_sql(
            pipe.theme_top_words_rows(k=5),
            [("ws_epoch", "BIGINT"), ("theme_id", "INTEGER"),
             ("word_id", "INTEGER"), ("rank", "INTEGER")]),
        "theme_salient_words": lo.values_sql(
            pipe.theme_salient_words_rows(k=5),
            [("ws_epoch", "BIGINT"), ("theme_id", "INTEGER"),
             ("word_id", "INTEGER"), ("rank", "INTEGER"),
             ("salience", "DOUBLE")]),
        "theme_strength_slice": lo.values_sql(
            pipe.theme_strength_slice_rows(
                theme_id=_SLICE_THEME, start_epoch=slice_epoch,
                length_s=5 * 3600),
            [("source", "VARCHAR"), ("strength", "BIGINT")]),
        "strength_series": lo.values_sql(
            pipe.strength_series_rows(bucket_s=60),
            [("bucket_epoch", "BIGINT"), ("source", "VARCHAR"),
             ("theme_id", "INTEGER"), ("strength", "BIGINT")]),
        "top_docs_per_theme": lo.values_sql(
            pipe.top_docs_rows(k=3),
            [("ws_epoch", "BIGINT"), ("theme_id", "INTEGER"),
             ("doc_id", "VARCHAR"), ("rank", "INTEGER"),
             ("weight", "DOUBLE")]),
        "media_features": lo.values_sql(
            lo.media_features_rows(_ORACLE_SF_DIR),
            [("doc_id", "VARCHAR"), ("feature_sum", "DOUBLE")]),
        "media_decode_features": lo.values_sql(
            lo.media_decode_feature_rows(90),
            [("doc_id", "VARCHAR"), ("kind", "VARCHAR"),
             ("feature_sum", "DOUBLE")]),
        "media_resize_fingerprints": lo.values_sql(
            lo.media_resize_fp_rows(90, 8, 6),
            [("doc_id", "VARCHAR"), ("fp", "VARCHAR")]),
        "media_frame_fingerprints": lo.values_sql(
            lo.media_frame_fp_rows(90, 2),
            [("doc_id", "VARCHAR"), ("frame_no", "INTEGER"),
             ("fp", "VARCHAR")]),
        "ann_lsh_topk": lo.values_sql(
            lo.ann_lsh_rows(_ORACLE_SF_DIR, k=5, planes=4),
            [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
             ("rank", "INTEGER"), ("cos", "DOUBLE")]),
        "ann_ivf_topk": lo.values_sql(
            lo.ann_ivf_rows(_ORACLE_SF_DIR, k=5, n_centroids=8, n_probe=3),
            [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
             ("rank", "INTEGER"), ("cos", "DOUBLE")]),
        "embedding_kmeans": lo.values_sql(
            lo.kmeans_rows(_ORACLE_SF_DIR, k=8, iterations=5),
            [("vec_id", "BIGINT"), ("cluster", "INTEGER"),
             ("cos", "DOUBLE")]),
        "dup_graph_pagerank": lo.values_sql(
            lo.pagerank_rows(_ORACLE_SF_DIR, damping=0.85, iterations=10),
            [("node", "BIGINT"), ("rank", "DOUBLE")]),
        "semantic_dedup": lo.values_sql(
            lo.semantic_dedup_rows(_ORACLE_SF_DIR, k=8, iterations=5,
                                   threshold=0.4),
            [("vec_id", "BIGINT"), ("cluster", "INTEGER"),
             ("centroid_cos", "DOUBLE"), ("kept", "INTEGER")]),
        "fim_transform": lo.values_sql(
            lo.fim_rows(_ORACLE_SF_DIR, fim_rate=0.5),
            [("doc_id", "VARCHAR"), ("is_fim", "BOOLEAN"),
             ("n_out", "INTEGER"), ("fingerprint", "VARCHAR")]),
        "mlm_masking": lo.values_sql(
            lo.mlm_rows(_ORACLE_SF_DIR, mask_rate=0.15,
                        vocab_size=30_000),
            [("doc_id", "VARCHAR"), ("n_tok", "INTEGER"),
             ("n_selected", "INTEGER"), ("input_fp", "VARCHAR"),
             ("labels_fp", "VARCHAR")]),
        "span_corruption": lo.values_sql(
            lo.span_corruption_rows(_ORACLE_SF_DIR, mask_rate=0.15,
                                    span_len=3),
            [("doc_id", "VARCHAR"), ("n_spans", "INTEGER"),
             ("n_input", "INTEGER"), ("n_target", "INTEGER"),
             ("input_fp", "VARCHAR"), ("target_fp", "VARCHAR")]),
        "token_sequence_stats": lo.values_sql(
            lo.token_stats_rows(_ORACLE_SF_DIR),
            [("doc_id", "VARCHAR"), ("n_tok", "INTEGER"),
             ("distinct_frac", "DOUBLE"), ("top_share", "DOUBLE"),
             ("dup_bigram_frac", "DOUBLE"), ("entropy", "DOUBLE")]),
        "packed_sequences": lo.values_sql(
            lo.packed_rows(_ORACLE_SF_DIR, budget_tokens=400),
            [("source", "VARCHAR"), ("pack_id", "INTEGER"),
             ("n_docs", "INTEGER"), ("total_tokens", "INTEGER"),
             ("boundaries_fp", "VARCHAR"), ("tokens_fp", "VARCHAR")]),
        "vocab_prune_remap": lo.values_sql(
            lo.remap_rows(_ORACLE_SF_DIR, vocab_keep=50, unk_id=-1),
            [("doc_id", "VARCHAR"), ("n_tok", "INTEGER"),
             ("fingerprint", "VARCHAR")]),
        "ann_ivfpq_topk": lo.values_sql(
            lo.ann_ivfpq_rows(_ORACLE_SF_DIR, k=5, n_centroids=8,
                              n_probe=3, m=8, ksub=16),
            [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
             ("rank", "INTEGER"), ("score", "DOUBLE")]),
        "ann_pq_topk": lo.values_sql(
            lo.ann_pq_rows(_ORACLE_SF_DIR, k=5, m=8, ksub=16),
            [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
             ("rank", "INTEGER"), ("score", "DOUBLE")]),
        "ann_pq_rescored": lo.values_sql(
            lo.ann_pq_rescored_rows(_ORACLE_SF_DIR, k=5, m=8, ksub=16,
                                    rescore_factor=4),
            [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
             ("rank", "INTEGER"), ("score", "DOUBLE")]),
        "bpe_merges": lo.values_sql(
            lo.bpe_merge_rows(_ORACLE_SF_DIR, num_merges=20,
                              min_word_count=2),
            [("rank", "INTEGER"), ("left", "VARCHAR"),
             ("right", "VARCHAR"), ("merged", "VARCHAR"),
             ("pair_count", "BIGINT")]),
        "bpe_encode": lo.values_sql(
            lo.bpe_encode_rows(_ORACLE_SF_DIR, num_merges=20,
                               min_word_count=2),
            [("doc_id", "BIGINT"), ("n_words", "BIGINT"),
             ("n_bpe", "BIGINT"), ("token_fingerprint", "VARCHAR")]),
        "seq_matches": lo.values_sql(
            lo.seq_match_rows(_ORACLE_SF_DIR, _SEQ_STEPS,
                              _SEQ_WITHIN_S),
            [("user_id", "BIGINT"), ("first_event_id", "BIGINT"),
             ("start_us", "BIGINT"), ("end_us", "BIGINT"),
             ("n_events", "BIGINT"), ("step_counts", "VARCHAR")]),
        "seq_overlap_matches": lo.values_sql(
            [(int(k),) + tuple(r) for k, *r in lo.seq_match_rows_pdf(
                __import__("pandas").read_parquet(
                    f"{_ORACLE_SF_DIR}/events.parquet",
                    columns=["user_id", "ts", "event_id",
                             "event_type"]),
                _SEQ_STEPS, _SEQ_WITHIN_S, after_match="next_row")],
            [("user_id", "BIGINT"), ("first_event_id", "BIGINT"),
             ("start_us", "BIGINT"), ("end_us", "BIGINT"),
             ("n_events", "BIGINT"), ("step_counts", "VARCHAR")]),
        "seq_rule_matches": lo.values_sql(
            lo.seq_rules_rows(_ORACLE_SF_DIR, _SEQ_RULES),
            [("user_id", "BIGINT"), ("rule_id", "VARCHAR"),
             ("first_event_id", "BIGINT"), ("start_us", "BIGINT"),
             ("end_us", "BIGINT"), ("n_events", "BIGINT"),
             ("step_counts", "VARCHAR")]),
        "seq_define_matches": lo.values_sql(
            lo.seq_match_pred_rows(_ORACLE_SF_DIR, _SEQ_DEFINE_STEPS,
                                   _SEQ_WITHIN_S),
            [("user_id", "BIGINT"), ("first_event_id", "BIGINT"),
             ("start_us", "BIGINT"), ("end_us", "BIGINT"),
             ("n_events", "BIGINT"), ("step_counts", "VARCHAR")]),
    }
    _MODEL_ORACLE_CACHE = out
    return out
