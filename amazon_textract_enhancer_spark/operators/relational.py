"""SURVEY.md §2.B/§2.E relational operators, expressed as
Catalyst-planned DataFrame ops over the driver testdata tables.

Each function mirrors a reference behavior (docstring cites the SURVEY
operator id) and has a DuckDB oracle twin in ``registry.ORACLE_SQL``.
Scale notes are inline: broadcast hints for dimension joins, two-phase
ordered aggregation via array_sort(collect_list(struct(...))) — NEVER a
bare collect_list (SURVEY.md §2.E "Sort aggregation" — the №1
correctness trap), partial aggregation left to Catalyst.

``ordered_concat`` below is the one place that rule is written: every
order-sensitive string concat in the package calls it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .io_util import t


def ordered_concat(keys: list, value, sep: str) -> Column:
    """The order-sensitive concat (B4): every ``value`` of the group
    joined by ``sep`` in ``keys`` order, ties broken by the value. The
    sort keys ride INSIDE the collected struct —
    ``array_sort(collect_list(struct(*keys, value)))`` — because
    collect_list order is undefined after a shuffle. A null ``value``
    adds nothing (concat_ws skips nulls), so callers drop elements by
    nulling them. ``keys`` are column names or Columns; ``value`` is a
    column name or a Column."""
    v = (F.col(value) if isinstance(value, str) else value).alias("value")
    return F.concat_ws(
        sep,
        F.transform(F.array_sort(F.collect_list(F.struct(*keys, v))),
                    lambda x: x["value"]),
    )


def b2_filter_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 type-filter analog: conjunctive predicates + narrow projection;
    both reach the parquet scan (PushedFilters/ReadSchema asserted in
    tests/test_plans.py)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


def b12_agg_confidence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12 confidence-stats analog (TPC-H Q1 shape): hash aggregation
    with automatic partial+final (map-side combine)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 0).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def b1_join_blockmap_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 id→block map lookup as a join chain; small dims (nation,
    region) are broadcast — the Spark analog of the per-document
    in-memory map the reference builds in Lambda."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 0).alias("sum_totalprice"),
        )
    )


def b3_child_traversal_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 CHILD expansion analog: posexplode keeps array order — the
    property every Relationship.Ids traversal depends on."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
        )
        .filter(F.col("pos") < 5)
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "tok")
    )


def b4_ordered_text_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 get_text analog: ORDER-SENSITIVE concat. collect_list order is
    undefined post-shuffle, so the sort key rides inside the collected
    value.

    r6 (guide §1.2/§2.3): the (pos, text) pair packs into ONE int —
    l_linenumber*256 + ascii(l_returnflag) — which sorts identically to
    the r5 struct (the flag is a single ASCII char < 256 and linenumber
    ≤ 7, so the integer order is exactly (linenumber, flag)) and halves
    the collected/shuffled bytes while skipping per-element struct
    allocation; char(pmod(x, 256)) recovers the text. A/B at sf0.1:
    0.64 → 0.56 s median (output byte-identical on all 147k groups).
    For multi-char text this collapses back to the struct form — the
    general B4 path (core/blocks.py get_text) keeps structs."""
    li = t(spark, sf_dir, "lineitem")
    enc = F.col("l_linenumber") * 256 + F.ascii("l_returnflag")
    # not ordered_concat: the packed int above IS the sort key (r6)
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(enc)),
                lambda x: F.char(F.pmod(x, F.lit(256))),
            ),
        ).alias("line_text")
    )


def b5_two_level_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 page→document text analog: two nested order-sensitive
    aggregations (LINE-per-PAGE then PAGE-per-doc).

    r6 (guide §2.4): one explicit repartition on user_id replaces BOTH
    aggregation exchanges — HashPartitioning(user_id) satisfies the
    clustered distribution of groupBy(user_id, day) (subset rule) and
    of groupBy(user_id), so the two-level concat runs partition-local
    after a single shuffle. The r5 plan shuffled twice: once by
    (user_id, day) with no map-side reduction (collect_list ships every
    row anyway) and once by user_id. Same row bytes move, one fewer
    full exchange + stage at any scale. (A listagg(...) WITHIN GROUP
    form was A/B-measured no faster than struct-sorted collect_list.)"""
    ev = t(spark, sf_dir, "events").repartition("user_id")
    day = ev.withColumn("day", F.to_date("ts"))
    per_day = day.groupBy("user_id", "day").agg(
        ordered_concat(["ts", "event_id"], "event_type", " ").alias("day_text")
    )
    return per_day.groupBy("user_id").agg(
        ordered_concat(["day"], "day_text", "\n").alias("doc_text")
    )


def b6_grid_pivot_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 grid-placement analog with a FIXED column set (dynamic-width
    grids stay in the UDF path, SURVEY.md §2.B B6): conditional
    aggregation, one shuffle, no pivot two-pass."""
    ev = t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == et, 1).otherwise(0))
        .cast("long")
        .alias(f"n_{et}")
        for et in ("click", "view", "error", "signup", "purchase")
    ]
    return ev.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n_total"))


def b7_anti_join_swallowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 merged-cell swallow / B15 orphan analog: left_anti join
    (customers that never ordered)."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def b15_semi_join_referenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 inverse: ids that ARE referenced (left_semi) — parts shipped
    in bulk."""
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


def b13_window_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 geometry reading-order analog: rank within partition by a
    total order (ts, event_id tiebreak — determinism discipline F5)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type", "rn")
    )


def d3_window_neighbor_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 neighbor-smoothed density classification analog: lag/lead over
    node order (here: event value over time per user)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    nxt = F.lead("value").over(w)
    smoothed = (F.coalesce(prev, F.col("value")) + F.col("value") + F.coalesce(nxt, F.col("value"))) / 3.0
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(smoothed, 4).alias("smoothed"),
    )


def b14_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 page-chunk union analog: order-preserving union of
    overlapping chunks + id dedup, then a stable aggregate."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("value") > 50)
    return (
        a.unionByName(b)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def a2_distinct_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 idempotency-token analog: distinct projection."""
    return t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


def agg_rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric rollups (SURVEY.md §2.E grouping sets)."""
    docs = t(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine metrics: exact distinct + avg (SURVEY.md §2.E hash agg)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def win_frame_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames (SURVEY.md §2.E): 3-row trailing moving average —
    the frame variant of the D3 smoothing window."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
    )


def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: users who both clicked and purchased (INTERSECT)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return a.intersect(b)


def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: users who clicked but never purchased (EXCEPT)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return a.exceptAll(b).distinct()


def date_fns_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions: per-day event counts + distinct active hours
    (day emitted as string — DATE physical types differ across engines)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.hour("ts")).alias("active_hours"),
        F.countDistinct("user_id").alias("n_users"),
    )


def string_fns_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: substring/upper/lpad/replace over customer."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("@")).alias("seg_sub"),
    )


def math_fns_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions: sqrt/ln/pow with cross-engine rounding discipline."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(F.sqrt("value"), 4).alias("sqrt_v"),
        F.round(F.log(F.col("value") + 1), 6).alias("ln_v1"),
        F.round(F.pow("value", 2), 2).alias("v_sq"),
    )


def json_fns_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions: extract props.k (explicit path, never inferSchema)
    and aggregate — the A4/A5 raw-JSON envelope analog."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n"))


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: CUBE over order status x priority."""
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 0).alias("sum_price"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min ⇒ new session): lag + running sum —
    the batch form of session_window, per the standard OLAP pattern."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds: float epoch / second-truncation would
    # flip borderline session breaks differently per engine
    # ts is TIMESTAMP_NTZ in parquet; session TZ is UTC so the cast
    # matches DuckDB's naive epoch_us exactly
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    brk = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ev.withColumn("brk", brk).withColumn(
        "session_id", F.sum("brk").over(run).cast("int")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for every purchase, the
    most recent prior click of the same user — conditional last_value
    IGNORE NULLS over the event-time order. The merge_asof-per-group
    Pandas variant is the fallback for true two-table as-ofs."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click",
               F.unix_micros(F.col("ts").cast("timestamp"))),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
            "last_click_us",
        )
    )


def percentile_exact_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (approx variants are
    engine-specific, so the oracle-checked form is exact)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
    )


def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): the wide per-user count grid back to long form."""
    wide = b6_grid_pivot_fixed(spark, sf_dir)
    return wide.selectExpr(
        "user_id",
        "stack(4, 'click', n_click, 'view', n_view, 'error', n_error, "
        "'signup', n_signup) AS (event_type, n)",
    ).filter(F.col("n") > 0)


def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """✂ Approx/sketch aggregates (HLL-based approx_count_distinct is an
    engine-specific sketch — rows-only check; the exact twin is
    agg_distinct_users)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


def map_fns_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Map functions: JSON → MapType with explicit schema, map_keys /
    element access (SURVEY.md §2.E map fns — exploded-join path is the
    primary, this covers the map-typed variant). Twinned since r3:
    the map machinery is Spark-side, the output is plain SQL."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select(
            "event_id",
            m.alias("props_map"),
        )
        .select(
            "event_id",
            F.map_keys("props_map").alias("keys"),
            F.element_at("props_map", "k").alias("k_value"),
        )
        .groupBy("k_value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


RANGE_JOIN_BIN_SECONDS = 3600
RANGE_WINDOW_SECONDS = 7200
RANGE_WINDOW_EVERY = 50


def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) JOIN, bin-bucketed (★) — the scale pattern for
    the join Spark's optimizer punts to BroadcastNestedLoop: "count
    the events inside each maintenance window [start, start+2h)". The
    naive theta join (e.ts BETWEEN w.start AND w.end) is O(|E|·|W|);
    bucketing time into 1-hour bins turns it into an EQUI-join on bin
    — each window explodes to the 2-3 bins it covers, each event maps
    to its single bin, and the BETWEEN predicate survives only as a
    cheap residual filter on the hash-join output. An event can meet
    a window in at most one shared bin (the event's own), so no
    dedup is needed. The plan is asserted free of nested-loop/
    cartesian nodes in tests.

    Window table here: every 50th event_id opens a 2-hour window —
    derived in-plan, twin-replayed (the planted-derivation rule).
    At 10^12 events × 10^5 windows the bin equi-join shuffles each
    side once on a fine-grained key; the naive form never finishes."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    binsec = RANGE_JOIN_BIN_SECONDS * 1_000_000
    wins = ev.filter(F.col("event_id") % RANGE_WINDOW_EVERY == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("us").alias("w_start"),
        (F.col("us") + RANGE_WINDOW_SECONDS * 1_000_000).alias("w_end"),
    )
    wbins = wins.select(
        "window_id", "w_start", "w_end",
        F.explode(
            F.sequence(
                F.floor(F.col("w_start") / binsec),
                F.floor((F.col("w_end") - 1) / binsec),
            )
        ).alias("bin"),
    )
    ebins = ev.select(
        "event_id", "value", "us",
        F.floor(F.col("us") / binsec).alias("bin"),
    )
    hits = ebins.join(wbins, "bin").filter(
        (F.col("us") >= F.col("w_start")) & (F.col("us") < F.col("w_end"))
    )
    return hits.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.round(F.sum("value"), 2).alias("window_value"),
    )


def sketch_percentile_approx(
    spark: SparkSession, sf_dir: str, *, accuracy: int = 1000
) -> DataFrame:
    """✂ Mergeable QUANTILE SKETCH per group — `approx_percentile`
    (Greenwald-Khanna): the rank-error-bounded summary that, unlike
    the exact form, aggregates in one pass with O(accuracy) state per
    group and MERGES across partitions — at 10^12 events the exact
    percentile needs a per-group sort while the sketch is a normal
    partial/final agg. Rows-only in the driver (sketch internals are
    engine-specific — same reason as approx_count_distinct);
    test_relational_nodes pins the 1/accuracy rank-error bound against
    the exact percentiles and cross-run determinism."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(accuracy)).alias(
            "median_approx"
        ),
        F.percentile_approx("value", F.lit(0.95), F.lit(accuracy)).alias(
            "p95_approx"
        ),
    )
