"""Relational surface, part 2: subqueries, conditionals, casts, range
frames, correlation, and the salted-skew-join pattern.

Same contract as operators/relational.py — every entry is declarative
DataFrame/SQL with a DuckDB oracle; scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.numeric import dec
from maxscale_cdc_spark.functions.window import first_per
from maxscale_cdc_spark.registry import register
from maxscale_cdc_spark.session import memo, stage
from maxscale_cdc_spark.tables import table

DEC12 = "decimal(12,4)"


def _d12(c) -> F.Column:
    return (F.col(c) if isinstance(c, str) else c).cast(DEC12)


@register(
    "rel_subquery_scalar",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) FROM orders
    )
    """,
)
def rel_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: Catalyst evaluates it once and
    broadcasts the scalar into the filter — one extra job, no join."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 2 * (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          FROM orders
        )
        """
    )


@register(
    "rel_subquery_corr",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def rel_subquery_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each order vs its customer's own
    average).  Catalyst decorrelates this into an aggregate + join —
    never a per-row re-execution, which is what makes it viable at
    scale."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "fn_cond",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_class,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS finished_price,
           least(greatest(o_totalprice, 50000.0), 400000.0) AS clamped
    FROM orders
    """,
)
def fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(p > 200000, "big").when(p > 100000, "mid").otherwise("small").alias(
            "size_class"
        ),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.when(F.col("o_orderstatus") == "F", p).otherwise(F.lit(0.0)).alias(
            "finished_price"
        ),
        F.least(F.greatest(p, F.lit(50000.0)), F.lit(400000.0)).alias("clamped"),
    )


@register(
    "fn_cast",
    """
    SELECT event_id,
           CAST(event_id AS VARCHAR) AS id_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           CAST(trunc(value) AS BIGINT) AS value_trunc,
           CAST(floor(value) AS BIGINT) AS value_floor,
           CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value_2dp,
           CAST(event_id % 2 = 0 AS BOOLEAN) AS is_even
    FROM events
    """,
)
def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast surface.  Note the portability trap this encodes: Spark's
    double→int cast truncates while DuckDB's rounds, so cross-engine
    casts go through explicit trunc/floor."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_id").cast("string").alias("id_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_long"),
        F.col("value").cast("long").alias("value_trunc"),
        F.floor("value").cast("long").alias("value_floor"),
        F.col("value").cast("decimal(12,2)").cast("double").alias("value_2dp"),
        ((F.col("event_id") % 2) == 0).alias("is_even"),
    )


@register(
    "rel_win_range",
    """
    SELECT event_id, user_id, value,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY value
                RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_within_10,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY value
                RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_within_10
    FROM events
    """,
)
def rel_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): all peers within 10.0
    below the current value.  Ties share a frame in both engines."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("value").rangeBetween(-10, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.count("*").over(w).alias("n_within_10"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_within_10"),
    )


@register(
    "rel_corr",
    """
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_quantity, 0) AS BIGINT) AS qi,
             CAST(round(l_extendedprice, 0) AS BIGINT) AS pi
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(
             (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(qi * pi) AS DOUBLE)
              - CAST(SUM(qi) AS DOUBLE) * CAST(SUM(pi) AS DOUBLE))
             / (sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(qi * qi) AS DOUBLE)
                     - CAST(SUM(qi) AS DOUBLE) * CAST(SUM(qi) AS DOUBLE))
                * sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(pi * pi) AS DOUBLE)
                       - CAST(SUM(pi) AS DOUBLE) * CAST(SUM(pi) AS DOUBLE))), 6) AS qty_price_corr
    FROM q
    GROUP BY l_returnflag
    """,
)
def rel_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact integer sums (quantities/prices
    rounded to whole units; Σx, Σx², Σxy all fit int64) — the textbook
    formula on identical operands, engine-stable where native corr()
    accumulators are not."""
    li = table(spark, sf_dir, "lineitem")
    qi = F.round("l_quantity", 0).cast("long")
    pi = F.round("l_extendedprice", 0).cast("long")
    base = li.select("l_returnflag", qi.alias("qi"), pi.alias("pi"))
    n = F.count("*").cast("double")
    sq = F.sum("qi").cast("double")
    sp = F.sum("pi").cast("double")
    sqp = F.sum(F.col("qi") * F.col("pi")).cast("double")
    sqq = F.sum(F.col("qi") * F.col("qi")).cast("double")
    spp = F.sum(F.col("pi") * F.col("pi")).cast("double")
    corr = F.round(
        (n * sqp - sq * sp)
        / (F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp)),
        6,
    )
    return base.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), corr.alias("qty_price_corr")
    )


@register(
    "fn_struct",
    """
    WITH nested AS (
      SELECT o_custkey,
             list_sort(list({'ok': o_orderkey, 'price': o_totalprice})) AS orders_arr
      FROM orders
      WHERE o_custkey < 30
      GROUP BY o_custkey
    ), exploded AS (
      SELECT o_custkey, unnest(orders_arr) AS o FROM nested
    )
    SELECT o_custkey, o.ok AS o_orderkey, o.price AS o_totalprice
    FROM exploded
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type round trip: rows → array<struct> per key (sorted
    row-locally for determinism) → explode → flattened fields.  The
    collect/nest/flatten cycle is how denormalized documents are built
    and unbuilt; field access and ordering survive both engines."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    nested = o.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("o_orderkey").alias("ok"),
                    F.col("o_totalprice").alias("price"),
                )
            )
        ).alias("orders_arr")
    )
    return nested.select(
        "o_custkey", F.explode("orders_arr").alias("o")
    ).select(
        "o_custkey",
        F.col("o.ok").alias("o_orderkey"),
        F.col("o.price").alias("o_totalprice"),
    )


@register(
    "fn_try",
    """
    SELECT event_id,
           try_cast(event_type AS INT) AS bad_cast,
           try_cast(json_extract_string(props, '$.k') AS INT) AS good_cast,
           CASE WHEN event_id % 5 = 0 THEN NULL ELSE value / (event_id % 5) END AS guarded_div
    FROM events
    """,
)
def fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant casts/arithmetic: malformed input becomes NULL, not
    a task failure — mandatory posture for 100 TB ingest where one bad
    record must not kill a stage."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_type").try_cast("int").alias("bad_cast"),
        F.get_json_object("props", "$.k").try_cast("int").alias("good_cast"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("value") / (F.col("event_id") % 5)
        ).alias("guarded_div"),
    )


@register(
    "rel_agg_median",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def rel_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation — both engines average
    identical middle elements, so results are bit-equal).  Exact
    percentile is a sort-based aggregate: fine per group, and the
    approximate sketch (rel_agg_approx) is the 100 TB default."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90_price"),
    )


@register(
    "rel_agg_mode",
    """
    WITH counts AS (
      SELECT l_returnflag, l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, v) AS rn
      FROM counts
    )
    SELECT l_returnflag, v AS mode_qty, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def rel_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with an EXPLICIT deterministic tiebreak (max count, then
    smallest value) — native mode() functions break ties arbitrarily,
    which is unacceptable for reproducible pipelines.  Two
    map-combinable aggregations, no sort."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", F.col("l_quantity").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    return first_per(counts, "l_returnflag", F.col("cnt").desc(), "v").select(
        "l_returnflag",
        F.col("v").alias("mode_qty"),
        F.col("cnt").alias("mode_count"),
    )


@register(
    "fn_stragg",
    """
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_custkey) AS names,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    WHERE c_custkey < 40
    GROUP BY c_nationkey
    """,
)
def fn_stragg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list carries no order
    guarantee under parallelism, so the value is collected WITH its sort
    key and sorted row-locally (sort_array on structs) before joining —
    deterministic at any partitioning."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 40)
    ordered = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("c_custkey", "c_name"))),
            lambda s: s.getField("c_name"),
        ),
        ",",
    )
    return c.groupBy("c_nationkey").agg(
        ordered.alias("names"), F.count("*").alias("n")
    )


@register(
    "rel_gapfill",
    """
    WITH bounds AS (
      SELECT CAST(floor(extract(epoch FROM min(ts)) / 86400) AS BIGINT) AS d0,
             CAST(floor(extract(epoch FROM max(ts)) / 86400) AS BIGINT) AS d1
      FROM events
    ), days AS (
      SELECT unnest(generate_series(d0, d1)) AS day_idx FROM bounds
    ), actual AS (
      SELECT CAST(floor(extract(epoch FROM ts) / 86400) AS BIGINT) AS day_idx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    )
    SELECT make_timestamp(days.day_idx * 86400 * 1000000) AS day,
           coalesce(actual.n, 0) AS n_events
    FROM days LEFT JOIN actual ON days.day_idx = actual.day_idx
    """,
)
def rel_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: generate the full day spine with
    `sequence()` (executor-side — never a driver loop), left-join actual
    counts, zero-fill.  The spine generation is O(range) rows, not
    O(data), so it is scale-free."""
    ev = table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day_idx")
    )
    actual = ev.groupBy(day.alias("day_idx")).agg(F.count("*").alias("n"))
    return (
        spine.join(actual, "day_idx", "left")
        .select(
            F.timestamp_seconds(F.col("day_idx") * 86400).alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    "rel_join_range_bucket",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts + INTERVAL 1 HOUR
    """,
)
def rel_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join (pairs of a user's events within 1 hour) via
    TIME-BUCKETIZATION: each row joins on (user, bucket) for its own
    and both adjacent 1h buckets, then the exact |Δt| filter runs as a
    join residual.  The naive theta join is O(n²) per user; bucketing
    makes it an equi-join whose cost is Σ bucket² — the standard range-
    join decomposition (DuckDB's native ASOF/IEJoin does this
    internally; the oracle states the naive form, proving equivalence).
    """
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    bucket = F.floor(F.unix_timestamp("ts") / 3600)
    a = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("u_a"),
        F.col("ts").alias("ts_a"),
        # probe side replicated into its own + both adjacent buckets so
        # every in-range pair co-locates in at least one bucket
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bk"),
    )
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("u_b"),
        F.col("ts").alias("ts_b"),
        bucket.alias("bk"),
    )
    joined = a.join(
        b,
        (F.col("u_a") == F.col("u_b"))
        & (a.bk == b.bk)
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("ts_b") >= F.col("ts_a") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 1 HOUR")),
    )
    # a pair can co-locate in up to 2 of the 3 replicated buckets
    return joined.select("id_a", "id_b").distinct()


@register(
    "rel_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000.0) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS sample_order
    FROM orders
    GROUP BY 1
    """,
)
def rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: integer bin index from floor division —
    the exact (and exactly-comparable) building block under approximate
    distribution sketches; one map-side-combinable aggregation."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 25000.0).cast("int").alias("bin")
    ).agg(F.count("*").alias("n"), F.min("o_orderkey").alias("sample_order"))


@register(
    "rel_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey <= 6000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey <= 6000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey <= 6000
    """,
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt via stack(): wide measures → long (measure, val)
    rows, executor-side — the lateral inverse of pivot.  Bounded key
    range: the operator is a narrow per-row expansion, so a key slice
    exercises it fully while keeping the oracle's row-compare cost flat
    across scale factors (the full-table melt tripled the largest
    output in the suite for no extra coverage)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 6000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) "
            "AS (measure, val)"
        ),
    )


@register(
    "fn_bitwise",
    """
    SELECT event_id,
           event_id & 255 AS lo_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, 21845) AS xored,
           event_id << 2 AS shl2,
           event_id >> 3 AS shr3,
           CAST(bit_count(event_id) AS INT) AS popcount
    FROM events
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface (note: DuckDB's ^ is exponentiation — the oracle
    uses xor())."""
    ev = table(spark, sf_dir, "events")
    e = F.col("event_id")
    return ev.select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("lo_byte"),
        e.bitwiseOR(F.lit(4096)).alias("with_flag"),
        e.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(e, 2).alias("shl2"),
        F.shiftright(e, 3).alias("shr3"),
        F.bit_count(e).cast("int").alias("popcount"),
    )


@register(
    "rel_join_skew_salt",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def rel_join_skew_salt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern made explicit: the probe side carries a
    deterministic salt (l_linenumber % 8), the build side is exploded
    ×8, and the join key becomes (key, salt) — a hot key's rows now
    spread over 8 reducers.  Result is provably identical to the plain
    join (the oracle).  In production AQE's skew-join handles the common
    case; explicit salting is for stateful/streaming joins where AQE
    can't re-plan."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    n_salt = 8
    li_s = li.withColumn("salt", (F.col("l_linenumber") % n_salt).cast("int"))
    o_s = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
    joined = li_s.join(
        o_s, (li_s.l_orderkey == o_s.o_orderkey) & (li_s.salt == o_s.salt)
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
    )


@register(
    "rel_sample_hash",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 7
    """,
)
def rel_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 7% sample by key-hash bucketing — the sampling
    primitive for pipeline development and data QA at 100 TB:
    reproducible on any cluster, stable under re-partitioning and
    re-runs (unlike TABLESAMPLE/rand(), which change with the physical
    layout and seed plumbing), and consistent ACROSS TABLES for the
    same key, so sampled fact rows keep their sampled dimension rows."""
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    return o.filter(bucket < 7).select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Batch sessionization — gap-based session ids over the event stream
# (the batch counterpart of str_session's session_window).
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800

_SESSIONIZE_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS t
  FROM events
), flagged AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   > {_SESSION_GAP_S}
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM ev
), sessions AS (
  SELECT user_id, t,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(t) AS session_start, MAX(t) AS session_end
FROM sessions
GROUP BY user_id, session_id
"""


@register("rel_sessionize", _SESSIONIZE_ORACLE)
def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a new session starts where the
    per-user inter-event gap exceeds 30 min; session_id is the running
    sum of the new-session flags — two window passes over ONE per-user
    shuffle (lag and the cumulative sum share the partitioning), then a
    map-side-combinable rollup per session.  The deterministic
    (t, event_id) tiebreak keeps equal-timestamp events in a fixed
    order in both engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("t")
    )
    order = [F.col("t"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    gap = F.col("t") - F.lag("t").over(w)
    flagged = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > _SESSION_GAP_S), 1).otherwise(0)
    )
    wsum = w.rowsBetween(W.unboundedPreceding, 0)
    sessions = flagged.withColumn(
        "session_id", F.sum("new_s").over(wsum).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("t").alias("session_start"),
        F.max("t").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel — stage-by-stage conversion through an event sequence.
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS t
  FROM events
), s1 AS (
  SELECT user_id, MIN(t) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.t) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.t > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.t) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.t > s2.t2
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_signup_view,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_signup_view_purchase
"""


@register("rel_funnel", _FUNNEL_ORACLE)
def rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (signup → later view → later
    purchase): each stage is a keyed min-aggregate joined back on
    user_id, so all three stages reuse the SAME user_id partitioning —
    at scale this is one shuffle amortized across the funnel depth,
    never a per-user collect or UDF.  Counts are whole-funnel scalars
    (the dashboard number)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.join(s1, "user_id")
        .filter((F.col("event_type") == "view") & (F.col("t") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        ev.join(s2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("t") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("n_signup"))
        .crossJoin(s2.agg(F.count("*").alias("n_signup_view")))
        .crossJoin(s3.agg(F.count("*").alias("n_signup_view_purchase")))
    )


# ---------------------------------------------------------------------------
# rel_sample_stratified — exact-n-per-group deterministic sample: the QA
# / eval-set primitive ("100 orders per priority class") where plain
# rate sampling gives the wrong per-stratum counts.
# ---------------------------------------------------------------------------

_STRAT_ORACLE = """
WITH r AS (
  SELECT o_orderkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey, o_orderpriority, CAST(rn AS BIGINT) AS rn
FROM r
WHERE rn <= 100
"""


@register("rel_sample_stratified", _STRAT_ORACLE)
def rel_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: exactly min(100, |stratum|) rows per
    o_orderpriority, chosen by ranking each stratum on the md5 of its
    key — a deterministic "random" order both engines compute
    identically (ASCII hex sorts the same everywhere), reproducible
    under repartitioning, no RNG state.

    One keyed shuffle (the window partition).  At 100 TB the window
    never materializes a stratum in memory — row_number streams — and
    a rank-then-filter beats per-group collect/limit by construction.
    The trailing key tiebreak makes the order total, so the sampled
    SET is stable even though md5 collisions are impossible here only
    in practice."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 100)
        .select("o_orderkey", "o_orderpriority", "rn")
    )


# ---------------------------------------------------------------------------
# rel_join_asof_tol — as-of join with a tolerance horizon: the
# time-series enrich where a stale match is worse than no match
# (pandas merge_asof(tolerance=...)).  Same union+window engine as
# rel_join_asof; the tolerance is a post-filter on the matched ts.
# ---------------------------------------------------------------------------

_ASOF_TOL_ORACLE = """
WITH m AS (
  SELECT p.event_id, p.user_id, p.ts,
         (SELECT max(s.ts) FROM events s
           WHERE s.event_type = 'signup' AND s.user_id = p.user_id
             AND s.ts <= p.ts) AS last_signup_ts
  FROM events p
  WHERE p.event_type = 'purchase'
)
SELECT event_id, user_id,
       CASE WHEN last_signup_ts >= ts - INTERVAL 7 DAY THEN last_signup_ts END
         AS signup_within_7d,
       (last_signup_ts IS NOT NULL AND last_signup_ts >= ts - INTERVAL 7 DAY)
         AS matched
FROM m
"""


@register("rel_join_asof_tol", _ASOF_TOL_ORACLE)
def rel_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with tolerance: latest signup at/before each purchase,
    kept only if within 7 days.  The match itself is the union+window
    formulation (one keyed sort per user, no range self-join — see
    rel_join_asof); tolerance is a row-local CASE afterwards, so the
    plan is identical to the untolerated as-of — the horizon costs
    nothing.  At 100 TB a range-join formulation would explode on hot
    users; this stays O(n log n) per key."""
    ev = table(spark, sf_dir, "events")
    marked = ev.filter(F.col("event_type").isin("signup", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("signup_ts"),
    )
    order = [
        F.col("ts"),
        F.when(F.col("event_type") == "signup", F.lit(0)).otherwise(F.lit(1)),
        F.col("event_id"),
    ]
    w = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    enriched = marked.withColumn(
        "last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w)
    )
    in_tol = F.col("last_signup_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return enriched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.when(in_tol, F.col("last_signup_ts")).alias("signup_within_7d"),
        (F.col("last_signup_ts").isNotNull() & in_tol).alias("matched"),
    )


# ---------------------------------------------------------------------------
# rel_percentile_bands — quantile banding: assign every order to a
# price quartile and summarize each band.  ntile() with a total order
# (price, key tie-break) is deterministic and identical across engines.
# ---------------------------------------------------------------------------

@register(
    "rel_percentile_bands",
    """
    WITH b AS (
      SELECT o_orderkey, o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS band
      FROM orders
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM b
    GROUP BY band
    """,
)
def rel_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile price bands over orders: ntile(4) with a TOTAL order
    (price then key) so band assignment is deterministic, then one
    grouped summary per band.

    Scale note: a global ntile is a single-partition sort — fine for
    ranked reporting output, wrong as a distributed primitive.  The
    100 TB formulation replaces it with approx percentile cut points
    (rel_agg_approx's sketch) broadcast into a width_bucket-style
    banding filter, which keeps the pass fully parallel; the exact
    ntile here is the oracle-checkable contract of that operator.
    Decimal sum, double only at the edge."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(4)
        .over(W.orderBy(F.col("o_totalprice"), F.col("o_orderkey")))
        .alias("band"),
    )
    return (
        b.groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# rel_running_distinct — cumulative distinct users by day: the classic
# "running count distinct" that naive window functions cannot express
# (COUNT(DISTINCT) OVER is unsupported).  The scalable identity: a
# user's first-seen day contributes exactly one new distinct, so
# cum_distinct(day) = running sum of first-seen counts.
# ---------------------------------------------------------------------------

@register(
    "rel_running_distinct",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ), per AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY d
    )
    SELECT d, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM per
    """,
)
def rel_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct users per day via the first-seen decomposition:
    min(date) per user (one keyed agg), count of first-appearances per
    day (second agg over |users| rows), prefix-sum over days.

    This is THE scale-correct shape: the heavy aggregations are both
    map-side-combinable keyed shuffles, and the only windowed step runs
    over |distinct days| rows (thousands, not billions) — a naive
    per-day COUNT(DISTINCT user) over a growing window would rescan
    the fact table once per day.  All integers; no float anywhere."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    per_day = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# rel_win_cume — distribution window functions: percent_rank and
# cume_dist of order value within each priority class.  Both are exact
# integer rationals ((rank-1)/(n-1), peers_cume/n) so the doubles are
# bitwise-identical across engines with no rounding step.
# ---------------------------------------------------------------------------

_WIN_CUME_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(ntile(10) OVER w AS INT) AS decile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@register("rel_win_cume", _WIN_CUME_ORACLE)
def rel_win_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile over (priority, price) — the
    distribution-window family that rel_win_rank's rank/dense_rank
    does not cover.  One keyed window shuffle on the priority class;
    the (price, orderkey) order key is total, so every engine agrees
    on ranks.  At 100 TB the partition count is the priority-class
    count — for low-cardinality partitions use rel_percentile_bands'
    broadcast-cutpoint formulation instead; this operator is the
    exact-rank surface."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


# ---------------------------------------------------------------------------
# fn_regex — the regular-expression function surface: extract / extract-
# all / replace / match over the documents table.  Patterns are kept in
# the RE2 ∩ Java-regex common subset (character classes, literals,
# quantifiers — no backrefs, no lookaround) so both engines produce
# identical matches with leftmost-earliest semantics.
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT doc_id,
       regexp_extract(text, 'a[a-z]+') AS first_a_word,
       CAST(len(regexp_extract_all(text, 'ta[a-z]*')) AS BIGINT) AS n_ta,
       substr(regexp_replace(text, '[aeiou]', '*', 'g'), 1, 40) AS masked40,
       regexp_matches(text, 'merge.*join') AS has_merge_join
FROM documents
"""


@register("fn_regex", _REGEX_ORACLE)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_extract_all / regexp_replace / rlike —
    all JVM-side row-local expressions: no shuffle, scan-speed, and at
    100 TB they pipeline into whatever scan already runs (composing
    regex gates costs zero extra passes)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "a[a-z]+", 0).alias("first_a_word"),
        F.size(F.expr("regexp_extract_all(text, 'ta[a-z]*', 0)"))
        .cast("long")
        .alias("n_ta"),
        F.substring(F.regexp_replace("text", "[aeiou]", "*"), 1, 40).alias("masked40"),
        F.col("text").rlike("merge.*join").alias("has_merge_join"),
    )


# ---------------------------------------------------------------------------
# rel_join_asof_nearest — nearest-in-time as-of join: for each purchase,
# the signup closest in EITHER direction (the telemetry/finance variant
# where a reading just after the probe is as good as one just before).
# Scalable formulation: one backward pass (last signup ≤ t) + one
# forward pass (first signup ≥ t) over the same keyed sort, then pick
# the nearer — never a per-row range scan.  Ties (equal gap) take the
# earlier signup, matching the oracle's (gap, signup_ts) ranking.
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT user_id, ts FROM events WHERE event_type = 'signup'
), ranked AS (
  SELECT p.event_id, p.user_id,
         CAST(floor(extract(epoch FROM s.ts)) AS BIGINT) AS signup_ts_s,
         abs(CAST(floor(extract(epoch FROM p.ts)) AS BIGINT)
             - CAST(floor(extract(epoch FROM s.ts)) AS BIGINT)) AS gap_s,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY abs(CAST(floor(extract(epoch FROM p.ts)) AS BIGINT)
                        - CAST(floor(extract(epoch FROM s.ts)) AS BIGINT)),
                    s.ts) AS rn
  FROM p JOIN s ON p.user_id = s.user_id
)
-- exported at SECOND granularity (the gap's own precision): any two
-- signups that tie on gap within one side share the floored second, so
-- the exported values are identical no matter which the tie-break
-- picks — tie-proof by construction in both engines
SELECT event_id, user_id, signup_ts_s, CAST(gap_s AS BIGINT) AS gap_s
FROM ranked WHERE rn = 1
"""


@register("rel_join_asof_nearest", _ASOF_NEAREST_ORACLE)
def rel_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join via two windows over ONE keyed sort.

    The oracle is the quadratic per-user definition; this plan is the
    linear one: sort (user, ts) once, carry last-signup-backward and
    first-signup-forward, choose the nearer (backward on ties — equal
    gap means the backward candidate has the smaller ts, which is the
    oracle's tiebreak).  At 100 TB this is two window passes over the
    same exchange — no range join, no per-row rescan.  Purchases with
    no signup on either side are users without signups; the inner-join
    oracle drops them, as does the final filter."""
    ev = table(spark, sf_dir, "events")
    marked = ev.filter(F.col("event_type").isin("signup", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        F.when(F.col("event_type") == "signup", F.unix_timestamp("ts")).alias("sig_s"),
    )
    # equal-second signups sort before purchases in the BACKWARD pass,
    # so a same-second signup is visible there with gap 0 (the forward
    # frame excludes it — purchases precede signups at equal ts_s under
    # the descending order — which is safe ONLY because back_gap <=
    # fwd_gap always takes the backward gap-0 candidate; keep that rule)
    rank = F.when(F.col("event_type") == "signup", F.lit(0)).otherwise(F.lit(1))
    back = (
        W.partitionBy("user_id")
        .orderBy("ts_s", rank, "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_s").desc(), (-rank), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    enriched = marked.select(
        "event_id",
        "user_id",
        "ts",
        "ts_s",
        "event_type",
        F.last("sig_s", ignorenulls=True).over(back).alias("back_s"),
        F.last("sig_s", ignorenulls=True).over(fwd).alias("fwd_s"),
    )
    back_gap = F.col("ts_s") - F.col("back_s")
    fwd_gap = F.col("fwd_s") - F.col("ts_s")
    take_back = F.col("fwd_s").isNull() | (
        F.col("back_s").isNotNull() & (back_gap <= fwd_gap)
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .filter(F.col("back_s").isNotNull() | F.col("fwd_s").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.when(take_back, F.col("back_s")).otherwise(F.col("fwd_s"))
            .cast("long")
            .alias("signup_ts_s"),
            F.when(take_back, back_gap).otherwise(fwd_gap).cast("long").alias("gap_s"),
        )
    )


# ---------------------------------------------------------------------------
# rel_win_ntile — equal-height bucketing (quartiles) within groups: the
# remaining ranking window function the surface lacked (rank/dense_rank/
# row_number/percent_rank/cume_dist are covered by rel_win_rank /
# rel_win_cume).
# ---------------------------------------------------------------------------

_NTILE_ORACLE = """
WITH q AS (
  SELECT c_mktsegment,
         c_custkey,
         c_acctbal,
         CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(c_acctbal) AS DOUBLE) AS lo,
       CAST(max(c_acctbal) AS DOUBLE) AS hi,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
FROM q
GROUP BY c_mktsegment, quartile
"""


@register("rel_win_ntile", _NTILE_ORACLE)
def rel_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile summary of customer balances per market segment via
    ntile(4).  ntile assigns floor/ceil bucket sizes by ROW POSITION,
    so the window's ORDER BY must be a total order for cross-engine
    equality — (c_acctbal, c_custkey) pins every tie.

    One window shuffle on c_mktsegment + one map-side-combinable
    aggregation on (segment, quartile).  At 100 TB, segment cardinality
    is tiny so the window partitions are huge — the production
    formulation pre-aggregates a per-segment CDF sketch or uses
    width_bucket over percentile bounds instead of a single sorted
    window per segment; this operator is the exact-semantics member of
    that family (rel_percentile_bands is the banded one).  min/max on
    doubles are selections (exact); the sum uses the DECIMAL(18,4)
    discipline."""
    c = table(spark, sf_dir, "customer")
    q = c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(4)
        .over(W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey"))
        .cast("long")
        .alias("quartile"),
    )
    return q.groupBy("c_mktsegment", "quartile").agg(
        F.count("*").cast("long").alias("n"),
        F.min("c_acctbal").cast("double").alias("lo"),
        F.max("c_acctbal").cast("double").alias("hi"),
        F.sum(dec("c_acctbal")).cast("double").alias("sum_bal"),
    )


# ---------------------------------------------------------------------------
# rel_agg_distinct_bitmap — EXACT distinct counting via bitmap partial
# aggregation: bucket the key space (bitmap_bucket_number), build one
# fixed-size bitmap per (group, bucket) map-side, OR-merge bitmaps in
# the combiner, sum popcounts.  The exact-answer counterpart of
# rel_agg_approx's HLL: what crosses the shuffle is O(groups × buckets)
# bitmap blobs, never the (group, key) pair stream that a shuffle-
# distinct pays for — at 100 TB with billions of keys per group this is
# the difference between a mergeable index structure and a sort.
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register("rel_agg_distinct_bitmap", _BITMAP_ORACLE)
def rel_agg_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT user_id) per event type computed through Spark's
    bitmap aggregate family — bitmap_bit_position marks each key in its
    bucket's fixed-size bitmap, bitmap_construct_agg builds per-bucket
    bitmaps with map-side combine, and the popcount sum over buckets is
    the exact distinct count.  The oracle is the plain COUNT(DISTINCT)
    — same value, so the row proves the bitmap path exact.

    Two keyed aggregations, both partially aggregable; the second's
    input is |groups|×|touched buckets| bitmap rows (a bucket spans
    32768 positions — ~4 KiB dense), independent of event volume.
    n_events rides the first pass as a plain sum."""
    ev = table(spark, sf_dir, "events")
    sub = ev.select(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("bkt"),
        F.bitmap_bit_position("user_id").alias("pos"),
    )
    per_bucket = sub.groupBy("event_type", "bkt").agg(
        F.bitmap_construct_agg("pos").alias("bm"),
        F.count("*").alias("n"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# fn_hof — the higher-order-function surface as a first-class query:
# transform / filter / exists / forall / aggregate over a per-order
# quantity array.  Array columns are how nested data survives at scale
# (no explode → no row blow-up → no shuffle amplification); this query
# pins the cross-engine semantics of each HOF against DuckDB's list_*
# family.
# ---------------------------------------------------------------------------

_HOF_ORACLE = """
WITH arrs AS (
  SELECT l_orderkey, list(l_quantity ORDER BY l_quantity) AS q
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(q) AS BIGINT) AS n_items,
       CAST(len(list_filter(q, x -> x > 25)) AS BIGINT) AS n_big,
       (len(list_filter(q, x -> x = 50)) > 0) AS has_50,
       (len(list_filter(q, x -> x <= 0)) = 0) AS all_pos,
       CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT))) AS BIGINT)
         AS total_qty,
       CAST(q[len(q)] - q[1] AS DOUBLE) AS qty_range
FROM arrs
"""


@register("fn_hof", _HOF_ORACLE)
def fn_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over a collected per-order array:
    filter (count > 25), exists (= 50), forall (> 0), transform +
    aggregate (integer total), and element arithmetic on the sorted
    array.  The array is sorted (array_sort == DuckDB's ORDER BY in
    list()) so positional reads agree; quantities are whole numbers so
    the cast-to-BIGINT total is order-independent and exact.

    ONE keyed shuffle (the collect_list groupBy, map-side combinable);
    every HOF then runs row-local at scan speed.  This is the nested-
    data idiom for 100 TB: keep line-level detail as arrays inside the
    order row, compute per-order features without ever exploding."""
    li = table(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_quantity")).alias("q")
    )
    q = F.col("q")
    return arrs.select(
        "l_orderkey",
        F.size(q).cast("long").alias("n_items"),
        F.size(F.filter(q, lambda x: x > 25)).cast("long").alias("n_big"),
        F.exists(q, lambda x: x == 50).alias("has_50"),
        F.forall(q, lambda x: x > 0).alias("all_pos"),
        F.aggregate(
            F.transform(q, lambda x: x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_qty"),
        (F.element_at(q, F.size(q)) - F.element_at(q, 1))
        .cast("double")
        .alias("qty_range"),
    )


# ---------------------------------------------------------------------------
# rel_join_interval — interval-OVERLAP self-join: find pairs of
# shipments from the same supplier whose transit windows intersect
# (double-booked capacity, the classic temporal-join ask).  The naive
# formulation is an all-pairs predicate join; the scale formulation
# buckets each interval into the calendar months it spans and equi-
# joins on (supplier, month) — candidates ∝ Σ bucket², exact overlap
# verified on candidates only.  The oracle IS the all-pairs join, so a
# green row proves the bucketing loses no pairs (transit ≤ 14 days <
# one bucket width, so an overlapping pair always shares a month).
# ---------------------------------------------------------------------------

_IV_SUPP_MOD = 10  # audit 1-in-10 suppliers: keeps the all-pairs oracle cheap

_IV_ORACLE = f"""
WITH iv AS (
  SELECT l_suppkey AS sk, l_orderkey AS ok, l_linenumber AS ln,
         CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE)
           + CAST(CAST(l_quantity AS BIGINT) % 14 + 1 AS INTEGER) AS e
  FROM lineitem WHERE l_suppkey % {_IV_SUPP_MOD} = 0
), pairs AS (
  SELECT a.sk,
         date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1 AS ov_days
  FROM iv a JOIN iv b
    ON a.sk = b.sk
   AND (a.ok, a.ln) < (b.ok, b.ln)
   AND a.s <= b.e AND b.s <= a.e
)
SELECT sk,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(ov_days) AS BIGINT) AS sum_ov_days,
       CAST(max(ov_days) AS BIGINT) AS max_ov_days
FROM pairs GROUP BY sk
"""


@register("rel_join_interval", _IV_ORACLE)
def rel_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier overlapping-shipment profile via a bucketed interval
    join.  Each transit interval [shipdate, shipdate + (qty%14)+1 days]
    explodes into the months it touches (≤2 buckets, since transit <
    bucket width); the self-join keys on (supplier, month) — an equi-
    join Catalyst hashes, NEVER the all-pairs theta join the overlap
    predicate naively implies.  Pairs spanning a shared month boundary
    appear in two buckets, so candidates dedupe before aggregation.

    Completeness: overlap ⇒ the pair shares at least one calendar
    month whenever interval length < bucket width — the oracle is the
    unbucketed all-pairs join, so the driver row proves no pair is
    lost.  At 100 TB bucket width trades fan-out (intervals/bucket ×
    replication) against bucket size; hot (supplier, month) buckets
    are the AQE-skew / salting case.  All exports are integer day
    counts — exact by construction."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey") % _IV_SUPP_MOD == 0
    )
    iv = li.select(
        F.col("l_suppkey").alias("sk"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.to_date("l_shipdate").alias("s"),
        F.date_add(
            F.to_date("l_shipdate"),
            (F.col("l_quantity").cast("long") % 14 + 1).cast("int"),
        ).alias("e"),
    )
    mb = lambda d: F.year(d) * 12 + F.month(d)  # noqa: E731
    bucketed = iv.select(
        "sk", "ok", "ln", "s", "e",
        F.explode(F.sequence(mb(F.col("s")), mb(F.col("e")))).alias("mbucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pid_a = F.struct(F.col("a.ok"), F.col("a.ln"))
    pid_b = F.struct(F.col("b.ok"), F.col("b.ln"))
    cand = a.join(
        b,
        (F.col("a.sk") == F.col("b.sk"))
        & (F.col("a.mbucket") == F.col("b.mbucket"))
        & (pid_a < pid_b)
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    ).select(
        F.col("a.sk").alias("sk"),
        F.col("a.ok").alias("aok"), F.col("a.ln").alias("aln"),
        F.col("b.ok").alias("bok"), F.col("b.ln").alias("bln"),
        (
            F.datediff(
                F.least(F.col("a.e"), F.col("b.e")),
                F.greatest(F.col("a.s"), F.col("b.s")),
            )
            + 1
        ).alias("ov_days"),
    ).distinct()
    return cand.groupBy("sk").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("ov_days").cast("long").alias("sum_ov_days"),
        F.max("ov_days").cast("long").alias("max_ov_days"),
    )


# ---------------------------------------------------------------------------
# rel_profile_table — ANALYZE-style column profiling: one pass over the
# table produces per-column (rows, nulls, exact distinct, min, max) —
# the statistics every optimizer / data-quality gate wants before
# touching 100 TB.  Output is one ROW PER COLUMN (the stats-table
# shape), produced by aggregating once and unpivoting the fixed-width
# result — never one scan per column.
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderpriority"]

# DOUBLE columns stringify through an intermediate DECIMAL(18,4): Java
# renders doubles >= 1e7 in scientific notation ('1.23456785E7') while
# DuckDB prints plain decimal — so CAST(double AS VARCHAR) silently
# diverges for any unbounded double column (r5 ADVICE item 3).  The
# decimal hop gives ONE canonical text form in both engines, and min/
# max commute with the monotone cast, so the profiled values are
# unchanged.
_PROFILE_DOUBLE_COLS = {"o_totalprice"}


def _mn_mx_sql(c: str) -> tuple[str, str]:
    if c in _PROFILE_DOUBLE_COLS:
        return (
            f"CAST(CAST(min({c}) AS DECIMAL(18,4)) AS VARCHAR)",
            f"CAST(CAST(max({c}) AS DECIMAL(18,4)) AS VARCHAR)",
        )
    return f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"


_PROFILE_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
""" + ",\n".join(
    f"""    CAST(count({c}) AS BIGINT) AS nn_{c},
    CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c},
    {_mn_mx_sql(c)[0]} AS mn_{c},
    {_mn_mx_sql(c)[1]} AS mx_{c}"""
    for c in _PROFILE_COLS
) + """
  FROM orders
)
""" + "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, n_rows,
       CAST(n_rows - nn_{c} AS BIGINT) AS n_nulls,
       nd_{c} AS n_distinct, mn_{c} AS min_str, mx_{c} AS max_str
FROM s"""
    for c in _PROFILE_COLS
)


@register("rel_profile_table", _PROFILE_ORACLE)
def rel_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of `orders`: rows, nulls, EXACT distinct, min and
    max (stringified so one schema fits every column type) for five
    columns, one row per column.

    ONE aggregation pass computes everything (Catalyst plans the
    multi-countDistinct via expand — m× row amplification for m
    distinct columns, the standard exact-profile cost; the sketch tier
    of the same decision is rel_agg_approx's HLL and the bitmap tier
    rel_agg_distinct_bitmap).  The wide 1-row result then unpivots to
    the stats-table shape driver-side-free (stack over literals).  At
    100 TB you profile a SAMPLE or use the sketch tier; the operator
    shape — single pass, never per-column scans — is the part that
    scales."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in _PROFILE_COLS:
        mn, mx = F.min(c), F.max(c)
        if c in _PROFILE_DOUBLE_COLS:
            # decimal hop before stringify — see _PROFILE_DOUBLE_COLS
            mn, mx = mn.cast("decimal(18,4)"), mx.cast("decimal(18,4)")
        aggs += [
            F.count(c).cast("long").alias(f"nn_{c}"),
            F.countDistinct(c).cast("long").alias(f"nd_{c}"),
            mn.cast("string").alias(f"mn_{c}"),
            mx.cast("string").alias(f"mx_{c}"),
        ]
    s = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return s.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_str, max_str)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_str",
        "max_str",
    )


# ---------------------------------------------------------------------------
# fn_url — URL component extraction, the function family web-corpus
# pipelines run on every record.  The corpus has no URL column, so the
# deterministic raw URL from llm_url_dedup's model is rebuilt here;
# extraction uses the SAME regexes in both engines (Java and RE2-ish
# DuckDB agree on this subset), not Spark's parse_url (no DuckDB
# counterpart to pin it against).
# ---------------------------------------------------------------------------

_URL_RE_SCHEME = "^([a-z]+)://"
_URL_RE_HOST = "^[a-z]+://([^/]+)/"
_URL_RE_PATH = r"^[a-z]+://[^/]+(/[^?]*)"
_URL_RE_REF = r"[?&]ref=([0-9]+)"

_FN_URL_ORACLE = f"""
WITH u AS (
  SELECT doc_id,
         'https://www.' || source || '.example.com/p/'
           || CAST(doc_id % 40 AS VARCHAR)
           || '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) AS raw_url
  FROM documents
)
SELECT doc_id,
       regexp_extract(raw_url, '{_URL_RE_SCHEME}', 1) AS scheme,
       regexp_extract(raw_url, '{_URL_RE_HOST}', 1) AS host,
       regexp_extract(raw_url, '{_URL_RE_PATH}', 1) AS path,
       CAST(regexp_extract(raw_url, '{_URL_RE_REF}', 1) AS BIGINT) AS ref_id,
       (regexp_extract(raw_url, '{_URL_RE_HOST}', 1) LIKE 'www.%') AS has_www
FROM u
"""


@register("fn_url", _FN_URL_ORACLE)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface: scheme / host / path / numeric query param
    extracted with regexes shared verbatim by both engines (the
    Java ∩ DuckDB regex subset fn_regex also pins).  Row-local, zero
    shuffle — at 100 TB this is scan-speed column derivation feeding
    llm_url_dedup's normalization and per-host partitioning."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("?utm_source=feed&ref="),
        F.col("doc_id").cast("string"),
    )
    u = d.select("doc_id", raw.alias("raw_url"))
    host = F.regexp_extract("raw_url", _URL_RE_HOST, 1)
    return u.select(
        "doc_id",
        F.regexp_extract("raw_url", _URL_RE_SCHEME, 1).alias("scheme"),
        host.alias("host"),
        F.regexp_extract("raw_url", _URL_RE_PATH, 1).alias("path"),
        F.regexp_extract("raw_url", _URL_RE_REF, 1).cast("long").alias("ref_id"),
        host.startswith("www.").alias("has_www"),
    )


# ---------------------------------------------------------------------------
# rel_weighted_percentile — weighted percentiles (p50/p90 of lineitem
# quantity weighted by extended price): the "where does the MONEY
# concentrate" quantile, not the row quantile — the form revenue/cost
# analyses actually need (TimescaleDB/ClickHouse quantileExactWeighted
# parity).  Selection rule: under the total order (l_quantity,
# l_orderkey, l_linenumber), the weighted p-th percentile is the FIRST
# row whose running cumulative weight reaches p% of the group total —
# an integer cross-multiply (cum*100 >= p*total on BIGINT cents), so
# the selected row (and therefore the exported value) is identical in
# both engines; no interpolation, no double comparisons.
#
# Scale shape: ONE window sort per group (the exact-quantile cost —
# the sketch tier is rel_agg_approx's percentile_approx) + a 1-row-per
# -group broadcastable totals aggregate folded in via the same window
# (sum over the full frame), then a 3-group aggregate.
# ---------------------------------------------------------------------------

_WPCT_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS flag, l_quantity,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT flag, l_quantity, cents,
         sum(cents) OVER (PARTITION BY flag ORDER BY l_quantity, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cents) OVER (PARTITION BY flag) AS total
  FROM w
)
SELECT flag,
       CAST(max(total) AS BIGINT) AS total_cents,
       min(CASE WHEN cum * 100 >= 50 * total THEN l_quantity END) AS p50_qty,
       min(CASE WHEN cum * 100 >= 90 * total THEN l_quantity END) AS p90_qty
FROM c
GROUP BY flag
"""


@register("rel_weighted_percentile", _WPCT_ORACLE)
def rel_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted p50/p90 of l_quantity by price weight per returnflag.
    The percentile VALUE is min(quantity | cum*100 >= p*total) — valid
    because quantity is the leading sort key, so the first row reaching
    the threshold also has the minimal quantity among qualifying rows;
    integer cross-multiply keeps the row choice bit-identical."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ordered = W.partitionBy("flag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    c = w.select(
        "flag",
        "l_quantity",
        F.sum("cents")
        .over(ordered.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.sum("cents").over(W.partitionBy("flag")).alias("total"),
    )
    return c.groupBy("flag").agg(
        F.max("total").cast("long").alias("total_cents"),
        F.min(
            F.when(F.col("cum") * 100 >= 50 * F.col("total"), F.col("l_quantity"))
        ).alias("p50_qty"),
        F.min(
            F.when(F.col("cum") * 100 >= 90 * F.col("total"), F.col("l_quantity"))
        ).alias("p90_qty"),
    )


# ---------------------------------------------------------------------------
# rel_skew_profile — join-key skew report: the measurement that decides
# between a plain shuffle join, AQE skew splitting, and explicit
# salting (rel_join_skew_salt's knob).  Over orders.o_custkey: per-key
# counts ranked descending, then the concentration curve — how many
# rows the top-1 / top-10 / top-100 keys hold — as integer
# cross-multiply-safe counts plus exact integer-ratio shares.
#
# Scale shape: one key-count aggregation (map-side combinable), a
# TakeOrdered top-100 of the KEY-COUNT table (the only global sort —
# limit-pushed, never a full-table window), a 100-row local rank, one
# 1-row totals broadcast.  Every band is derived from the top-100
# rows, so nothing ranks |distinct keys| rows.
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH kc AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT k, n, row_number() OVER (ORDER BY n DESC, k) AS rk FROM kc
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS total_keys,
         CAST(max(n) AS BIGINT) AS max_key_rows
  FROM kc
), bands AS (
  SELECT CAST(1 AS BIGINT) AS top_k,
         CAST(sum(n) FILTER (WHERE rk <= 1) AS BIGINT) AS rows_in_band
  FROM ranked
  UNION ALL
  SELECT 10, CAST(sum(n) FILTER (WHERE rk <= 10) AS BIGINT) FROM ranked
  UNION ALL
  SELECT 100, CAST(sum(n) FILTER (WHERE rk <= 100) AS BIGINT) FROM ranked
)
SELECT b.top_k, b.rows_in_band, t.total_rows, t.total_keys,
       t.max_key_rows,
       CAST(b.rows_in_band AS DOUBLE) / t.total_rows AS share
FROM bands b, tot t
"""


@register("rel_skew_profile", _SKEW_ORACLE)
def rel_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-concentration profile of orders.o_custkey (top-1/10/100 key
    bands): the salting/AQE decision input.  share is an
    integer-ratio double."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    kc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").cast("long").alias("n")
    )
    # TakeOrdered top-100 FIRST; the rank window then runs over <= 100
    # rows (never the full key-count table)
    top100 = kc.orderBy(F.col("n").desc(), "k").limit(100)
    ranked = stage(
        top100.withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "k"))
        )
    )
    tot = kc.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.count("*").cast("long").alias("total_keys"),
        F.max("n").cast("long").alias("max_key_rows"),
    )
    bands = None
    for top_k in (1, 10, 100):
        b = ranked.filter(F.col("rk") <= top_k).agg(
            F.lit(top_k).cast("long").alias("top_k"),
            F.sum("n").cast("long").alias("rows_in_band"),
        )
        bands = b if bands is None else bands.unionByName(b)
    return bands.crossJoin(F.broadcast(tot)).select(
        "top_k",
        "rows_in_band",
        "total_rows",
        "total_keys",
        "max_key_rows",
        (F.col("rows_in_band").cast("double") / F.col("total_rows")).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# rel_funnel_windowed — rel_funnel with CONVERSION DEADLINES: each
# stage must follow the previous one within 24 h (the form product
# funnels actually use — "viewed within a day of signing up"), plus
# integer conversion-time stats.  Same scale shape as rel_funnel:
# every stage is a keyed min-aggregate joined back on user_id — one
# partitioning amortized across the funnel; deadlines are integer
# epoch-second comparisons.
# ---------------------------------------------------------------------------

_FUNNEL_WIN_S = 86_400

_FUNNEL_WINDOWED_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS t
  FROM events
), s1 AS (
  SELECT user_id, MIN(t) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.t) AS t2, MIN(s1.t1) AS t1
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.t > s1.t1 AND e.t <= s1.t1 + {_FUNNEL_WIN_S}
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.t) AS t3, MIN(s2.t2) AS t2, MIN(s2.t1) AS t1
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.t > s2.t2 AND e.t <= s2.t2 + {_FUNNEL_WIN_S}
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_view_24h,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchase_24h,
       CAST((SELECT coalesce(sum(t2 - t1), 0) FROM s2) AS BIGINT)
         AS sum_signup_to_view_s,
       CAST((SELECT coalesce(max(t3 - t1), 0) FROM s3) AS BIGINT)
         AS max_signup_to_purchase_s
"""


@register("rel_funnel_windowed", _FUNNEL_WINDOWED_ORACLE)
def rel_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel: signup → view within 24 h → purchase within a
    further 24 h, with integer conversion-time stats."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.join(s1, "user_id")
        .filter(
            (F.col("event_type") == "view")
            & (F.col("t") > F.col("t1"))
            & (F.col("t") <= F.col("t1") + _FUNNEL_WIN_S)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.join(s2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("t") > F.col("t2"))
            & (F.col("t") <= F.col("t2") + _FUNNEL_WIN_S)
        )
        .groupBy("user_id")
        .agg(
            F.min("t").alias("t3"),
            F.min("t2").alias("t2"),
            F.min("t1").alias("t1"),
        )
    )
    a1 = s1.agg(F.count("*").cast("long").alias("n_signup"))
    a2 = s2.agg(
        F.count("*").cast("long").alias("n_view_24h"),
        F.coalesce(F.sum(F.col("t2") - F.col("t1")), F.lit(0))
        .cast("long")
        .alias("sum_signup_to_view_s"),
    )
    a3 = s3.agg(
        F.count("*").cast("long").alias("n_purchase_24h"),
        F.coalesce(F.max(F.col("t3") - F.col("t1")), F.lit(0))
        .cast("long")
        .alias("max_signup_to_purchase_s"),
    )
    return (
        a1.crossJoin(a2)
        .crossJoin(a3)
        .select(
            "n_signup",
            "n_view_24h",
            "n_purchase_24h",
            "sum_signup_to_view_s",
            "max_signup_to_purchase_s",
        )
    )


# ---------------------------------------------------------------------------
# rel_agg_mad — robust dispersion: median absolute deviation from the
# per-group median.  Outlier-resistant where stddev is not (the
# robust-statistics tier next to rel_agg_stats' moments and
# rel_agg_median's quantiles).  Two exact percentile passes over the
# SAME group key (medians broadcast back between them — O(groups)
# rows); both engines interpolate identical middle elements
# (rel_agg_median pins percentile == quantile_cont bit-equality), and
# the deviation |x − m| is the same double arithmetic on both sides.
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS m
  FROM orders GROUP BY o_orderstatus
), dev AS (
  SELECT o.o_orderstatus, abs(o.o_totalprice - med.m) AS d, med.m
  FROM orders o JOIN med USING (o_orderstatus)
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       max(m) AS median_price,
       quantile_cont(d, 0.5) AS mad
FROM dev
GROUP BY o_orderstatus
"""


@register("rel_agg_mad", _MAD_ORACLE)
def rel_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per order status: exact median, then
    exact median of |price − median| with the group medians broadcast
    between the two passes."""
    o = table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("m")
    )
    dev = o.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        "m",
        F.abs(F.col("o_totalprice") - F.col("m")).alias("d"),
    )
    return dev.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.max("m").alias("median_price"),
        F.percentile("d", F.lit(0.5)).alias("mad"),
    )


# ---------------------------------------------------------------------------
# fn_interval — timestamp/interval arithmetic battery: the datetime
# surface fn_date doesn't cover (interval add/subtract, epoch-exact
# differences, truncation ladder, end-of-month clamping).  Pinned
# engine-to-engine on expressions where Spark and DuckDB agree by
# construction: integer epoch seconds, day arithmetic, date_trunc to
# hour/day/week.  (months_between-style fractional-month semantics are
# deliberately EXCLUDED — the two engines round differently, and an
# exactness suite must not export engine-specific conventions.)
# ---------------------------------------------------------------------------

_FN_INTERVAL_ORACLE = """
SELECT event_id,
       ts + INTERVAL 90 MINUTE AS plus_90m,
       ts - INTERVAL 2 DAY AS minus_2d,
       date_trunc('hour', ts) AS trunc_hour,
       date_trunc('day', ts) AS trunc_day,
       CAST(floor(extract(epoch FROM ts)) AS BIGINT) % 86400 AS sec_of_day,
       CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
         AS days_since_epoch0,
       CAST(extract(dow FROM ts) AS BIGINT) AS dow,
       last_day(CAST(ts AS DATE)) AS month_end
FROM events
WHERE event_id % 37 = 0
"""


@register("fn_interval", _FN_INTERVAL_ORACLE)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic / truncation / calendar battery over a
    deterministic event sample.  DOW convention pinned: both engines
    export Sunday=0 (DuckDB dow) — Spark's dayofweek is Sunday=1, so
    the export subtracts 1."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 37 == 0)
    return ev.select(
        "event_id",
        F.expr("ts + INTERVAL 90 MINUTE").alias("plus_90m"),
        F.expr("ts - INTERVAL 2 DAY").alias("minus_2d"),
        F.date_trunc("hour", "ts").alias("trunc_hour"),
        F.date_trunc("day", "ts").alias("trunc_day"),
        (F.unix_timestamp("ts") % 86400).cast("long").alias("sec_of_day"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch0"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.last_day(F.col("ts").cast("date")).alias("month_end"),
    )


# ---------------------------------------------------------------------------
# rel_histogram_equi_depth — equi-DEPTH histogram (rel_histogram is
# equi-width): 10 bins each holding ~n/10 rows via ntile over the
# total order (o_totalprice, o_orderkey), with per-bin boundaries,
# counts and exact cents sums.  Equi-depth edges are what optimizers
# store (selectivity is uniform per bin by construction).  The global
# sort is the exact-histogram cost — at 100 TB the edges come from
# rel_agg_approx's percentile sketch or a range-partitioned sample;
# this is the exact tier.
# ---------------------------------------------------------------------------

_EQUI_DEPTH_ORACLE = """
WITH t AS (
  SELECT o_totalprice,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM t
GROUP BY bin
"""


@register("rel_histogram_equi_depth", _EQUI_DEPTH_ORACLE)
def rel_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bin equi-depth histogram of order totals under the
    (o_totalprice, o_orderkey) total order — deterministic bin
    membership, exact boundaries and cents sums."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    t = o.select(
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.ntile(10)
        .over(W.orderBy("o_totalprice", "o_orderkey"))
        .cast("long")
        .alias("bin"),
    )
    return t.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# rel_ivm_join — INCREMENTAL VIEW MAINTENANCE for a JOIN view (the join
# twin of cdc_incremental_agg's aggregate maintenance): the stored view
# V = O ⋈ L is maintained under simultaneous deltas on BOTH sides by
# the classic differential identity
#
#   (O ∪ ΔO) ⋈ (L ∪ ΔL) = V ∪ ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL
#
# — three batch-sized joins instead of one corpus-sized one.  At 100 TB
# the three delta joins touch |Δ| rows on one side each (the stored
# view and base tables bucketed on the join key make them co-located),
# so view maintenance costs per-batch work, never a full re-join.  The
# deltas here are deterministic md5-bucket samples (arrival is
# independent of the join key — a key-range split would make the cross
# terms vacuously empty and prove nothing).
#
# The proof is the oracle: Spark computes ONLY the four-term union and
# aggregates it; DuckDB joins the full tables from scratch; the value
# hash certifies the identity bit-exactly (DECIMAL(12,4) revenue).
# ---------------------------------------------------------------------------

_IVM_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))"
)


@register(
    "rel_ivm_join",
    f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(SUM({_IVM_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def rel_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain O ⋈ L incrementally under deltas on both sides and
    prove it equals the full re-join (see block comment).  ΔO = 20%
    md5-bucket sample of orders, ΔL = 30% sample of lineitems keyed by
    (orderkey, linenumber); the old view O_old ⋈ L_old is pinned as the
    stored-view stand-in, then the three delta joins are unioned in and
    the maintained view is aggregated."""
    from maxscale_cdc_spark.functions.sample import hash_sample

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(12,4)").alias("price"),
        (F.lit(1) - F.col("l_discount")).cast("decimal(12,4)").alias("mult"),
    )
    d_o = hash_sample("o_orderkey", 20)
    d_l = hash_sample(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        ),
        30,
    )
    o_old, o_new = o.filter(~d_o), o.filter(d_o)
    l_old, l_new = l.filter(~d_l), l.filter(d_l)

    def j(os: DataFrame, ls: DataFrame) -> DataFrame:
        return os.join(ls, os.o_orderkey == ls.l_orderkey).select(
            "o_orderpriority", "price", "mult"
        )

    v_old = stage(j(o_old, l_old))  # the stored view
    maintained = (
        v_old.unionByName(j(o_new, l_old))
        .unionByName(j(o_old, l_new))
        .unionByName(j(o_new, l_new))
    )
    return maintained.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum(F.col("price") * F.col("mult")), 2)
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# rel_ewma_dyadic — exponentially-weighted moving average with DYADIC
# weights (α = 1/2, depth 8): the one EWMA both engines can compute
# bit-exactly, because every weight is a power of two and the value is
# integer cents — the numerator is a BIGINT dot product with weights
# 2^7..2^0 over the last 8 observations and the denominator the
# matching weight sum, so no float accumulation order can differ.
# Missing leading history simply drops those weights (no
# renormalization division); the smoothed value is exported as the
# exact integer division num // den ALONGSIDE num and den, so a
# consumer can re-derive any precision it wants.
# ---------------------------------------------------------------------------

_EWMA_DEPTH = 8


def _ewma_terms_sql() -> tuple[str, str]:
    num, den = [], []
    for k in range(_EWMA_DEPTH):
        w = 1 << (_EWMA_DEPTH - 1 - k)
        lagv = (
            f"lag(v_cents, {k}) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id)"
        )
        num.append(f"coalesce({lagv} * {w}, 0)")
        den.append(f"CASE WHEN {lagv} IS NOT NULL THEN {w} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_terms_sql()

_EWMA_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS v_cents
  FROM events
), terms AS (
  SELECT user_id, event_id,
         CAST({_EWMA_NUM_SQL} AS BIGINT) AS ewma_num,
         CAST({_EWMA_DEN_SQL} AS BIGINT) AS ewma_den
  FROM ev
)
SELECT user_id, event_id, ewma_num, ewma_den,
       CAST(ewma_num // ewma_den AS BIGINT) AS ewma_cents
FROM terms
"""


@register("rel_ewma_dyadic", _EWMA_ORACLE)
def rel_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dyadic EWMA over the event stream: 8 lag() reads share
    ONE window partitioning (a single keyed shuffle + sort), all
    arithmetic BIGINT.  At 100 TB this is the feature-engineering shape
    (rel_lag_features' sibling) with the smoothing folded into exact
    integer weights."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("v_cents"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = F.lit(0).cast("long"), F.lit(0).cast("long")
    for k in range(_EWMA_DEPTH):
        wt = 1 << (_EWMA_DEPTH - 1 - k)
        lagv = F.lag("v_cents", k).over(w)
        num = num + F.coalesce(lagv * wt, F.lit(0))
        den = den + F.when(lagv.isNotNull(), wt).otherwise(0)
    terms = ev.select(
        "user_id",
        "event_id",
        num.cast("long").alias("ewma_num"),
        den.cast("long").alias("ewma_den"),
    )
    return terms.select(
        "user_id",
        "event_id",
        "ewma_num",
        "ewma_den",
        F.expr("div(ewma_num, ewma_den)").cast("long").alias("ewma_cents"),
    )


# ---------------------------------------------------------------------------
# rel_referential_integrity — FK orphan audit across the three core
# relationships (lineitem→orders, orders→customer, customer→nation):
# per relationship, child rows, orphaned child rows (LEFT ANTI), and
# distinct orphan keys.  The data-quality gate every CDC-fed warehouse
# runs after a backfill — deletes arriving out of order routinely strand
# children.  Three anti-joins, each a plain keyed join at scale (the
# parent side of customer→nation broadcasts; the others shuffle on
# their natural keys).
# ---------------------------------------------------------------------------


@register(
    "rel_referential_integrity",
    """
    SELECT 'lineitem->orders' AS rel,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS n_orphans,
           CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS n_orphan_keys
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders r
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = r.o_custkey)) AS BIGINT),
           CAST((SELECT count(DISTINCT o_custkey) FROM orders r
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = r.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
           CAST((SELECT count(DISTINCT c_nationkey) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def rel_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan counts for the three core relationships via LEFT ANTI
    joins (see block comment)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")

    def audit(child: DataFrame, key: str, parent: DataFrame, pkey: str, rel: str,
              broadcast_parent: bool = False) -> DataFrame:
        p = F.broadcast(parent) if broadcast_parent else parent
        orphans = child.join(p, child[key] == p[pkey], "left_anti")
        tot = child.agg(F.count("*").cast("long").alias("n_child"))
        orp = orphans.agg(
            F.count("*").cast("long").alias("n_orphans"),
            F.countDistinct(key).cast("long").alias("n_orphan_keys"),
        )
        return tot.crossJoin(orp).select(
            F.lit(rel).alias("rel"), "n_child", "n_orphans", "n_orphan_keys"
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(
            audit(c, "c_nationkey", n, "n_nationkey", "customer->nation",
                  broadcast_parent=True)
        )
    )


# ---------------------------------------------------------------------------
# rel_outlier_mad — row-level ROBUST outlier detection: flag rows more
# than 3 MADs from their group median (the robust z-score — immune to
# the outliers themselves, unlike stddev-based flags, which is the
# whole point of using MAD as the scale estimate).  Two broadcast-back
# passes over one group key, same as rel_agg_mad; the flag compares
# doubles that are bit-identical cross-engine because median/MAD come
# from the same interpolated-percentile values rel_agg_mad already
# certifies and |x−m| / 3·mad are single IEEE ops on them.
# ---------------------------------------------------------------------------


@register(
    "rel_outlier_mad",
    """
    WITH med AS (
      SELECT o_orderstatus, median(o_totalprice) AS m
      FROM orders GROUP BY o_orderstatus
    ), dev AS (
      SELECT o.o_orderstatus, o.o_totalprice, med.m,
             abs(o.o_totalprice - med.m) AS d
      FROM orders o JOIN med USING (o_orderstatus)
    ), mad AS (
      SELECT o_orderstatus, median(d) AS mad FROM dev GROUP BY o_orderstatus
    ), flagged AS (
      SELECT dev.o_orderstatus, dev.o_totalprice,
             dev.d > 3 * mad.mad AS is_outlier
      FROM dev JOIN mad USING (o_orderstatus)
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           max(CASE WHEN is_outlier THEN o_totalprice END) AS max_outlier_price
    FROM flagged
    GROUP BY o_orderstatus
    """,
)
def rel_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status robust outlier counts at the 3-MAD fence (see block
    comment)."""
    o = table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("m")
    )
    dev = o.join(F.broadcast(med), "o_orderstatus").select(
        "o_orderstatus",
        "o_totalprice",
        F.abs(F.col("o_totalprice") - F.col("m")).alias("d"),
    )
    mad = dev.groupBy("o_orderstatus").agg(
        F.percentile("d", F.lit(0.5)).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "o_orderstatus").select(
        "o_orderstatus",
        "o_totalprice",
        (F.col("d") > 3 * F.col("mad")).alias("is_outlier"),
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.max(F.when(F.col("is_outlier"), F.col("o_totalprice"))).alias(
            "max_outlier_price"
        ),
    )


# ---------------------------------------------------------------------------
# rel_ivm_distinct — INCREMENTAL distinct-count maintenance, the IVM
# family's ordered-set member (joins: rel_ivm_join; sums:
# cdc_incremental_agg; intervals: cdc_scd2_merge_history; signatures:
# llm_dedup_incremental; ANN: llm_ivf_incremental).  COUNT(DISTINCT)
# is not partially-aggregable, so the stored state is the distinct
# KEY SET itself (per group) — at 100 TB a bucketed parquet key store;
# here the base-slice lineage.  A new batch maintains it with ONE
# anti-join (batch-distinct against stored keys): merged = stored +
# genuinely-new, never a full re-distinct of history.  The oracle
# recomputes the full distinct from scratch AND the incremental sum —
# both exported, so the green row certifies merged == full bit-exactly.
# ---------------------------------------------------------------------------


@register(
    "rel_ivm_distinct",
    """
    WITH cut AS (SELECT (max(event_id) * 4) // 5 AS c FROM events),
    b AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_id <= (SELECT c FROM cut)
    ), d AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_id > (SELECT c FROM cut)
    ), newu AS (
      SELECT d.event_type, d.user_id FROM d
      WHERE NOT EXISTS (
        SELECT 1 FROM b
        WHERE b.event_type = d.event_type AND b.user_id = d.user_id
      )
    ), stored AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS stored_distinct
      FROM b GROUP BY event_type
    ), fresh AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS batch_new_distinct
      FROM newu GROUP BY event_type
    ), full_cnt AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS full_distinct
      FROM events GROUP BY event_type
    )
    SELECT f.event_type,
           CAST(coalesce(s.stored_distinct, 0) AS BIGINT) AS stored_distinct,
           CAST(coalesce(n.batch_new_distinct, 0) AS BIGINT) AS batch_new_distinct,
           CAST(coalesce(s.stored_distinct, 0)
                + coalesce(n.batch_new_distinct, 0) AS BIGINT) AS merged_distinct,
           f.full_distinct
    FROM full_cnt f
    LEFT JOIN stored s ON s.event_type = f.event_type
    LEFT JOIN fresh n ON n.event_type = f.event_type
    """,
)
def rel_ivm_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental COUNT(DISTINCT) maintenance (see block comment):
    batch-distinct anti-joined against the stored key set; the oracle's
    full recompute is exported beside the incremental sum, certifying
    the identity."""
    ev = table(spark, sf_dir, "events")
    cut = int(
        ev.agg(F.expr("div(max(event_id) * 4, 5)").alias("c")).collect()[0]["c"]
    )
    b = ev.filter(F.col("event_id") <= cut).select("event_type", "user_id").distinct()
    d = ev.filter(F.col("event_id") > cut).select("event_type", "user_id").distinct()
    newu = d.join(b, ["event_type", "user_id"], "left_anti")
    stored = b.groupBy("event_type").agg(
        F.count("*").cast("long").alias("stored_distinct")
    )
    fresh = newu.groupBy("event_type").agg(
        F.count("*").cast("long").alias("batch_new_distinct")
    )
    full_cnt = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("full_distinct")
    )
    return (
        full_cnt.join(stored, "event_type", "left")
        .join(fresh, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("stored_distinct", F.lit(0)).cast("long").alias(
                "stored_distinct"
            ),
            F.coalesce("batch_new_distinct", F.lit(0)).cast("long").alias(
                "batch_new_distinct"
            ),
            (
                F.coalesce("stored_distinct", F.lit(0))
                + F.coalesce("batch_new_distinct", F.lit(0))
            )
            .cast("long")
            .alias("merged_distinct"),
            "full_distinct",
        )
    )


# ---------------------------------------------------------------------------
# rel_rollup_refresh — CONTINUOUS-AGGREGATE maintenance (the
# TimescaleDB/materialized-rollup pattern): an hourly (hr, event_type)
# rollup materialized up to the 70% sequence cutover is refreshed with
# the post-cutover delta by ADDITIVE merge — sum/count buckets compose,
# so the stored table is never rescanned and the refresh cost is
# |delta buckets|, not |history|.  `refreshed` marks the buckets the
# delta touched (the invalidation set a scheduler would requeue).
# The oracle recomputes the rollup from the WHOLE log — the green row
# certifies merged == full bit-exactly (the rel_ivm_join discipline
# applied to the time-bucketed rollup).
#
# Scale: two keyed aggs sharing the (hr, event_type) partitioning and
# one full-outer merge join on the same key; the cutover is a 1-row
# in-plan broadcast (no driver read).  Integer exports only: hr =
# BIGINT epoch-hour (div == //), cents summed as BIGINT.
# ---------------------------------------------------------------------------

_ROLLUP_REFRESH_ORACLE = """
WITH cut AS (SELECT max(event_id) * 7 // 10 AS c FROM events),
  base AS (
    SELECT CAST(floor(extract(epoch FROM ts)) AS BIGINT) // 3600 AS hr,
           event_type,
           event_id,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
  )
SELECT hr, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS cents,
       max(CASE WHEN b.event_id > cut.c THEN 1 ELSE 0 END) = 1 AS refreshed
FROM base b, cut
GROUP BY hr, event_type
"""


@register("rel_rollup_refresh", _ROLLUP_REFRESH_ORACLE)
def rel_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive refresh of a materialized hourly rollup with the
    post-cutover delta, certified against the full recompute (see
    block comment)."""
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(F.expr("div(max(event_id) * 7, 10)").alias("c"))
    base = ev.join(F.broadcast(cut)).select(
        F.expr("div(unix_timestamp(ts), 3600)").alias("hr"),
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.col("c"),
    )

    def rollup(df):
        return df.groupBy("hr", "event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cts"),
        )

    stored = rollup(base.filter(F.col("event_id") <= F.col("c")))
    delta = rollup(base.filter(F.col("event_id") > F.col("c")))
    s = stored.select(
        "hr", "event_type", F.col("n").alias("n_s"), F.col("cts").alias("c_s")
    )
    d = delta.select(
        "hr", "event_type", F.col("n").alias("n_d"), F.col("cts").alias("c_d")
    )
    merged = s.join(d, ["hr", "event_type"], "full")
    zero = F.lit(0).cast("long")
    return merged.select(
        "hr",
        "event_type",
        (F.coalesce("n_s", zero) + F.coalesce("n_d", zero))
        .cast("long")
        .alias("n_events"),
        (F.coalesce("c_s", zero) + F.coalesce("c_d", zero))
        .cast("long")
        .alias("cents"),
        F.col("n_d").isNotNull().alias("refreshed"),
    )


# ---------------------------------------------------------------------------
# rel_ivm_topk — INCREMENTAL top-k maintenance, the IVM family's
# ORDER-STATISTIC member (joins: rel_ivm_join; distincts:
# rel_ivm_distinct; rollups: rel_rollup_refresh).  For insert-only
# streams a per-group top-k over ROW scores maintains with k-bounded
# state: merged_topk = topk(stored_topk ∪ batch_topk) — a displaced
# row can never re-enter, so the stored view IS sufficient state and
# the refresh never rescans history.  (Aggregated scores break this
# identity — that case is rel_rollup_refresh's additive-merge
# territory.)  The oracle recomputes the full top-k from the whole
# log and exports it beside the merged rows; `matches_full` certifies
# the k-bounded identity per rank.
#
# Exactness: `value` doubles are ordered and exported, never
# arithmetically combined; the (value DESC, event_id) tie-break is a
# total order in both engines.  Scale: two k-bounded rank windows
# sharing the event_type partitioning + one k·|groups|-row merge —
# the stored side reads the materialized view, never the base table.
# ---------------------------------------------------------------------------

_IVM_TOPK = 3


@register(
    "rel_ivm_topk",
    f"""
    WITH cut AS (SELECT (max(event_id) * 4) // 5 AS c FROM events),
    stored AS (
      SELECT event_type, event_id, value, 'stored' AS src FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS r
        FROM events WHERE event_id <= (SELECT c FROM cut)
      ) WHERE r <= {_IVM_TOPK}
    ),
    batch AS (
      SELECT event_type, event_id, value, 'batch' AS src FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS r
        FROM events WHERE event_id > (SELECT c FROM cut)
      ) WHERE r <= {_IVM_TOPK}
    ),
    merged AS (
      SELECT event_type, event_id, value, src, CAST(r AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS r
        FROM (SELECT * FROM stored UNION ALL SELECT * FROM batch)
      ) WHERE r <= {_IVM_TOPK}
    ),
    full_k AS (
      SELECT event_type, event_id AS full_event_id, CAST(r AS BIGINT) AS rk FROM (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS r
        FROM events
      ) WHERE r <= {_IVM_TOPK}
    )
    SELECT m.event_type, m.rk, m.event_id, m.value, m.src,
           f.full_event_id, (m.event_id = f.full_event_id) AS matches_full
    FROM merged m JOIN full_k f ON f.event_type = m.event_type AND f.rk = m.rk
    """,
)
def rel_ivm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-group top-k via the k-bounded merge identity
    (see block comment); full recompute exported beside it."""
    ev = table(spark, sf_dir, "events")
    cut = int(
        ev.agg(F.expr("div(max(event_id) * 4, 5)").alias("c")).collect()[0]["c"]
    )
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")

    def topk(df: DataFrame, src: str) -> DataFrame:
        return (
            df.select("event_type", "event_id", "value")
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= _IVM_TOPK)
            .select("event_type", "event_id", "value", F.lit(src).alias("src"))
        )

    stored = topk(ev.filter(F.col("event_id") <= cut), "stored")
    batch = topk(ev.filter(F.col("event_id") > cut), "batch")
    merged = (
        stored.unionByName(batch)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _IVM_TOPK)
        .select("event_type", F.col("r").cast("long").alias("rk"),
                "event_id", "value", "src")
    )
    full_k = (
        ev.select("event_type", "event_id", "value")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _IVM_TOPK)
        .select(
            "event_type",
            F.col("r").cast("long").alias("rk"),
            F.col("event_id").alias("full_event_id"),
        )
    )
    return merged.join(full_k, ["event_type", "rk"]).select(
        "event_type",
        "rk",
        "event_id",
        "value",
        "src",
        "full_event_id",
        (F.col("event_id") == F.col("full_event_id")).alias("matches_full"),
    )


# ---------------------------------------------------------------------------
# rel_dist_drift — DISTRIBUTION-shape drift of a numeric column between
# corpus generations (the PSI-class production monitor; cdc_value_drift
# tracks only the MEAN).  The old slice (event_id ≤ the 80% cutover)
# defines 10 equi-depth buckets via ntile over the (value, event_id)
# total order; its 9 internal edges (per-decile max) bucket the new
# slice; per bucket the share shift is the pure-BIGINT cross-multiply
# d = n_new·N_old − n_old·N_new, flagged when the relative deviation
# exceeds 5% (20·|d| > n_old·N_new — no division anywhere).  PSI's
# logarithm is deliberately NOT exported (CLAUDE.md rule 3: no log);
# the per-bucket integer ledger carries strictly more information.
#
# Scale: one rank window over the old slice (the sort is the price of
# exact equi-depth; production uses the approx-quantile sketch and
# accepts approximate edges), a 9-row broadcast to bucket the new
# slice at scan speed, two keyed aggs.  ntile over a total order is
# engine-identical (both assign floor/ceil group sizes by rank).
# ---------------------------------------------------------------------------


@register(
    "rel_dist_drift",
    """
    WITH cut AS (SELECT (max(event_id) * 4) // 5 AS c FROM events),
    old_b AS (
      SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
      FROM events WHERE event_id <= (SELECT c FROM cut)
    ),
    old_cnt AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_old,
             max(value) AS edge
      FROM old_b GROUP BY bucket
    ),
    edges AS (SELECT bucket, edge FROM old_cnt WHERE bucket < 10),
    new_b AS (
      SELECT e.event_id,
             CAST(1 + coalesce(sum(CASE WHEN e.value > g.edge THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS bucket
      FROM events e CROSS JOIN edges g
      WHERE e.event_id > (SELECT c FROM cut)
      GROUP BY e.event_id
    ),
    new_cnt AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_new FROM new_b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n_old) AS BIGINT) AS big_n_old FROM old_cnt
    ),
    tot2 AS (
      SELECT CAST(coalesce(sum(n_new), 0) AS BIGINT) AS big_n_new FROM new_cnt
    )
    SELECT CAST(o.bucket AS BIGINT) AS bucket,
           o.n_old,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(coalesce(n.n_new, 0) * t.big_n_old - o.n_old * t2.big_n_new
                AS BIGINT) AS drift_num,
           CAST(o.n_old * t2.big_n_new AS BIGINT) AS drift_den,
           (20 * abs(coalesce(n.n_new, 0) * t.big_n_old - o.n_old * t2.big_n_new)
            > o.n_old * t2.big_n_new) AS shifted
    FROM old_cnt o
    LEFT JOIN new_cnt n ON n.bucket = o.bucket
    CROSS JOIN tot t CROSS JOIN tot2 t2
    """,
)
def rel_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth distribution drift old-vs-new (see block comment):
    per-decile integer share-shift ledger, no floats, no logs."""
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(F.expr("div(max(event_id) * 4, 5)").alias("c"))
    old = (
        ev.crossJoin(F.broadcast(cut))
        .filter(F.col("event_id") <= F.col("c"))
        .select("event_id", "value")
    )
    w = W.orderBy("value", "event_id")
    old_b = old.select("value", F.ntile(10).over(w).alias("bucket"))
    old_cnt = old_b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_old"),
        F.max("value").alias("edge"),
    )
    edges = old_cnt.filter(F.col("bucket") < 10).select("bucket", "edge")
    new = (
        ev.crossJoin(F.broadcast(cut))
        .filter(F.col("event_id") > F.col("c"))
        .select("event_id", "value")
    )
    new_b = (
        new.crossJoin(F.broadcast(edges.select(F.col("edge"))))
        .groupBy("event_id")
        .agg(
            (
                1
                + F.coalesce(
                    F.sum(F.when(F.col("value") > F.col("edge"), 1).otherwise(0)),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("bucket")
        )
    )
    new_cnt = new_b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_new")
    )
    tot = old_cnt.agg(F.sum("n_old").cast("long").alias("big_n_old"))
    tot2 = new_cnt.agg(
        F.coalesce(F.sum("n_new"), F.lit(0)).cast("long").alias("big_n_new")
    )
    d = F.coalesce(F.col("n_new"), F.lit(0)) * F.col("big_n_old") - F.col(
        "n_old"
    ) * F.col("big_n_new")
    return (
        old_cnt.join(new_cnt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tot2))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_old",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            d.cast("long").alias("drift_num"),
            (F.col("n_old") * F.col("big_n_new")).cast("long").alias("drift_den"),
            (
                20 * F.abs(d) > F.col("n_old") * F.col("big_n_new")
            ).alias("shifted"),
        )
    )


# ---------------------------------------------------------------------------
# rel_hll_rollup_union — MERGEABLE-SKETCH rollups (Spark 3.5+ Apache
# DataSketches HLL: hll_sketch_agg / hll_union_agg / estimate): the
# 100 TB distinct-count cube pattern — store ONE small sketch per
# fine-grained cell (here (returnflag, linestatus)), answer any
# coarser rollup by unioning sketches, never rescanning the fact
# table.  rel_agg_approx certifies approx_count_distinct's tolerance;
# this certifies the two properties that make sketches a STORAGE
# format: (1) the union-of-partials estimate lands within tolerance of
# the exact distinct count (lgConfigK=14 ⇒ ~0.8 % relative standard
# error; ε=0.05 leaves >6σ margin, a deterministic fact of the data at
# every certified scale), and (2) re-merging the SAME partials is
# IDEMPOTENT (register-wise max): unioning every per-cell sketch twice
# yields the identical estimate — the property that lets an
# at-least-once pipeline re-deliver a shard's sketch without inflating
# the count.  (Union-estimate == direct-sketch-estimate is NOT claimed:
# DataSketches' direct path uses the HIP estimator, the union path the
# composite estimator — measured unequal at sf0.01.)  Register state is
# order-invariant, so the export is shuffle-partition-stable.
# ---------------------------------------------------------------------------


@register(
    "rel_hll_rollup_union",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS remerge_idempotent,
           TRUE AS hll_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_hll_rollup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell HLL sketches unioned to a coarser rollup: re-merging
    the same partials is idempotent (at-least-once safety) and the
    merged estimate lands within tolerance of the exact distinct
    count (see block comment for the error budget)."""
    li = table(spark, sf_dir, "lineitem")
    parts = stage(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.hll_sketch_agg("l_orderkey", F.lit(14)).alias("sk")
        )
    )
    merged = parts.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    twice = (
        parts.unionByName(parts)
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("twice_est"))
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return (
        merged.join(F.broadcast(twice), "l_returnflag")
        .join(F.broadcast(exact), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (F.col("merged_est") == F.col("twice_est")).alias(
                "remerge_idempotent"
            ),
            (
                F.abs(F.col("merged_est") - F.col("exact_orders"))
                / F.col("exact_orders")
                <= 0.05
            ).alias("hll_within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# fn_collation — collation-aware comparison (Spark 4.0 collated string
# type): case-insensitive JOIN and GROUP BY run INSIDE the engine
# (collation keys feed the hash join / hash agg — no lower() rewrite
# of the data, no UDF), the idiomatic fix for the mixed-case reference
# data every real ingest has.  The probe data is made mixed-case
# in-plan (even keys initcap'd), the dim table arrives mixed-case, and
# the UTF8_LCASE join + UNICODE_CI groupBy still land every row.  The
# exported group key is lower()-collapsed because a CI group's
# REPRESENTATIVE (which casing survives) is engine-chosen; lower() of
# any member of the class is the same string, so the export is
# deterministic (ASCII data; the oracle works in lowered space).
# Scale note (measured, Spark 4.1): non-binary collations DISABLE the
# hash join/agg fallbacks — the collated join plans as a
# collation-aware SortMergeJoin (the broadcast hint is dropped) and
# the UNICODE_CI group-by as a SortAggregate.  At 100 TB that means a
# tiny collated dim STILL shuffles the fact side; if that matters,
# normalize the join key (lower()) and keep collation for semantics
# only.  test_plans pins this engine behavior.
# ---------------------------------------------------------------------------


@register(
    "fn_collation",
    """
    WITH dim AS (
      SELECT * FROM (VALUES ('Building', 10), ('Automobile', 20),
                            ('Machinery', 30), ('Household', 40),
                            ('Furniture', 50)) d(seg, weight)
    )
    SELECT lower(c_mktsegment) AS seg_lower,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(weight) AS BIGINT) AS sum_weight
    FROM customer JOIN dim ON lower(seg) = lower(c_mktsegment)
    GROUP BY 1
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive join + group-by via Spark 4 collations
    (UTF8_LCASE join key, UNICODE_CI group key) over in-plan
    mixed-cased data; lower()-collapsed export (see block comment)."""
    cust = table(spark, sf_dir, "customer").select(
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.initcap(F.lower(F.col("c_mktsegment"))),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("mixed")
    )
    dim = spark.createDataFrame(
        [
            ("Building", 10),
            ("Automobile", 20),
            ("Machinery", 30),
            ("Household", 40),
            ("Furniture", 50),
        ],
        "seg string, weight long",
    )
    joined = cust.join(
        F.broadcast(dim),
        F.collate(F.col("mixed"), "UTF8_LCASE")
        == F.collate(F.col("seg"), "UTF8_LCASE"),
    )
    return (
        joined.groupBy(F.collate(F.col("mixed"), "UNICODE_CI").alias("k"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("weight").cast("long").alias("sum_weight"),
        )
        .select(
            F.lower(F.col("k")).alias("seg_lower"),
            "n_customers",
            "sum_weight",
        )
    )


# ---------------------------------------------------------------------------
# fn_pipe_syntax — SQL PIPE syntax (Spark 4.0's `|>` operator chain):
# the same logical plan as nested SELECTs, written as a linear
# dataflow — FROM → WHERE → JOIN → AGGREGATE → WHERE(post-agg) →
# ORDER/LIMIT.  Registered because it is a real, user-facing query
# surface of the engine (a user "switching to this repo" may bring
# piped SQL); Catalyst parses it to the identical tree, so every
# optimization (pushdown, broadcast choice) applies unchanged — this
# op certifies the parse+plan equivalence against the ANSI oracle.
# ---------------------------------------------------------------------------


@register(
    "fn_pipe_syntax",
    """
    SELECT o_orderpriority, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority, c_mktsegment
    HAVING COUNT(*) > 2
    """,
)
def fn_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI oracle's query written as a Spark 4 pipe chain —
    filter, join, aggregate, post-aggregate filter (see block
    comment)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> JOIN customer ON o_custkey = c_custkey
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS total
           GROUP BY o_orderpriority, c_mktsegment
        |> WHERE n_orders > 2
        |> SELECT o_orderpriority, c_mktsegment, n_orders, total
        """
    )


# ---------------------------------------------------------------------------
# rel_join_bloom_runtime — RUNTIME bloom-filter join pruning (Spark
# 3.3+ InjectRuntimeFilter): when neither join side broadcasts (the
# 100 TB fact⋈fact case), Catalyst builds a bloom filter over the
# SELECTIVE side's join keys at runtime and pushes a might_contain
# probe into the big side's scan — rows that cannot join die at scan
# speed instead of riding the shuffle.  rel_join_broadcast certifies
# the broadcast path; this certifies the runtime-filter path, conf-
# scoped inside the op (broadcast disabled to force the shuffle join,
# thresholds opened so the tiny test tables qualify; every conf is
# restored in a finally).  The bloom injection is asserted IN-OP on
# the optimized plan — the result itself is oracle-exact either way.
# ---------------------------------------------------------------------------

_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_result(spark: SparkSession, sf_dir: str):
    """(materialized result, optimized-plan string) for the bloom-
    filtered shuffle join — shared by the op and its plan gate."""
    saved = {}
    for k in _BLOOM_CONFS:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("revenue"),
            )
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        if not ("bloom_filter_agg" in plan):  # contract invariant; survives python -O
            raise AssertionError(plan[:2000])
        if not ("might_contain" in plan):  # contract invariant; survives python -O
            raise AssertionError(plan[:2000])
        if not ("BroadcastHashJoin" not in plan):  # contract invariant; survives python -O
            raise AssertionError('"BroadcastHashJoin" not in plan')
        # materialize UNDER the scoped confs so execution uses this plan
        out = j.localCheckpoint(eager=True)
        return out, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "rel_join_bloom_runtime",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def rel_join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with a runtime-injected bloom filter pruning the
    fact scan (asserted in-op on the plan); result identical to the
    plain join (see block comment)."""
    out, _ = bloom_join_result(spark, sf_dir)
    return out


# ---------------------------------------------------------------------------
# rel_join_cbo_stats — COST-BASED join planning from table/column
# statistics (Catalyst CBO): without column stats the optimizer sizes
# a filtered relation by its RAW file bytes (a 30 MB orders table
# stays a shuffle join no matter how selective the filter); after
# `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`, the
# filter-selectivity estimate shrinks the side below the broadcast
# threshold and the SAME query plans as a broadcast join — the
# ANALYZE-then-query discipline every warehouse deployment runs.
# Measured flip at sf1.0 (pruned-scan estimate > the 2 MB threshold,
# stats-estimated filtered size ≪ it): no-broadcast before column
# stats → broadcast after; same flip shape at sf10.  At tiny scales
# the pruned raw size is already under the threshold (no flip to
# show, broadcast either way); the standing in-op assert is the
# production claim — WITH stats the optimizer broadcasts.  Note the
# sizing subtlety the calibration surfaced: the pre-stats estimate is
# the COLUMN-PRUNED scan bytes, not the file size — thresholds tuned
# against raw file bytes overshoot.  Conf scope (threshold +
# cbo.enabled) is restored in a finally; the stats tables are
# path-based externals in a temp dir, built once per (session,
# sf_dir).
# ---------------------------------------------------------------------------

_CBO_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "2MB",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "2MB",
    "spark.sql.cbo.enabled": "true",
}


def cbo_join_result(spark: SparkSession, sf_dir: str):
    """(materialized result, with-stats plan string) — shared by the
    op and its plan gate."""
    import uuid

    from maxscale_cdc_spark.tmputil import mkdtemp as _mkdtemp

    saved = {}
    for k in _CBO_CONFS:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    def build_join(ot: str, lt: str) -> DataFrame:
        f = spark.table(ot).filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") < 2000)
        )
        return (
            spark.table(lt)
            .join(f, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("revenue"),
            )
        )

    def build_tables() -> tuple[str, str]:
        suffix = uuid.uuid4().hex[:8]
        ot, lt = f"cbo_orders_{suffix}", f"cbo_lineitem_{suffix}"
        root = _mkdtemp(prefix="cbo_tbl_")
        import os

        table(spark, sf_dir, "orders").write.option(
            "path", os.path.join(root, "orders")
        ).mode("overwrite").saveAsTable(ot)
        table(spark, sf_dir, "lineitem").write.option(
            "path", os.path.join(root, "lineitem")
        ).mode("overwrite").saveAsTable(lt)
        spark.sql(f"ANALYZE TABLE {ot} COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql(f"ANALYZE TABLE {lt} COMPUTE STATISTICS")
        return ot, lt

    try:
        for k, v in _CBO_CONFS.items():
            spark.conf.set(k, v)
        # (session, sf_dir) → (orders table name, lineitem table name)
        ot, lt = memo(
            spark, ("cbo_tables", sf_dir), build_tables, cold=False
        )
        j = build_join(ot, lt)
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the production claim: WITH stats, the selective side
        # broadcasts.  A real exception, not `assert` — this is the
        # op's contract and must survive `python -O` (VERDICT r11 #3).
        if "BroadcastHashJoin" not in plan:
            raise RuntimeError(
                "CBO stats did not drive a broadcast join: " + plan[:2000]
            )
        out = j.localCheckpoint(eager=True)
        return out, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "rel_join_cbo_stats",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 2000
    GROUP BY l_returnflag
    """,
)
def rel_join_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-driven broadcast planning: ANALYZE ... FOR ALL COLUMNS
    lets CBO price the filtered join side below the broadcast
    threshold (asserted in-op on the plan); result identical to the
    plain join (see block comment)."""
    out, _ = cbo_join_result(spark, sf_dir)
    return out


# ---------------------------------------------------------------------------
# rel_win_group_limit — rank-filter PUSHDOWN (Spark 3.5+
# WindowGroupLimit): `row_number() ... <= k` no longer sorts whole
# partitions — the optimizer inserts a PARTIAL WindowGroupLimit
# BEFORE the shuffle (each map task forwards at most k rows per
# group) and a FINAL one after, so the exchange carries O(groups·k)
# rows per mapper instead of the full table.  At 100 TB this is the
# difference between shuffling 100 TB and shuffling megabytes for
# every "top-k per group" query — the single most common analytics
# shape.  tests/test_plans.py pins BOTH WindowGroupLimit nodes
# (Partial + Final) in the physical plan; the rank order is a total
# order (price DESC, orderkey, linenumber) so the exported rows are
# engine-identical.
# ---------------------------------------------------------------------------


@register(
    "rel_win_group_limit",
    """
    SELECT l_returnflag, l_linestatus, CAST(rn AS BIGINT) AS rn,
           l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
    FROM (
      SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag, l_linestatus
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    )
    WHERE rn <= 3
    """,
)
def rel_win_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items per (returnflag, linestatus) via a rank filter
    the optimizer rewrites to map-side WindowGroupLimit pushdown (see
    block comment; plan-gated)."""
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("rn").cast("long").alias("rn"),
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("price_cents"),
        )
    )


# ---------------------------------------------------------------------------
# fn_lateral — LATERAL correlated subquery (Spark 3.2+ LATERAL join):
# the SQL-standard "for each row, run this parameterized subquery"
# shape — here per-customer top-2 orders by price WITH an ORDER BY +
# LIMIT inside the lateral body.  The point the plan gate pins:
# Catalyst DECORRELATES the lateral (DecorrelateInnerQuery) into a
# per-key limited join — the executed plan is a BroadcastHashJoin +
# per-group limit, NOT a nested loop re-running the subquery per
# outer row.  At 100 TB a naive per-row subquery is O(outer·inner);
# the decorrelated plan is one join.  DuckDB executes the IDENTICAL
# SQL text (both engines speak standard LATERAL), so the oracle is
# the same query — the parity claim is engine-shape, not translation.
# Total order inside the lateral (price DESC, orderkey) keeps the
# LIMIT deterministic in both engines.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS price_cents
FROM (SELECT c_custkey FROM customer WHERE c_custkey <= 100) c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
"""


@register("fn_lateral", _LATERAL_SQL)
def fn_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via a LATERAL subquery with ORDER
    BY + LIMIT — decorrelated by Catalyst into a hash join + per-key
    limit (plan-gated, see block comment).  The oracle runs the SAME
    SQL text in DuckDB."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# fn_sql_udf — SQL-DEFINED functions (Spark 4.0 `CREATE FUNCTION …
# RETURN`): a scalar SQL UDF and a TABLE-valued SQL UDF, both defined
# in SQL and INLINED by Catalyst into the calling plan — the UDF
# abstraction with ZERO execution cost (no Python worker, no codegen
# boundary; the plan is identical to writing the expression inline,
# which is exactly what the oracle does).  This is the 100 TB answer
# to "wrap our business logic in a function": SQL UDFs keep
# whole-stage codegen and predicate pushdown; only logic that cannot
# be expressed in SQL should fall back to (Arrow) Python UDFs.
# Scalar: integer bucket price tiering (exact integer math).  Table
# UDF: per-tier synthetic quota rows (sequence explode) joined back —
# exercising the FROM-clause function-call surface.  The plan gate
# asserts no Python evaluation nodes and that codegen spans the
# calling aggregate.
# ---------------------------------------------------------------------------


@register(
    "fn_sql_udf",
    """
    WITH tiers AS (
      SELECT CAST((CAST(round(o_totalprice * 100, 0) AS BIGINT) // 5000000)
                  AS BIGINT) AS tier,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ), expanded AS (
      SELECT t.tier, t.n_orders, CAST(u.i AS BIGINT) AS slot
      FROM tiers t, LATERAL (
        SELECT unnest(generate_series(1, CAST(least(t.tier + 1, 3) AS INT))) AS i
      ) u
    )
    SELECT tier, n_orders, slot FROM expanded
    """,
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + table SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN)
    inlined into the plan: price tiering via the scalar UDF, per-tier
    slot rows via the table UDF — no Python anywhere (plan-gated);
    the oracle inlines the same expressions (see block comment)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_tier(p DOUBLE) "
        "RETURNS BIGINT "
        "RETURN CAST(div(CAST(round(p * 100, 0) AS BIGINT), 5000000) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tier_slots(t BIGINT) "
        "RETURNS TABLE (slot BIGINT) "
        "RETURN SELECT explode(sequence(1, CAST(least(t + 1, 3) AS INT)))"
    )
    return spark.sql(
        """
        WITH tiers AS (
          SELECT price_tier(o_totalprice) AS tier,
                 CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        )
        SELECT t.tier, t.n_orders, CAST(s.slot AS BIGINT) AS slot
        FROM tiers t, LATERAL tier_slots(t.tier) s
        """
    )


# ---------------------------------------------------------------------------
# rel_recursive_cte — WITH RECURSIVE (Spark 4.0+): iterative graph
# traversal declared ENTIRELY in SQL — no driver loop, no unrolled
# join chain (rel_graph_khop's shape), the engine's UnionLoop executes
# rounds until fixpoint.  The workload is the classic BOM explosion:
# parts form a forest under parent(k) = div(k, 4) (children of m are
# {4m..4m+3}\{m} — child keys strictly larger, so the recursion
# provably terminates in ⌈log₄(max key)⌉ rounds); for a deterministic
# root sample, roll up every descendant's count, max depth and retail
# value.  Each recursion round is one equi-join of the frontier
# against the dimension — at 100 TB the frontier stays
# O(active paths) while the part table is scanned via its join key,
# and the fixpoint replaces K hand-unrolled self-joins whose plan
# size grows linearly (the iterated-plan-doubling trap, CLAUDE.md
# rule 4).  DuckDB runs the same shape (`//` for div — rule-3 integer
# division discipline).
# ---------------------------------------------------------------------------


@register(
    "rel_recursive_cte",
    """
    WITH RECURSIVE comp AS (
      SELECT p_partkey AS root, p_partkey AS part,
             CAST(0 AS BIGINT) AS depth
      FROM part WHERE p_partkey % 97 = 0
      UNION ALL
      SELECT c.root, p.p_partkey, c.depth + 1
      FROM comp c JOIN part p
        ON CAST(p.p_partkey AS BIGINT) // 4 = c.part
       AND p.p_partkey <> c.part
    )
    SELECT c.root,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(max(c.depth) AS BIGINT) AS max_depth,
           CAST(SUM(CAST(round(p.p_retailprice * 100, 0) AS BIGINT))
                AS BIGINT) AS value_cents
    FROM comp c JOIN part p ON p.p_partkey = c.part
    GROUP BY c.root
    """,
)
def rel_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM explosion via WITH RECURSIVE: per sampled root, descendant
    count, max depth and rolled-up retail value — the engine's
    fixpoint loop instead of K unrolled self-joins (see block
    comment)."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        WITH RECURSIVE comp AS (
          SELECT p_partkey AS root, p_partkey AS part,
                 CAST(0 AS BIGINT) AS depth
          FROM part WHERE p_partkey % 97 = 0
          UNION ALL
          SELECT c.root, p.p_partkey, c.depth + 1
          FROM comp c JOIN part p
            ON div(p.p_partkey, 4) = c.part
           AND p.p_partkey <> c.part
        )
        SELECT c.root,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(max(c.depth) AS BIGINT) AS max_depth,
               CAST(SUM(CAST(round(p.p_retailprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM comp c JOIN part p ON p.p_partkey = c.part
        GROUP BY c.root
        """
    )


# ---------------------------------------------------------------------------
# rel_observe_metrics — single-pass PIPELINE METRICS (Dataset.observe
# / Observation, Spark 3.3+): accounting aggregates computed ON THE
# ROWS FLOWING THROUGH an executed plan — row counts, value totals,
# sequence bounds — without a second scan.  At 100 TB this is the
# difference between "the nightly load also reports its row counts"
# and "the nightly load, then a second full-table audit query": the
# CollectMetrics node taps the stream between the filter and the
# sink for free.  The op runs the pipeline to the noop sink with an
# observation attached, then exports the harvested metrics as the
# result row; the ORACLE recomputes the same aggregates from the raw
# table — the green row proves in-flight accounting equals a
# recomputation.  Integer-only metrics (counts, cents, seq bounds)
# keep the comparison exact (rule 3).
# ---------------------------------------------------------------------------


@register(
    "rel_observe_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           CAST(min(event_id) AS BIGINT) AS min_seq,
           CAST(max(event_id) AS BIGINT) AS max_seq
    FROM events WHERE event_type = 'purchase'
    """,
)
def rel_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline accounting via Dataset.observe: the metrics are
    harvested from the CollectMetrics node of the EXECUTED pipeline
    (noop sink), then exported; the oracle recomputes them raw (see
    block comment)."""
    from pyspark.sql import Observation

    ev = table(spark, sf_dir, "events")
    obs = Observation("load_audit")
    pipeline = ev.filter(F.col("event_type") == "purchase").observe(
        obs,
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "sum_value_cents"
        ),
        F.min("event_id").alias("min_seq"),
        F.max("event_id").alias("max_seq"),
    )
    pipeline.write.format("noop").mode("overwrite").save()
    m = obs.get  # blocks until the action's metrics arrive
    if not m["n_purchases"]:
        # min/max/sum are NULL on an empty slice; int(None) would be an
        # asymmetric TypeError vs the oracle's NULL row (ADVICE r12).
        raise ValueError(
            "rel_observe_metrics: no 'purchase' rows in events at "
            f"{sf_dir!r} — observed metrics are NULL and cannot be "
            "exported as BIGINT"
        )
    return spark.createDataFrame(
        [
            (
                int(m["n_purchases"]),
                int(m["sum_value_cents"]),
                int(m["min_seq"]),
                int(m["max_seq"]),
            )
        ],
        "n_purchases long, sum_value_cents long, min_seq long, max_seq long",
    )


# ---------------------------------------------------------------------------
# rel_pseudonymize_consistent — GDPR-style KEYED PSEUDONYMIZATION with
# a referential-consistency proof: customer keys are replaced by a
# deterministic token (minstd multiplicative hash — (k mod p)·48271
# mod p, p = 2^31−1; gcd(48271, p) = 1 makes it INJECTIVE for every
# key below 2^31, so joinability survives tokenization by
# construction, not by luck), the SAME tokenization is applied
# independently to the orders fact table, and the export rolls revenue
# up per nation THROUGH THE TOKEN JOIN.  The oracle builds the
# identical token tree — the driver's hash compare therefore proves
# (a) both engines tokenize identically (token_checksum) and (b) the
# token join reproduces the key join's revenue exactly.  A production
# system swaps the public mixing constant for an HMAC under a rotated
# secret; the plan shape is identical.
#
# Scale: tokenization is a scan-speed narrow map on both tables (no
# lookup table to build, ship, or protect — the token is a pure
# function); the join/rollup is the same shuffle the un-masked query
# would run.  Nothing materializes a key↔token mapping, which is the
# point: there is no re-identification table to leak.
# ---------------------------------------------------------------------------

_PSEUDO_SQL = "(({k} % 2147483647) * 48271) % 2147483647"


@register(
    "rel_pseudonymize_consistent",
    f"""
    WITH c AS (
      SELECT c_nationkey, {_PSEUDO_SQL.format(k="c_custkey")} AS tok
      FROM customer
    ), o AS (
      SELECT {_PSEUDO_SQL.format(k="o_custkey")} AS tok,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), cust AS (
      SELECT c_nationkey,
             CAST(count(DISTINCT tok) AS BIGINT) AS n_tokens,
             CAST(sum(tok) AS BIGINT) AS token_checksum
      FROM c GROUP BY c_nationkey
    ), fact AS (
      SELECT c_nationkey,
             CAST(count(o.tok) AS BIGINT) AS n_orders,
             CAST(coalesce(sum(o.cents), 0) AS BIGINT) AS revenue_cents
      FROM c LEFT JOIN o ON c.tok = o.tok
      GROUP BY c_nationkey
    )
    SELECT CAST(cust.c_nationkey AS BIGINT) AS nationkey,
           n_tokens, token_checksum, n_orders, revenue_cents
    FROM cust JOIN fact ON cust.c_nationkey = fact.c_nationkey
    """,
)
def rel_pseudonymize_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic injective tokenization of the customer key on
    both sides of a fact join, certified through the token join (see
    block comment)."""
    tok = lambda k: ((F.col(k) % 2147483647) * 48271) % 2147483647
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey", tok("c_custkey").alias("tok")
    )
    o = table(spark, sf_dir, "orders").select(
        tok("o_custkey").alias("tok"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    cust = c.groupBy("c_nationkey").agg(
        F.countDistinct("tok").cast("long").alias("n_tokens"),
        F.sum("tok").cast("long").alias("token_checksum"),
    )
    fact = (
        c.join(o.withColumnRenamed("tok", "otok"), c["tok"] == F.col("otok"), "left")
        .groupBy("c_nationkey")
        .agg(
            F.count("otok").cast("long").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("revenue_cents"),
        )
    )
    return cust.join(fact, "c_nationkey").select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "n_tokens",
        "token_checksum",
        "n_orders",
        "revenue_cents",
    )


# ---------------------------------------------------------------------------
# rel_expectations_suite — declarative DATA-QUALITY EXPECTATIONS (the
# dbt-test / Great-Expectations shape) evaluated in ONE pass: not-null,
# key uniqueness, accepted values, referential integrity against the
# customer dimension, and a range rule — five verdict rows (checked /
# failed / passed) from a single scan of the fact table plus one
# broadcast of the distinct dimension keys.  The point of the operator
# is the PLAN: expectation suites that run one query per rule re-scan
# the 100 TB fact N times; folding every rule into CASE-sums over one
# scan (uniqueness as count − count distinct) makes the suite cost one
# pass regardless of rule count.  The 5-row pivot at the end is
# `stack` over a single aggregate row — driver-free.
# ---------------------------------------------------------------------------


@register(
    "rel_expectations_suite",
    """
    WITH j AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
             c.c_custkey AS fk
      FROM orders o
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_notnull,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS f_unique,
             CAST(sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END) AS BIGINT) AS f_vals,
             CAST(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_rel,
             CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS f_range
      FROM j
    )
    SELECT 'not_null_custkey' AS expectation, n AS n_checked, f_notnull AS n_failed, f_notnull = 0 AS passed FROM agg
    UNION ALL SELECT 'unique_orderkey', n, f_unique, f_unique = 0 FROM agg
    UNION ALL SELECT 'accepted_status', n, f_vals, f_vals = 0 FROM agg
    UNION ALL SELECT 'fk_customer', n, f_rel, f_rel = 0 FROM agg
    UNION ALL SELECT 'positive_price', n, f_range, f_range = 0 FROM agg
    """,
)
def rel_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five data-quality expectations in one fact scan + one broadcast
    dim (see block comment)."""
    o = table(spark, sf_dir, "orders")
    dim = table(spark, sf_dir, "customer").select("c_custkey").distinct()
    j = o.join(
        F.broadcast(dim.withColumnRenamed("c_custkey", "fk")),
        o["o_custkey"] == F.col("fk"),
        "left",
    )
    agg = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("f_notnull"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("long").alias("f_unique"),
        F.sum(F.when(F.col("o_orderstatus").isin("O", "F", "P"), 0).otherwise(1))
        .cast("long")
        .alias("f_vals"),
        F.sum(F.when(F.col("fk").isNull(), 1).otherwise(0)).cast("long").alias("f_rel"),
        F.sum(F.when(F.col("o_totalprice") > 0, 0).otherwise(1))
        .cast("long")
        .alias("f_range"),
    )
    return agg.select(
        F.expr(
            "stack(5, "
            "'not_null_custkey', n, f_notnull, "
            "'unique_orderkey', n, f_unique, "
            "'accepted_status', n, f_vals, "
            "'fk_customer', n, f_rel, "
            "'positive_price', n, f_range"
            ") AS (expectation, n_checked, n_failed)"
        )
    ).select(
        "expectation",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_failed").cast("long").alias("n_failed"),
        (F.col("n_failed") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# rel_mv_rewrite_answer — MATERIALIZED-VIEW QUERY REWRITE: a dashboard
# aggregate (per-type totals over a day range) is answered FROM the
# stored per-(day, type) rollup MV — never from the base event log —
# and the driver's hash compare against the oracle (which computes
# from base) IS the rewrite-correctness proof.  The export carries
# n_mv_rows_read so the plan's input cardinality (|days|·|types|
# rows, not |events|) is part of the certified result.
#
# Exactness: the MV stores its measure as DECIMAL(18,4) (not double),
# so the rewrite RE-SUMS exact decimals; decimal addition is
# associative, making two-level (MV then query) summation equal to
# the oracle's one-level sum; both engines re-cast to DECIMAL(18,4)
# before the single double surface (the CLAUDE.md scale-8 rule).
#
# Scale: this is why rollup MVs exist — the 100 TB base is scanned
# once per refresh cycle (rel_rollup_refresh's incremental job), and
# every dashboard query reads the KB-sized MV with day-range pruning.
# The rewrite path here reads ONLY the materialized parquet.
# ---------------------------------------------------------------------------


@register(
    "rel_mv_rewrite_answer",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value
      FROM events
    ), mv AS (
      SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS sv
      FROM d GROUP BY day, event_type
    )
    SELECT event_type,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(sv) AS DECIMAL(18,4)) AS DOUBLE) AS total_value,
           CAST(count(*) AS BIGINT) AS n_mv_rows_read
    FROM mv WHERE day(day) BETWEEN 5 AND 12
    GROUP BY event_type
    """,
)
def rel_mv_rewrite_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Answer the day-ranged dashboard rollup from the STORED MV and
    certify it against the base-table oracle (see block comment)."""
    from maxscale_cdc_spark.tmputil import mkdtemp as _mkdtemp

    ev = table(spark, sf_dir, "events")
    mv = (
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
            "value",
        )
        .groupBy("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec("value")).cast("decimal(18,4)").alias("sv"),
        )
    )
    mv_dir = _mkdtemp(prefix="rel_mv_")
    mv.write.mode("overwrite").parquet(mv_dir)  # the materialization
    stored = spark.read.parquet(mv_dir)
    return (
        stored.filter(F.dayofmonth("day").between(5, 12))
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.sum("sv").cast("decimal(18,4)").cast("double").alias("total_value"),
            F.count("*").cast("long").alias("n_mv_rows_read"),
        )
    )


# ---------------------------------------------------------------------------
# rel_feature_pit_audit — POINT-IN-TIME-correct feature join + LEAKAGE
# audit (the feature-store contract that prevents training/serving
# skew): labels (purchases) take each user's latest click FEATURE
# at-or-before the label timestamp — the PIT join, computed with the
# rel_join_asof union+window formulation (one keyed sort, no range
# self-join) — while the audit column counts how many labels a NAIVE
# latest-feature join would have contaminated with future information
# (the user's latest click strictly AFTER the label).  staleness_sec
# sums label−feature age: the freshness mass a feature-store SLA
# tracks.  Exports roll up per user shard (user_id % 16).
#
# Scale: one union scan + one per-user window; the naive-leak check
# rides the SAME window partition (max over the full frame) — zero
# extra shuffles.  At 100 TB this is the backfill join a feature
# platform runs per training-set build.
# ---------------------------------------------------------------------------


@register(
    "rel_feature_pit_audit",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), pit AS (
      SELECT l.event_id, l.user_id, l.ts,
             (SELECT max(c.ts) FROM events c
               WHERE c.event_type = 'click' AND c.user_id = l.user_id
                 AND c.ts <= l.ts) AS pit_ts,
             (SELECT max(c.ts) FROM events c
               WHERE c.event_type = 'click' AND c.user_id = l.user_id) AS any_ts
      FROM l
    )
    SELECT CAST(user_id % 16 AS BIGINT) AS user_shard,
           CAST(count(*) AS BIGINT) AS n_labels,
           CAST(count(pit_ts) AS BIGINT) AS n_with_feature,
           CAST(sum(CASE WHEN any_ts > ts THEN 1 ELSE 0 END) AS BIGINT)
             AS n_naive_leak,
           CAST(sum(CASE WHEN any_ts > ts THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS leak_rate,
           CAST(sum(CASE WHEN pit_ts IS NOT NULL THEN
                  CAST(floor(extract(epoch FROM ts)) AS BIGINT)
                  - CAST(floor(extract(epoch FROM pit_ts)) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS staleness_sec
    FROM pit GROUP BY user_id % 16
    """,
)
def rel_feature_pit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT feature join with naive-leak and staleness accounting (see
    block comment)."""
    ev = table(spark, sf_dir, "events")
    marked = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    order = [
        F.col("ts"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)),
        F.col("event_id"),
    ]
    w_pit = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("user_id")
    enriched = marked.select(
        "*",
        F.last("click_ts", ignorenulls=True).over(w_pit).alias("pit_ts"),
        F.max("click_ts").over(w_all).alias("any_ts"),
    ).filter(F.col("event_type") == "purchase")
    leak = F.when(F.col("any_ts") > F.col("ts"), 1).otherwise(0)
    stale = F.when(
        F.col("pit_ts").isNotNull(),
        F.unix_timestamp("ts") - F.unix_timestamp("pit_ts"),
    ).otherwise(F.lit(0).cast("long"))
    return enriched.groupBy(
        (F.col("user_id") % 16).cast("long").alias("user_shard")
    ).agg(
        F.count("*").cast("long").alias("n_labels"),
        F.count("pit_ts").cast("long").alias("n_with_feature"),
        F.sum(leak).cast("long").alias("n_naive_leak"),
        (F.sum(leak).cast("double") / F.count("*")).alias("leak_rate"),
        F.sum(stale).cast("long").alias("staleness_sec"),
    )


# ---------------------------------------------------------------------------
# rel_hll_precision_knob — the HLL SKETCH-SIZE knob (the
# llm_minhash_bbit discipline applied to distinct counting): per
# event type, the exact distinct-user count (the oracle-certified
# export) next to in-op DataSketches HLL estimates at lgK ∈ {4, 8,
# 12} (2^lgK registers — 16 B / 256 B / 4 KB of sketch state), each
# RAISE-CHECKED against its ~3σ relative-error envelope (1.04/√2^lgK
# → 0.78 / 0.20 / 0.05) and exported as a certified boolean.  This
# is the table that prices a 100 TB rollup's distinct-count memory:
# HLL register merges are max-operations — order- and
# partitioning-invariant (re-verified under repartition in tests) —
# so the booleans are deterministic even though the estimates stay
# engine-specific (which is exactly why the estimate itself doesn't
# cross the oracle boundary).
# ---------------------------------------------------------------------------


@register(
    "rel_hll_precision_knob",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS err_ok_lgk4, TRUE AS err_ok_lgk8, TRUE AS err_ok_lgk12
    FROM events GROUP BY event_type
    """,
)
def rel_hll_precision_knob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts + lgK-swept HLL estimates raise-checked
    inside their error envelopes (see block comment)."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 4))").alias("e4"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 8))").alias("e8"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").alias("e12"),
    )
    rows = agg.collect()  # |event types| rows — scalar cutover
    for r in rows:
        for est, tol in ((r["e4"], 0.78), (r["e8"], 0.20), (r["e12"], 0.05)):
            if abs(est - r["n_exact"]) > tol * r["n_exact"]:
                raise RuntimeError(
                    f"HLL estimate {est} outside {tol} envelope of "
                    f"{r['n_exact']} for {r['event_type']}"
                )
    return agg.select(
        "event_type",
        "n_exact",
        F.lit(True).alias("err_ok_lgk4"),
        F.lit(True).alias("err_ok_lgk8"),
        F.lit(True).alias("err_ok_lgk12"),
    )


# ---------------------------------------------------------------------------
# rel_dp_contribution_bound — DIFFERENTIAL-PRIVACY release prep: the
# deterministic half of a DP aggregate is CONTRIBUTION BOUNDING — cap
# each user at C = 8 events per (type) cell (keep the C earliest by
# (ts, event_id), a total order) so the query's L1 sensitivity is a
# known constant before calibrated noise is added at serving time
# (the noise draw is the one genuinely random step and happens OUTSIDE
# the pipeline; what the 100 TB job must produce is the bounded
# aggregate + the sensitivity ledger this op certifies).  Exports per
# type: raw vs bounded counts, users clamped, the sensitivity C, and
# the epsilon share under a uniform 4-query budget split of ε = 1
# (integer-ratio 0.25) — the accounting a privacy review signs.
#
# Scale: one rank window per (user, type) + one rollup; bounding is
# the shuffle the raw aggregate already needed.
# ---------------------------------------------------------------------------


@register(
    "rel_dp_contribution_bound",
    """
    WITH r AS (
      SELECT event_type, user_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), per_user AS (
      SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS n_raw,
             CAST(sum(CASE WHEN rn <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM r GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(sum(n_raw) AS BIGINT) AS n_raw,
           CAST(sum(n_kept) AS BIGINT) AS n_bounded,
           CAST(sum(CASE WHEN n_raw > 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_users_clamped,
           CAST(8 AS BIGINT) AS sensitivity,
           CAST(1 AS DOUBLE) / 4 AS epsilon_share
    FROM per_user GROUP BY event_type
    """,
)
def rel_dp_contribution_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution bounding + sensitivity ledger for a DP
    release (see block comment)."""
    ev = table(spark, sf_dir, "events")
    r = ev.select(
        "event_type",
        "user_id",
        F.row_number()
        .over(W.partitionBy("user_id", "event_type").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    per_user = r.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum(F.when(F.col("rn") <= 8, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    return per_user.groupBy("event_type").agg(
        F.sum("n_raw").cast("long").alias("n_raw"),
        F.sum("n_kept").cast("long").alias("n_bounded"),
        F.sum(F.when(F.col("n_raw") > 8, 1).otherwise(0))
        .cast("long")
        .alias("n_users_clamped"),
        F.lit(8).cast("long").alias("sensitivity"),
        (F.lit(1).cast("double") / 4).alias("epsilon_share"),
    )


# ---------------------------------------------------------------------------
# rel_bloom_fpr_knob — BLOOM-FILTER sizing knob with EXACTLY-verified
# false positives: because the k=2 hash functions are the public md5
# slices, the filter's entire behavior is deterministic and BOTH
# engines can build the identical bit set and replay the identical
# probes — so unlike the HLL knob (whose estimates stay in-op), the
# false-positive COUNTS themselves cross the oracle boundary.  Build:
# distinct customer keys → 2 positions each into m ∈ {1024, 4096}
# bits; probe: shifted order keys (guaranteed non-members at every
# oracle-checked scale, and membership is computed exactly anyway);
# export per m: bits set, probes, true members, maybes, false
# positives, measured FPR — the table that picks the runtime-filter
# size rel_join_bloom_runtime ships to the scan side.
#
# Scale: the filter is O(m) bits broadcast; build and probe are one
# narrow map + one distinct each; the exact-membership audit column
# is the oracle-scale instrument, not the production path.
# ---------------------------------------------------------------------------

_BLOOM_SHIFT = 10000019


def _bloom_sql_block(m: int) -> str:
    h = lambda col, a: (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), {a}, 8)) AS BIGINT) % {m}"
    )
    return f"""
  SELECT CAST({m} AS BIGINT) AS m,
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT pos FROM (
              SELECT {h("k", 1)} AS pos FROM keys
              UNION SELECT {h("k", 9)} FROM keys))) AS n_bits_set,
         CAST(count(*) AS BIGINT) AS n_probes,
         CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_members,
         CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
         CAST(sum(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_positive,
         CAST(sum(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN is_member THEN 0 ELSE 1 END) AS fpr
  FROM (
    SELECT mb.p, mb.is_member,
           (p1.pos IS NOT NULL AND p2.pos IS NOT NULL) AS maybe
    FROM member mb
    LEFT JOIN (SELECT DISTINCT pos FROM (
                 SELECT {h("k", 1)} AS pos FROM keys
                 UNION SELECT {h("k", 9)} FROM keys)) p1
      ON p1.pos = {h("mb.p", 1)}
    LEFT JOIN (SELECT DISTINCT pos FROM (
                 SELECT {h("k", 1)} AS pos FROM keys
                 UNION SELECT {h("k", 9)} FROM keys)) p2
      ON p2.pos = {h("mb.p", 9)}
  )
"""


_BLOOM_ORACLE = f"""
WITH keys AS (SELECT DISTINCT c_custkey AS k FROM customer),
probes AS (SELECT DISTINCT o_custkey + {_BLOOM_SHIFT} AS p FROM orders),
member AS (
  SELECT p, (k IS NOT NULL) AS is_member FROM probes LEFT JOIN keys ON p = k
)
{_bloom_sql_block(1024)}
UNION ALL
{_bloom_sql_block(4096)}
"""


@register("rel_bloom_fpr_knob", _BLOOM_ORACLE)
def rel_bloom_fpr_knob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-hash Bloom filter at two sizes with exact FP
    accounting (see block comment)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    # key set consumed 2× per m (build) + probes
    keys = stage(c.select(F.col("c_custkey").alias("k")).distinct())
    probes = o.select(
        (F.col("o_custkey") + _BLOOM_SHIFT).alias("p")
    ).distinct()
    member = probes.join(
        keys.withColumnRenamed("k", "mk"), probes["p"] == F.col("mk"), "left"
    ).select("p", F.col("mk").isNotNull().alias("is_member"))

    def h(col, a, m):
        return (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), a, 8), 16, 10)
            .cast("long")
            % m
        )

    out = None
    for m in (1024, 4096):
        pos = (
            keys.select(h("k", 1, m).alias("pos"))
            .union(keys.select(h("k", 9, m).alias("pos")))
            .distinct()
        )
        n_bits = pos.count()  # O(1) scalar per m
        chk = (
            member.withColumn("h1", h("p", 1, m))
            .withColumn("h2", h("p", 9, m))
            .join(
                F.broadcast(pos.withColumnRenamed("pos", "b1")),
                F.col("h1") == F.col("b1"),
                "left",
            )
            .join(
                F.broadcast(pos.withColumnRenamed("pos", "b2")),
                F.col("h2") == F.col("b2"),
                "left",
            )
            .select(
                "is_member",
                (F.col("b1").isNotNull() & F.col("b2").isNotNull()).alias("maybe"),
            )
        )
        fp = F.sum(F.when(F.col("maybe") & ~F.col("is_member"), 1).otherwise(0))
        block = chk.agg(
            F.count("*").cast("long").alias("n_probes"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_members"),
            F.sum(F.when(F.col("maybe"), 1).otherwise(0))
            .cast("long")
            .alias("n_maybe"),
            fp.cast("long").alias("n_false_positive"),
            (
                fp.cast("double")
                / F.sum(F.when(F.col("is_member"), 0).otherwise(1))
            ).alias("fpr"),
        ).select(
            F.lit(m).cast("long").alias("m"),
            F.lit(n_bits).cast("long").alias("n_bits_set"),
            "n_probes",
            "n_true_members",
            "n_maybe",
            "n_false_positive",
            "fpr",
        )
        out = block if out is None else out.unionByName(block)
    return out
