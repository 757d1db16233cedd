"""Behavioral / graph analytics over the event stream: cohort
retention, Markov transition mining, and fixed-iteration PageRank.

These are the product-analytics queries a CDC-fed events table exists
to answer (the reference's event stream — client.go RequestData over
the events topic — lands exactly this shape downstream).  Same contract
as every operator module: declarative DataFrame expressions with a
DuckDB oracle, cross-engine-exact arithmetic, 100 TB notes inline.

Scale notes: cohort retention and transitions are each one or two keyed
shuffles on (user_id) / (cohort, week) — the canonical partial-agg
shapes that scale linearly.  PageRank is the iterative join-agg pattern
(GraphX's backbone); iterations here are UNROLLED (fixed count), so the
whole thing is one Catalyst plan with no driver-side convergence loop —
at 100 TB each iteration is a shuffle on the node key, and AQE handles
the skew of celebrity nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from maxscale_cdc_spark.registry import register
from maxscale_cdc_spark.session import stage
from maxscale_cdc_spark.tables import table

# ---------------------------------------------------------------------------
# rel_cohort_retention — weekly cohort retention matrix: users grouped
# by first-activity week; for each (cohort, weeks-since) the count of
# still-active users and the retention ratio.
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
), first AS (
  SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, wk FROM ev
), sized AS (
  SELECT cohort_week, count(*) AS cohort_size FROM first GROUP BY cohort_week
), cells AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS BIGINT) AS week_no,
         count(DISTINCT a.user_id) AS n_active
  FROM active a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, c.week_no, c.n_active,
       round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM cells c JOIN sized s USING (cohort_week)
"""


@register("rel_cohort_retention", _COHORT_ORACLE)
def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention.  Three partial-aggregable shuffles:
    per-user first week (groupBy user_id), distinct (user, week), and
    the cell rollup (groupBy cohort, week_no); cohort sizes come back
    by broadcast (weeks are few even at 100 TB — the dimension is
    calendar-bounded, so the broadcast never grows with data volume).
    Weeks are date_trunc('week') — ISO Monday in both engines — so the
    day-diff is always a multiple of 7 and the integer division is
    exact."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    active = ev.distinct()
    sized = first.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    cells = (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_no"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(sized), "cohort_week").select(
        "cohort_week",
        "week_no",
        "n_active",
        F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# rel_markov_transitions — first-order Markov chain over per-user event
# sequences: P(next event type | current event type).  The process-
# mining primitive behind "what do users do after X".
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS curr_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, curr_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
FROM pairs
"""


@register("rel_markov_transitions", _MARKOV_ORACLE)
def rel_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix.  One shuffle on user_id for the
    lag window (ties broken by event_id — total order, deterministic in
    both engines), one partial-aggregable groupBy on the pair, then a
    window over prev_type for row-normalized probabilities — prev_type
    cardinality is the event-type vocabulary, tiny and data-volume-
    independent, so the final window is never the bottleneck.  At
    100 TB the user_id shuffle is the cost, and it's the same shuffle
    sessionization already pays — in a real pipeline the two share one
    repartition."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
    )
    wn = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "curr_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# rel_graph_pagerank — weighted PageRank over the event-type transition
# graph, damping 0.85, FIVE UNROLLED iterations.  Nodes are event
# types, edge weights the Markov transition probabilities above.
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 5


def _pr_oracle() -> str:
    head = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS curr_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT prev_type, curr_type,
         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS wt
  FROM pairs
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), nn AS (
  SELECT count(*) AS cnt FROM nodes
), r0 AS (
  SELECT node, 1.0 / cnt AS rank FROM nodes, nn
)"""
    step = """, r{i} AS (
  SELECT n.node,
         {base} / nn.cnt + {damp} * COALESCE(sum(p.rank * w.wt), 0) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN w ON w.curr_type = n.node
  LEFT JOIN r{prev} p ON p.node = w.prev_type
  GROUP BY n.node, nn.cnt
)"""
    body = "".join(
        step.format(i=i, prev=i - 1, base=round(1 - _PR_DAMP, 2), damp=_PR_DAMP)
        for i in range(1, _PR_ITERS + 1)
    )
    return (
        head
        + body
        + f"\nSELECT node, round(rank, 6) AS pagerank FROM r{_PR_ITERS}"
    )


@register("rel_graph_pagerank", _pr_oracle())
def rel_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 5 unrolled iterations, one Catalyst plan.

    The iterative join-agg is THE distributed graph pattern: each
    iteration joins current ranks to the edge list on the source key
    and re-aggregates on the destination key.  Unrolling a fixed
    iteration count keeps everything declarative (no driver loop, no
    checkpoint); for convergence-driven variants see llm_dedup_cluster,
    which runs the same shape to a fixed point with parquet
    checkpointing per round.  At 100 TB the edge list is the big side,
    rank vectors are node-keyed and partial-aggregated; celebrity-node
    skew is AQE's skew-join case.  Node count here is the event-type
    vocabulary, but nothing in the plan depends on it being small.
    Dangling-node mass is deliberately dropped (same formula both
    engines), matching the oracle's COALESCE(sum, 0)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
    )
    wn = W.partitionBy("prev_type")
    edges = pairs.select(
        "prev_type",
        "curr_type",
        (F.col("n").cast("double") / F.sum("n").over(wn)).alias("wt"),
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count("*").alias("cnt"))
    ranks = nodes.join(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("cnt")).alias("rank")
    )
    base = round(1 - _PR_DAMP, 2)
    for _ in range(_PR_ITERS):
        contrib = edges.join(
            ranks.withColumnRenamed("node", "prev_type"), "prev_type"
        ).select("curr_type", (F.col("rank") * F.col("wt")).alias("c"))
        ranks = (
            nodes.join(contrib, nodes.node == contrib.curr_type, "left")
            .groupBy("node")
            .agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("in_mass"))
            .join(F.broadcast(nn))
            .select(
                "node",
                (F.lit(base) / F.col("cnt") + F.lit(_PR_DAMP) * F.col("in_mass")).alias(
                    "rank"
                ),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# rel_resample_ohlc — time-series downsampling to 6-hour bars: per
# event type, open/high/low/close/volume over the value column.  The
# hypertable-rollup primitive (continuous-aggregate shape) every
# time-series store ships.
# ---------------------------------------------------------------------------

_BAR_US = 6 * 3600 * 1_000_000  # 6-hour bars in microseconds

_OHLC_ORACLE = f"""
WITH b AS (
  SELECT event_type, value, ts, event_id,
         epoch_us(ts) // {_BAR_US} AS bucket,
         row_number() OVER (PARTITION BY event_type, epoch_us(ts) // {_BAR_US}
                            ORDER BY ts, event_id) AS rn_open,
         row_number() OVER (PARTITION BY event_type, epoch_us(ts) // {_BAR_US}
                            ORDER BY ts DESC, event_id DESC) AS rn_close
  FROM events
)
SELECT event_type,
       make_timestamp(bucket * {_BAR_US}) AS bar_start,
       max(CASE WHEN rn_open = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_close = 1 THEN value END) AS close,
       count(*) AS volume
FROM b
GROUP BY event_type, bucket
"""


@register("rel_resample_ohlc", _OHLC_ORACLE)
def rel_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resample: 6-hour bars per event type.  Open/close are the
    first/last values in (ts, event_id) order — row_number windows, a
    total order, so both engines pick the identical row even under
    same-microsecond ties.  High/low/volume are plain max/min/count
    (no arithmetic on doubles, so cross-engine exact).

    One keyed shuffle on (event_type, bucket) serves BOTH windows
    (opposite sort directions reuse the exchange) and the final
    aggregation is partial-aggregable on the same key — at 100 TB this
    is the one-shuffle rollup a continuous aggregate maintains
    incrementally; pair with cdc_incremental_agg for the IVM variant.
    Bucket arithmetic is integer microseconds (epoch_us div) — no
    double rounding at bucket edges in either engine."""
    ev = table(spark, sf_dir, "events")
    # ts arrives as TIMESTAMP_NTZ from parquet; unix_micros needs
    # TIMESTAMP.  The session zone is pinned to UTC (session.py:26) so
    # the cast is wall-clock-preserving and the epoch matches DuckDB's
    # epoch_us over the same naive values.
    bucket = F.expr(f"div(unix_micros(cast(ts as timestamp)), {_BAR_US})")
    b = ev.select("event_type", "value", "ts", "event_id", bucket.alias("bucket"))
    wo = W.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    wc = W.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        b.withColumn("rn_open", F.row_number().over(wo))
        .withColumn("rn_close", F.row_number().over(wc))
        .groupBy("event_type", "bucket")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("volume"),
        )
        .select(
            "event_type",
            # back to NTZ so the output schema matches the source column
            # (and DuckDB's naive make_timestamp); UTC session zone makes
            # the cast wall-clock-preserving
            F.timestamp_micros(F.col("bucket") * _BAR_US)
            .cast("timestamp_ntz")
            .alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


# ---------------------------------------------------------------------------
# rel_attribution — last-touch marketing attribution: each purchase is
# credited to the user's most recent PRIOR click.  The canonical
# behavioral-analytics as-of pattern expressed as one carry-forward
# window (no join): order each user's events by (ts, event_id), carry
# the last click forward with last_value(ignore nulls), and keep the
# purchase rows.
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
  FROM events
)
SELECT user_id,
       event_id AS purchase_id,
       ts AS purchase_ts,
       click_id,
       CASE WHEN click_ts IS NULL THEN NULL
            ELSE CAST(floor(extract(epoch FROM ts)) -
                      floor(extract(epoch FROM click_ts)) AS BIGINT)
       END AS seconds_since_click
FROM e
WHERE event_type = 'purchase'
"""


@register("rel_attribution", _ATTRIBUTION_ORACLE)
def rel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution via a per-user carry-forward window.

    One keyed shuffle on user_id (the stream's natural partition key);
    the frame excludes the current row so a purchase can never
    self-attribute.  The gap is integer epoch seconds — exact.  At
    100 TB this is the same single-shuffle shape as cdc_latest_state:
    no self-join, no range join, state bounded by one row per user."""
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            click_id.alias("click_id"),
            click_ts.alias("click_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "click_id",
            (F.unix_timestamp("ts") - F.unix_timestamp("click_ts"))
            .cast("long")
            .alias("seconds_since_click"),
        )
    )


# ---------------------------------------------------------------------------
# rel_hypertable_rollup — continuous-aggregate chaining (the TimescaleDB
# hypertable rollup pattern): raw events roll up to an HOURLY layer,
# and the DAILY layer is derived from the hourly AGGREGATE — sums of
# sums and sums of counts — never by rescanning raw data.  n_hours
# proves the lineage: it counts hourly buckets, a quantity that does
# not exist in the raw events.
# ---------------------------------------------------------------------------

_HYPER_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS sv
  FROM events
  GROUP BY 1, 2
)
SELECT CAST(date_trunc('day', h) AS DATE) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(SUM(sv) AS DOUBLE) AS sum_value
FROM hourly
GROUP BY 1, 2
"""


@register("rel_hypertable_rollup", _HYPER_ORACLE)
def rel_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level continuous aggregate: hour buckets from the scan, day
    buckets from the HOUR AGGREGATE.

    At 100 TB this is the load-bearing property: the daily refresh
    reads |hours × types| rows (thousands), not the raw table — a
    maintained hourly materialization makes every coarser resolution
    (day, week, month) a cheap re-aggregation, and late raw data only
    dirties the hours it lands in.  Decimal sums keep the chain exact:
    sum-of-hourly-sums equals the raw-scan sum bit-for-bit at any
    grouping, so the chained and direct answers never diverge."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
    )
    return (
        hourly.groupBy(
            F.to_date(F.date_trunc("day", "h")).alias("day"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.sum("n").cast("long").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# rel_time_weighted_avg — time-weighted average (the hypertable/
# TimescaleDB `time_weight` aggregate): each observation holds until
# the next one, so its weight is the seconds until the user's next
# event.  The honest mean for irregularly-sampled state (sensor values,
# account balances, feature gauges) where arithmetic mean over-weights
# chatty periods.
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ts_s,
         value,
         event_id
  FROM events
), d AS (
  SELECT user_id, value,
         lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) - ts_s
           AS dur_s
  FROM e
), w AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,4)) * dur_s) AS DOUBLE) AS num,
         CAST(sum(dur_s) AS BIGINT) AS total_s,
         CAST(count(*) AS BIGINT) AS n_holds
  FROM d WHERE dur_s IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_holds, total_s, num,
       num / total_s AS twa_value
FROM w WHERE total_s > 0
"""


@register("rel_time_weighted_avg", _TWA_ORACLE)
def rel_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value` under last-observation-
    carried-forward: weight = seconds until the user's next event
    (lead over the (ts, event_id) total order; the final observation
    has no successor and is excluded, the standard left-closed TWA).

    One window shuffle on user_id + one user-keyed aggregation riding
    the SAME partitioning (the exchange is reused).  Exactness: the
    numerator is DECIMAL(18,4) value × BIGINT seconds summed exactly,
    surfaced as double; twa = num/total_s is then one IEEE division of
    identical operands in both engines.  Zero-duration holds contribute
    zero weight naturally; all-zero users are excluded (total_s > 0)
    to keep the export NULL-free.

    At 100 TB the user_id window is the stream's natural key (millions
    of small partitions — no skew hazard), and the same shape extends
    to time-bucketed TWA (add the bucket to both keys) for hypertable
    rollups (rel_hypertable_rollup is the plain-sum sibling)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "value",
        "event_id",
    )
    dur = (
        F.lead("ts_s").over(W.partitionBy("user_id").orderBy("ts_s", "event_id"))
        - F.col("ts_s")
    )
    d = e.select("user_id", "value", dur.alias("dur_s")).filter(
        F.col("dur_s").isNotNull()
    )
    w = d.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)") * F.col("dur_s"))
        .cast("double")
        .alias("num"),
        F.sum("dur_s").cast("long").alias("total_s"),
        F.count("*").cast("long").alias("n_holds"),
    )
    return w.filter(F.col("total_s") > 0).select(
        "user_id",
        "n_holds",
        "total_s",
        "num",
        (F.col("num") / F.col("total_s")).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# rel_lag_features — ML feature engineering over the event stream: per
# user, previous-event values (lag-1/lag-2), the delta, and a rolling
# 3-event decimal sum — the feature-preparation pass a training
# pipeline runs before assembling examples.
# ---------------------------------------------------------------------------

_LAG_FEATURES_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, value,
         CAST(value AS DECIMAL(18,4)) AS dv
  FROM events
)
SELECT user_id, event_id, value,
       lag(value, 1) OVER w AS lag1,
       lag(value, 2) OVER w AS lag2,
       CAST(CAST(value AS DECIMAL(18,4))
            - lag(dv, 1) OVER w AS DOUBLE) AS delta1,
       CAST(sum(dv) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS roll3_sum,
       CAST(row_number() OVER w AS BIGINT) AS seq_in_user
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


@register("rel_lag_features", _LAG_FEATURES_ORACLE)
def rel_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/rolling features over the (event_id) total order:
    lag1/lag2 raw values (selections — exact), delta1 and the rolling
    3-event sum computed in DECIMAL(18,4) and surfaced as double
    (order-independent exact arithmetic; a raw-double running sum
    would be partition-order-dependent).

    ONE window shuffle on user_id serves every feature — lags, delta,
    rolling frame, and sequence index all share the same (user_id,
    event_id) sort, so Catalyst plans a single exchange + sort with
    stacked window functions.  At 100 TB this is the canonical
    feature-backfill shape: the stream's natural key partitioning,
    no second shuffle, append-only friendly (new events extend each
    user's tail)."""
    ev = table(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,4)")
    w = W.partitionBy("user_id").orderBy("event_id")
    roll = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-2, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value", 1).over(w).alias("lag1"),
        F.lag("value", 2).over(w).alias("lag2"),
        (dv - F.lag(dv, 1).over(w)).cast("double").alias("delta1"),
        F.sum(dv).over(roll).cast("double").alias("roll3_sum"),
        F.row_number().over(w).cast("long").alias("seq_in_user"),
    )


# ---------------------------------------------------------------------------
# rel_graph_triangles — distributed triangle counting, the classic
# multi-way-join graph workload (Suri & Vassilvitskii 2011): orient
# every edge low→high, join the oriented list with itself to build
# 2-paths (a→b→c with a<b<c), then semi-join the closing edge a→c.
# Orientation bounds the join fan-out by each node's FORWARD degree
# (max total degree in the skewed case — the standard mitigation is
# degree-ordering instead of id-ordering; id order suffices for the
# quasi-random graph here and keeps both engines' edge sets identical).
#
# The graph is derived deterministically from the event stream
# (node = event_id % 97, peer = (event_id * 31) % 97 — a dense
# quasi-random 97-node graph), so the oracle rebuilds the identical
# edge set.  Scale shape: one distinct on edges, two equi-joins keyed
# on node ids, one count — every step partial-aggregable/shuffle-keyed,
# no windows, no Python.
# ---------------------------------------------------------------------------

_TRI_ORACLE = """
WITH raw AS (
  SELECT event_id % 97 AS u, (event_id * 31) % 97 AS v FROM events
), edges AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM raw WHERE u <> v
), paths AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
), tri AS (
  SELECT p.a, p.b, p.c
  FROM paths p JOIN edges e ON p.a = e.a AND p.c = e.b
)
SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT count(DISTINCT a) FROM tri) AS BIGINT)
         AS n_apex_nodes
"""


@register("rel_graph_triangles", _TRI_ORACLE)
def rel_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented 2-path join + closing-edge join over the deterministic
    event-derived graph; integer-only exports (edge count, triangle
    count, distinct apex nodes)."""
    ev = table(spark, sf_dir, "events")
    raw = ev.select(
        (F.col("event_id") % 97).alias("u"),
        ((F.col("event_id") * 31) % 97).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    edges = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    e1 = edges.alias("e1")
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    paths = e1.join(e2, "b").select("a", "b", "c")
    closing = edges.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = paths.join(closing, ["a", "c"])
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    nt = tri.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.countDistinct("a").cast("long").alias("n_apex_nodes"),
    )
    return ne.crossJoin(nt).select("n_edges", "n_triangles", "n_apex_nodes")


# ---------------------------------------------------------------------------
# rel_graph_khop — K-hop reachability (BFS frontier expansion, K = 3)
# from deterministic seed nodes over the same event-derived graph the
# triangle/pagerank family uses: per (seed, hops) the count of nodes
# FIRST reached at that distance.  The multi-source BFS shape behind
# social-reach, fraud blast-radius, and lineage-impact queries.
#
# Spark runs the real frontier loop: per level ONE equi-join frontier⋈
# adjacency, one anti-join against the visited set, one distinct — all
# keyed on the node id, each level localCheckpoint-staged (iterated-
# plan rule).  The oracle unrolls the same three levels as MATERIALIZED
# CTEs (DuckDB default-inlines).  Frontier dedup per level keeps the
# join input |frontier|, not |paths| — the difference between BFS and
# path enumeration (which is exponential).
#
# Seeds are derived from the NODE set (node % 10 == 0), so both
# engines agree even if a residue never appears in the fixture.
# ---------------------------------------------------------------------------

_KHOP_ORACLE = """
WITH raw AS (
  SELECT event_id % 97 AS u, (event_id * 31) % 97 AS v FROM events
  WHERE event_id % 97 <> (event_id * 31) % 97
), edges AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM raw
), adj AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
), nodes AS (
  SELECT DISTINCT a AS n FROM adj
), seeds AS MATERIALIZED (
  SELECT n AS seed FROM nodes WHERE n % 10 = 0
), v0 AS (
  SELECT seed, seed AS node FROM seeds
), f1 AS MATERIALIZED (
  SELECT DISTINCT s.seed, adj.b AS node
  FROM v0 s JOIN adj ON adj.a = s.node
  WHERE NOT EXISTS (SELECT 1 FROM v0 p WHERE p.seed = s.seed AND p.node = adj.b)
), v1 AS MATERIALIZED (
  SELECT * FROM v0 UNION ALL SELECT * FROM f1
), f2 AS MATERIALIZED (
  SELECT DISTINCT f.seed, adj.b AS node
  FROM f1 f JOIN adj ON adj.a = f.node
  WHERE NOT EXISTS (SELECT 1 FROM v1 p WHERE p.seed = f.seed AND p.node = adj.b)
), v2 AS MATERIALIZED (
  SELECT * FROM v1 UNION ALL SELECT * FROM f2
), f3 AS MATERIALIZED (
  SELECT DISTINCT f.seed, adj.b AS node
  FROM f2 f JOIN adj ON adj.a = f.node
  WHERE NOT EXISTS (SELECT 1 FROM v2 p WHERE p.seed = f.seed AND p.node = adj.b)
), lv AS (
  SELECT seed, 1 AS hops, node FROM f1
  UNION ALL SELECT seed, 2, node FROM f2
  UNION ALL SELECT seed, 3, node FROM f3
)
SELECT CAST(seed AS BIGINT) AS seed, CAST(hops AS BIGINT) AS hops,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM lv
GROUP BY seed, hops
"""


@register("rel_graph_khop", _KHOP_ORACLE)
def rel_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source 3-hop BFS reach counts (nodes FIRST reached per
    distance) via staged frontier expansion (see block comment)."""
    ev = table(spark, sf_dir, "events")
    raw = ev.select(
        (F.col("event_id") % 97).alias("u"),
        ((F.col("event_id") * 31) % 97).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    edges = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    adj = stage(
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    seeds = (
        adj.select(F.col("a").alias("n"))
        .distinct()
        .filter(F.col("n") % 10 == 0)
        .select(F.col("n").alias("seed"))
    )
    visited = stage(seeds.select("seed", F.col("seed").alias("node")))
    frontier = visited
    levels = []
    for k in (1, 2, 3):
        nxt = stage(
            frontier.join(adj, frontier.node == adj.a)
            .select("seed", F.col("b").alias("node"))
            .join(visited, ["seed", "node"], "left_anti")
            .distinct()
        )
        levels.append(
            nxt.select("seed", F.lit(k).cast("long").alias("hops"), "node")
        )
        visited = stage(visited.unionByName(nxt))
        frontier = nxt
    lv = levels[0].unionByName(levels[1]).unionByName(levels[2])
    return lv.groupBy(F.col("seed").cast("long").alias("seed"), "hops").agg(
        F.count("*").cast("long").alias("n_nodes")
    )
