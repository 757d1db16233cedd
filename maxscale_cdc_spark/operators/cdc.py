"""CDC-core operators — the reference's semantics, operator-ized.

The driver's `events` table is stream-shaped (`event_id ≙ sequence`,
`user_id ≙ primary key`, `event_type`, `props ≙ raw payload`); a shared
deterministic mapping (`cdc_view` / `CDC_SQL`) lifts it into the
reference's envelope shape so every operator here exercises the real
CDC semantics: dispatch (client.go:410-412), GTID synthesis
(event.go:216-218), resume position (client.go:122-126), payload
anti-projection (event.go:220-236), total ordering (event.go:189-200),
duplicate-delivery dedup, update-pairing (event.go:177-183), latest-
state materialization and SCD2 history.

Scale notes (100 TB): every operator below is a narrow map or a single
keyed shuffle on the primary key / GTID domain — the natural partition
key of a CDC stream.  Windows partition by `pk` (never a global
unpartitioned window); dedup and latest-state are map-side-combinable
aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.window import first_per
from maxscale_cdc_spark.registry import oracle_splice, register
from maxscale_cdc_spark.session import stage
from maxscale_cdc_spark.sources.envelope import gtid_col
from maxscale_cdc_spark.sources.schema_registry import decode_ddl
from maxscale_cdc_spark.tables import table

# ---------------------------------------------------------------------------
# Shared CDC envelope view over the `events` table — identical semantics in
# Spark (cdc_view) and DuckDB (CDC_SQL).
# ---------------------------------------------------------------------------

#: event_type → DML type mapping (deterministic; covers all 4 DML kinds,
#: event.go:167-183).
_DML_CASE_SQL = (
    "CASE event_type WHEN 'signup' THEN 'insert' WHEN 'purchase' THEN 'insert' "
    "WHEN 'view' THEN 'update_before' WHEN 'click' THEN 'update_after' "
    "ELSE 'delete' END"
)

CDC_SQL = f"""
WITH cdc AS (
  SELECT CAST(0 AS INT) AS domain,
         CAST(3000 AS INT) AS server_id,
         event_id AS sequence,
         CAST(1 AS INT) AS event_number,
         CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ts_unix,
         {_DML_CASE_SQL} AS dml_type,
         user_id AS pk,
         value,
         props,
         ts
  FROM events
)
"""


def cdc_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.lit(0).cast("int").alias("domain"),
        F.lit(3000).cast("int").alias("server_id"),
        F.col("event_id").alias("sequence"),
        F.lit(1).cast("int").alias("event_number"),
        F.unix_timestamp("ts").alias("ts_unix"),
        F.when(F.col("event_type").isin("signup", "purchase"), F.lit("insert"))
        .when(F.col("event_type") == "view", F.lit("update_before"))
        .when(F.col("event_type") == "click", F.lit("update_after"))
        .otherwise(F.lit("delete"))
        .alias("dml_type"),
        F.col("user_id").alias("pk"),
        F.col("value"),
        F.col("props"),
        F.col("ts"),
    )


# ---------------------------------------------------------------------------
# cdc_event_dispatch — DML/DDL/ERR line classification (client.go:253-287,
# 410-412).  Wire lines are synthesized deterministically from the event id
# so both engines build byte-identical strings.
# ---------------------------------------------------------------------------

_DISPATCH_ORACLE = f"""
{CDC_SQL}
, raw_lines AS (
  SELECT CASE
           WHEN sequence % 50 = 0 THEN '{{"namespace": "MaxScaleChangeDataSchema.avro", "version": ' || CAST(sequence / 50 AS VARCHAR) || '}}'
           WHEN sequence % 97 = 13 THEN 'ERR stream error at ' || CAST(sequence AS VARCHAR)
           ELSE '{{"domain": 0, "server_id": 3000, "sequence": ' || CAST(sequence AS VARCHAR) || '}}'
         END AS raw
  FROM cdc
)
SELECT CASE WHEN raw LIKE 'ERR%' THEN 'err'
            WHEN raw LIKE '{{"domain":%' THEN 'dml'
            ELSE 'ddl' END AS event_class,
       CAST(count(*) AS BIGINT) AS n
FROM raw_lines
GROUP BY 1
"""


@register("cdc_event_dispatch", _DISPATCH_ORACLE)
def cdc_event_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    seq_str = F.col("sequence").cast("string")
    raw = (
        F.when(
            F.col("sequence") % 50 == 0,
            F.concat(
                F.lit('{"namespace": "MaxScaleChangeDataSchema.avro", "version": '),
                (F.col("sequence") / F.lit(50)).cast("long").cast("string"),
                F.lit("}"),
            ),
        )
        .when(
            F.col("sequence") % 97 == 13,
            F.concat(F.lit("ERR stream error at "), seq_str),
        )
        .otherwise(
            F.concat(
                F.lit('{"domain": 0, "server_id": 3000, "sequence": '),
                seq_str,
                F.lit("}"),
            )
        )
    )
    lines = cdc.select(raw.alias("raw"))
    classified = lines.withColumn(
        "event_class",
        F.when(F.col("raw").startswith("ERR"), F.lit("err"))
        .when(F.col("raw").startswith('{"domain":'), F.lit("dml"))
        .otherwise(F.lit("ddl")),
    )
    return classified.groupBy("event_class").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# cdc_gtid — GTID synthesis "%d-%d-%d" (event.go:216-218).
# ---------------------------------------------------------------------------

_GTID_ORACLE = f"""
{CDC_SQL}
SELECT sequence,
       CAST(domain AS VARCHAR) || '-' || CAST(server_id AS VARCHAR) || '-' || CAST(sequence AS VARCHAR) AS gtid
FROM cdc
"""


@register("cdc_gtid", _GTID_ORACLE)
def cdc_gtid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    return cdc.select("sequence", gtid_col().alias("gtid"))


# ---------------------------------------------------------------------------
# cdc_gtid_filter — resume-from-GTID (client.go:122-126; semantics per
# client_test.go:169-266: keep events at/after the position).  The position
# compare is the lexicographic struct order (domain, server_id, sequence).
# ---------------------------------------------------------------------------

_RESUME_AT = (0, 3000, 500)

_GTID_FILTER_ORACLE = f"""
{CDC_SQL}
SELECT CAST(domain AS VARCHAR) || '-' || CAST(server_id AS VARCHAR) || '-' || CAST(sequence AS VARCHAR) AS gtid,
       pk, dml_type
FROM cdc
WHERE domain > {_RESUME_AT[0]}
   OR (domain = {_RESUME_AT[0]} AND (server_id > {_RESUME_AT[1]}
   OR (server_id = {_RESUME_AT[1]} AND sequence >= {_RESUME_AT[2]})))
"""


@register("cdc_gtid_filter", _GTID_FILTER_ORACLE)
def cdc_gtid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    pos = F.struct(F.col("domain"), F.col("server_id"), F.col("sequence"))
    start = F.struct(
        F.lit(_RESUME_AT[0]).cast("int"),
        F.lit(_RESUME_AT[1]).cast("int"),
        F.lit(_RESUME_AT[2]).cast("long"),
    )
    return cdc.filter(pos >= start).select(
        gtid_col().alias("gtid"), "pk", "dml_type"
    )


# ---------------------------------------------------------------------------
# cdc_payload_project — strip the envelope, keep the dynamic payload
# (event.go:220-236).  The `props` JSON column plays the raw payload.
# ---------------------------------------------------------------------------

_PAYLOAD_ORACLE = f"""
{CDC_SQL}
SELECT sequence, CAST(json_extract_string(props, '$.k') AS INT) AS payload_k
FROM cdc
"""


@register("cdc_payload_project", _PAYLOAD_ORACLE)
def cdc_payload_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    return cdc.select(
        "sequence",
        F.get_json_object("props", "$.k").cast("int").alias("payload_k"),
    )


# ---------------------------------------------------------------------------
# cdc_order — total order by (domain, server_id, sequence, event_number)
# (event.go:189-200).  Partitioned by pk: per-key delivery order is what
# downstream apply needs, and a partitioned window scales (a global window
# would single-task at 100 TB).
# ---------------------------------------------------------------------------

_ORDER_ORACLE = f"""
{CDC_SQL}
SELECT pk, sequence,
       CAST(row_number() OVER (PARTITION BY pk ORDER BY domain, server_id, sequence, event_number) AS BIGINT) AS rn
FROM cdc
"""


@register("cdc_order", _ORDER_ORACLE)
def cdc_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    w = W.partitionBy("pk").orderBy("domain", "server_id", "sequence", "event_number")
    return cdc.select(
        "pk", "sequence", F.row_number().over(w).cast("long").alias("rn")
    )


# ---------------------------------------------------------------------------
# cdc_dedup_exact — at-least-once delivery dedup on the event key
# (client.go:253-287 delivers at-least-once on reconnect).  The stream is
# doubled to simulate redelivery; dedup is dropDuplicates on the position
# key, which Spark executes as a map-side-combinable hash aggregate.
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = f"""
{CDC_SQL}
, doubled AS (SELECT * FROM cdc UNION ALL SELECT * FROM cdc),
  deduped AS (
    SELECT DISTINCT domain, server_id, sequence, event_number, pk, dml_type
    FROM doubled
)
SELECT pk, CAST(count(*) AS BIGINT) AS n_events
FROM deduped
GROUP BY pk
"""


@register("cdc_dedup_exact", _DEDUP_ORACLE)
def cdc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir).select(
        "domain", "server_id", "sequence", "event_number", "pk", "dml_type"
    )
    doubled = cdc.unionAll(cdc)
    deduped = doubled.dropDuplicates(
        ["domain", "server_id", "sequence", "event_number"]
    )
    return deduped.groupBy("pk").agg(F.count("*").alias("n_events"))


# ---------------------------------------------------------------------------
# cdc_update_pair — UPDATE arrives as two events (before-image, after-image)
# (event.go:177-183); pair them via lead() over the per-key delivery order.
# One keyed shuffle; no self-join.
# ---------------------------------------------------------------------------

_UPDATE_PAIR_ORACLE = f"""
{CDC_SQL}
, ordered AS (
  SELECT pk, sequence, dml_type, value,
         lead(dml_type) OVER (PARTITION BY pk ORDER BY domain, server_id, sequence, event_number) AS next_type,
         lead(sequence) OVER (PARTITION BY pk ORDER BY domain, server_id, sequence, event_number) AS next_seq,
         lead(value)    OVER (PARTITION BY pk ORDER BY domain, server_id, sequence, event_number) AS next_value
  FROM cdc
)
SELECT pk, sequence AS before_seq, next_seq AS after_seq,
       value AS before_value, next_value AS after_value
FROM ordered
WHERE dml_type = 'update_before' AND next_type = 'update_after'
"""


@register("cdc_update_pair", _UPDATE_PAIR_ORACLE)
def cdc_update_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    w = W.partitionBy("pk").orderBy("domain", "server_id", "sequence", "event_number")
    paired = cdc.select(
        "pk",
        "sequence",
        "dml_type",
        "value",
        F.lead("dml_type").over(w).alias("next_type"),
        F.lead("sequence").over(w).alias("next_seq"),
        F.lead("value").over(w).alias("next_value"),
    )
    return paired.filter(
        (F.col("dml_type") == "update_before") & (F.col("next_type") == "update_after")
    ).select(
        "pk",
        F.col("sequence").alias("before_seq"),
        F.col("next_seq").alias("after_seq"),
        F.col("value").alias("before_value"),
        F.col("next_value").alias("after_value"),
    )


# ---------------------------------------------------------------------------
# cdc_latest_state — materialize current table state: last image per PK,
# dropping PKs whose last event is a delete.  This is THE CDC-apply
# operator (north star).  row_number over (pk, position desc): a single
# keyed shuffle, skew-safe under AQE.
# ---------------------------------------------------------------------------

_LATEST_ORACLE = f"""
{CDC_SQL}
, ranked AS (
  SELECT pk, sequence, dml_type, value, ts_unix,
         row_number() OVER (PARTITION BY pk ORDER BY domain DESC, server_id DESC, sequence DESC, event_number DESC) AS rn
  FROM cdc
)
SELECT pk, sequence AS last_seq, value AS last_value, ts_unix AS last_ts_unix
FROM ranked
WHERE rn = 1 AND dml_type <> 'delete'
"""


@register("cdc_latest_state", _LATEST_ORACLE)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_state(cdc_view(spark, sf_dir))


def latest_state(cdc: DataFrame) -> DataFrame:
    """Reusable CDC-apply over any envelope-shaped DataFrame."""
    last = first_per(
        cdc,
        "pk",
        F.col("domain").desc(),
        F.col("server_id").desc(),
        F.col("sequence").desc(),
        F.col("event_number").desc(),
    )
    return _live_images(last)


def _live_images(images: DataFrame, *extra: str | Column) -> DataFrame:
    """Final images → served rows `pk, last_seq, last_value,
    last_ts_unix` (+ `extra`): CDC deletes dropped."""
    return images.filter(F.col("dml_type") != "delete").select(
        "pk",
        F.col("sequence").alias("last_seq"),
        F.col("value").alias("last_value"),
        F.col("ts_unix").alias("last_ts_unix"),
        *extra,
    )


# ---------------------------------------------------------------------------
# cdc_scd2 — slowly-changing-dimension type-2 history: validity interval per
# row image (schema-version semantics, event.go:35-36).  lead() over the
# per-key order gives valid_to; the open interval is NULL.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = f"""
{CDC_SQL}
, images AS (
  SELECT pk, sequence, value, ts_unix
  FROM cdc
  WHERE dml_type IN ('insert', 'update_after')
)
SELECT pk, sequence, value,
       ts_unix AS valid_from,
       lead(ts_unix) OVER (PARTITION BY pk ORDER BY sequence) AS valid_to
FROM images
"""


@register("cdc_scd2", _SCD2_ORACLE)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    images = cdc.filter(F.col("dml_type").isin("insert", "update_after"))
    w = W.partitionBy("pk").orderBy("sequence")
    return images.select(
        "pk",
        "sequence",
        "value",
        F.col("ts_unix").alias("valid_from"),
        F.lead("ts_unix").over(w).alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# cdc_gap_detect — ordered-delivery monitoring: sequence gaps per stream
# partition reveal lost events (the reference's total order,
# event.go:189-200, makes gaps detectable; its at-least-once channel can
# drop nothing silently — a gap means upstream loss).
# ---------------------------------------------------------------------------

_GAP_ORACLE = f"""
{CDC_SQL}
, seq AS (
  SELECT pk, sequence,
         lag(sequence) OVER (PARTITION BY pk ORDER BY sequence) AS prev_seq
  FROM cdc
)
SELECT pk, prev_seq AS gap_start, sequence AS gap_end,
       CAST(sequence - prev_seq - 1 AS BIGINT) AS missing
FROM seq
WHERE prev_seq IS NOT NULL AND sequence - prev_seq > 20
"""


@register("cdc_gap_detect", _GAP_ORACLE)
def cdc_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key sequence-gap detection via lag(): one keyed shuffle, no
    self-join.  (Threshold 20 because the synthetic stream interleaves
    keys — per-key deltas are ~n_keys on average; a real CDC stream
    checks per-domain global sequence with threshold 1.)"""
    cdc = cdc_view(spark, sf_dir)
    w = W.partitionBy("pk").orderBy("sequence")
    seq = cdc.select(
        "pk", "sequence", F.lag("sequence").over(w).alias("prev_seq")
    )
    return seq.filter(
        F.col("prev_seq").isNotNull() & (F.col("sequence") - F.col("prev_seq") > 20)
    ).select(
        "pk",
        F.col("prev_seq").alias("gap_start"),
        F.col("sequence").alias("gap_end"),
        (F.col("sequence") - F.col("prev_seq") - 1).alias("missing"),
    )


# ---------------------------------------------------------------------------
# cdc_snapshot_tail — initial snapshot + CDC tail merge: the "request the
# table, then follow changes" consumption pattern (client_test.go:75-80
# consumes seeded inserts, then the live tail).  The snapshot is the
# materialized state below a cutover position; the tail is every event at or
# after it; applying the tail over the snapshot must equal latest-state over
# the full stream.
# ---------------------------------------------------------------------------

_CUTOVER = 500

_SNAPSHOT_TAIL_ORACLE = f"""
{CDC_SQL}
, ranked AS (
  SELECT pk, sequence, dml_type, value, ts_unix,
         row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
  FROM cdc
)
SELECT pk, sequence AS last_seq, value AS last_value
FROM ranked
WHERE rn = 1 AND dml_type <> 'delete'
"""


@register("cdc_snapshot_tail", _SNAPSHOT_TAIL_ORACLE)
def cdc_snapshot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_view(spark, sf_dir)
    snap_events = cdc.filter(F.col("sequence") < _CUTOVER)
    snapshot = first_per(snap_events, "pk", F.col("sequence").desc()).select(
        "pk", "sequence", "dml_type", "value"
    )
    tail = cdc.filter(F.col("sequence") >= _CUTOVER).select(
        "pk", "sequence", "dml_type", "value"
    )
    merged = snapshot.unionByName(tail)
    return (
        first_per(merged, "pk", F.col("sequence").desc())
        .filter(F.col("dml_type") != "delete")
        .select(
            "pk",
            F.col("sequence").alias("last_seq"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_schema_registry — polymorphic DDL field decode (event.go:58-137)
# re-expressed as the pure-Python StructType builder; the query surfaces
# the decoded registry as rows.  Oracle = golden VALUES (the decode is a
# driver-side metadata operation, like the reference's unmarshaller).
# ---------------------------------------------------------------------------

_DDL_FIXTURES = [
    # v1 — reference integration fixture (client_test.go:82-134).
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
        "name": "ChangeRecord", "table": "tests", "database": "test",
        "version": 1, "gtid": "0-3000-6", "fields": [
          {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1}]}""",
    # v2 — ALTER adds a nullable varchar and an unsigned int.
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
        "name": "ChangeRecord", "table": "tests", "database": "test",
        "version": 2, "gtid": "0-3000-20", "fields": [
          {"name": "id", "type": ["null", "int"], "real_type": "int", "length": -1},
          {"name": "name", "type": ["null", "string"], "real_type": "varchar", "length": 64},
          {"name": "flags", "type": ["null", "long"], "real_type": "int", "length": -1, "unsigned": true},
          {"name": "state", "type": {"type": "enum", "name": "STATES", "symbols": ["a", "b"]}}]}""",
]

_REGISTRY_ORACLE = """
SELECT * FROM (VALUES
  ('test', 'tests', 1, 'id',    0, 'int',    TRUE),
  ('test', 'tests', 2, 'id',    0, 'int',    TRUE),
  ('test', 'tests', 2, 'name',  1, 'string', TRUE),
  ('test', 'tests', 2, 'flags', 2, 'bigint', TRUE),
  ('test', 'tests', 2, 'state', 3, 'string', FALSE)
) AS t(database_name, table_name, version, field_name, field_pos, spark_type, nullable)
"""


@register("cdc_schema_registry", _REGISTRY_ORACLE)
def cdc_schema_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for line in _DDL_FIXTURES:
        ts = decode_ddl(line)
        for pos, fd in enumerate(ts.payload_fields()):
            rows.append(
                (
                    ts.database,
                    ts.table,
                    ts.version,
                    fd.name,
                    pos,
                    fd.spark_type().simpleString(),
                    fd.nullable,
                )
            )
    return spark.createDataFrame(
        rows,
        "database_name string, table_name string, version int, field_name string, "
        "field_pos int, spark_type string, nullable boolean",
    )


# ---------------------------------------------------------------------------
# flagship_cdc_segment — the repo's flagship pipeline (the same query
# `__spark_entry__.entry()` runs at sf0.001), registered so the driver
# certifies it like any other operator: CDC-apply (latest image per PK,
# deletes dropped) → broadcast-join the customer dim → hash-aggregate
# per market segment.  scan → keyed window → broadcast join → partial
# agg: one shuffle on pk, one on c_mktsegment (5 groups, map-side
# combined), dim broadcast — the canonical CDC-consumer shape at 100 TB.
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = f"""
{CDC_SQL}
, ranked AS (
  SELECT pk, value, dml_type,
         row_number() OVER (PARTITION BY pk ORDER BY domain DESC, server_id DESC, sequence DESC, event_number DESC) AS rn
  FROM cdc
), state AS (
  SELECT pk, value AS last_value FROM ranked WHERE rn = 1 AND dml_type <> 'delete'
)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CAST(s.last_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM state s JOIN customer c ON s.pk = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("flagship_cdc_segment", _FLAGSHIP_ORACLE)
def flagship_cdc_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_spark.functions.numeric import dsum

    state = latest_state(cdc_view(spark, sf_dir))
    cust = table(spark, sf_dir, "customer")
    return (
        state.join(F.broadcast(cust), state.pk == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_users"), dsum("last_value", "sum_value"))
    )


# ---------------------------------------------------------------------------
# cdc_incremental_agg — incremental materialized-view maintenance: turn
# the CDC stream into a DELTA stream whose per-key contributions
# telescope, so summing deltas maintains the aggregate that a full
# recompute over the latest state would produce.  This is the core IVM
# identity every CDC-fed dashboard/rollup relies on at 100 TB: applying
# deltas is O(batch), recomputing is O(table).
# ---------------------------------------------------------------------------

_INCR_ORACLE = f"""
{CDC_SQL}
, ranked AS (
  SELECT pk, value, dml_type,
         row_number() OVER (PARTITION BY pk ORDER BY domain DESC, server_id DESC, sequence DESC, event_number DESC) AS rn
  FROM cdc
), state AS (
  SELECT pk, value AS last_value FROM ranked WHERE rn = 1 AND dml_type <> 'delete'
)
SELECT CAST(pk % 10 AS BIGINT) AS bucket,
       CAST(SUM(CAST(last_value AS DECIMAL(18,4))) AS DOUBLE) AS incr_sum,
       CAST(SUM(CAST(last_value AS DECIMAL(18,4))) AS DOUBLE) AS recompute_sum,
       TRUE AS matches
FROM state
GROUP BY 1
"""


@register("cdc_incremental_agg", _INCR_ORACLE)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain SUM(last_value) per pk-bucket incrementally from the
    event stream and PROVE it equals full recomputation.

    Delta algebra: each non-delete event contributes ``+value −
    previous_live_value``; a delete contributes ``−previous_live_value``
    — where previous_live_value is a last() over the per-pk total order
    of the running state (the event's image, or 0 at a delete; a plain
    last-image lookback would skip deletes and double-subtract on
    re-insert).  Contributions per key telescope to "last live image or
    0", so the
    bucket-level running sum IS the view — the oracle certifies the
    identity by recomputing from scratch.  All deltas are exact
    DECIMAL(18,4): incremental vs recomputed must match to the BIT,
    which order-dependent double accumulation cannot promise.

    Scale: the delta derivation is the same single pk-keyed shuffle as
    cdc_latest_state; the maintenance agg is map-side combinable on
    bucket.  In production the deltas feed foreachBatch += merges
    (snk_upsert's pattern) instead of a full-stream window."""
    cdc = cdc_view(spark, sf_dir)
    # latest_state keeps the LAST event's image whenever that event is
    # not a delete — so in this envelope every non-delete row is a
    # state change (update_before rows carry the pre-image, which IS
    # the key's state between the before and after rows)
    is_delete = F.col("dml_type") == "delete"
    w = (
        W.partitionBy("pk")
        .orderBy("domain", "server_id", "sequence", "event_number")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    zero = F.lit(0).cast("decimal(18,4)")
    # the key's LIVE value after each event: its image, or 0 at a
    # delete (a plain last(image) would skip deletes and
    # double-subtract on re-insert)
    event_state = F.when(~is_delete, F.col("value").cast("decimal(18,4)")).otherwise(
        zero
    )
    prev_live = F.coalesce(F.last(event_state).over(w), zero)
    delta = F.when(
        ~is_delete, F.col("value").cast("decimal(18,4)") - prev_live
    ).otherwise(-prev_live)
    deltas = cdc.select(F.pmod("pk", F.lit(10)).cast("long").alias("bucket"), delta.alias("d"))
    incr = deltas.groupBy("bucket").agg(F.sum("d").cast("double").alias("incr_sum"))
    # independent recompute from latest state — the certification arm
    state = latest_state(cdc)
    recompute = (
        state.groupBy(F.pmod("pk", F.lit(10)).cast("long").alias("bucket"))
        .agg(F.sum(F.col("last_value").cast("decimal(18,4)")).cast("double").alias("recompute_sum"))
    )
    return (
        incr.join(recompute, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("incr_sum", F.lit(0.0)).alias("incr_sum"),
            F.coalesce("recompute_sum", F.lit(0.0)).alias("recompute_sum"),
            (
                F.coalesce("incr_sum", F.lit(0.0))
                == F.coalesce("recompute_sum", F.lit(0.0))
            ).alias("matches"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_replay_at — point-in-time state materialization ("time travel"):
# replay the stream only up to a GTID-position cutoff and apply.  This
# is the WithGTID/WithVersion resume contract (client.go:122-126) read
# backwards: any historical position's table state is reconstructible
# from the log alone.
# ---------------------------------------------------------------------------

_REPLAY_ORACLE = f"""
{CDC_SQL}
, cut AS (
  SELECT (max(sequence) * 3) // 5 AS cutoff FROM cdc
), ranked AS (
  SELECT pk, sequence, dml_type, value, ts_unix,
         row_number() OVER (PARTITION BY pk ORDER BY domain DESC, server_id DESC,
                            sequence DESC, event_number DESC) AS rn
  FROM cdc, cut
  WHERE sequence <= cutoff
)
SELECT pk, sequence AS last_seq, value AS last_value, ts_unix AS last_ts_unix
FROM ranked
WHERE rn = 1 AND dml_type <> 'delete'
"""


@register("cdc_replay_at", _REPLAY_ORACLE)
def cdc_replay_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State as of an historical stream position: filter the log to
    ``sequence <= cutoff`` (here 60% of the max position — any GTID a
    user hands in), then run the standard CDC apply.  The cutoff is a
    one-row aggregate joined in by broadcast — Catalyst turns it into a
    scalar reused by the filter, which then prunes BEFORE the per-pk
    window shuffle, so replaying at an early position costs *less* than
    full apply, exactly as a log-structured store should behave.  At
    100 TB with a sequence-partitioned log layout the cutoff filter
    becomes partition pruning and untouched log segments are never
    read."""
    cdc = cdc_view(spark, sf_dir)
    cut = cdc.agg(F.expr("div(max(sequence) * 3, 5)").alias("cutoff"))
    upto = cdc.join(F.broadcast(cut)).filter(F.col("sequence") <= F.col("cutoff"))
    return latest_state(upto.drop("cutoff"))


# ---------------------------------------------------------------------------
# cdc_hotkey_profile — per-PK change-rate profile + hot-key detection.
# The skew planner's input: a CDC apply shuffles on pk, so a key whose
# event count is far above the mean is exactly the key that needs AQE
# skew-split or salting.  Flag pks with more than 2x the mean events.
# ---------------------------------------------------------------------------

_HOTKEY_ORACLE = f"""
{CDC_SQL}
, per_pk AS (
  SELECT pk,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN dml_type = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
         CAST(sum(CASE WHEN dml_type IN ('update_before', 'update_after') THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
         CAST(sum(CASE WHEN dml_type = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
         CAST(min(sequence) AS BIGINT) AS first_seq,
         CAST(max(sequence) AS BIGINT) AS last_seq,
         CAST(max(ts_unix) - min(ts_unix) AS BIGINT) AS span_sec
  FROM cdc GROUP BY pk
), tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total_events,
         CAST(count(*) AS BIGINT) AS n_pks
  FROM per_pk
)
SELECT pk, n_events, n_insert, n_update, n_delete, first_seq, last_seq, span_sec,
       (n_events * n_pks > 2 * total_events) AS is_hot
FROM per_pk, tot
"""


@register("cdc_hotkey_profile", _HOTKEY_ORACLE)
def cdc_hotkey_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key churn profile with hot-key flag (n_events > 2x mean).

    One map-side-combinable agg on pk (longs only), then a one-row
    totals aggregate joined back by broadcast — the same scalar
    pattern as cdc_replay_at.  The hot test is the integer
    cross-multiply n_events * n_pks > 2 * total_events, bitwise-equal
    in both engines.  At 100 TB this is the profiling pass run BEFORE
    choosing the salting factor for the apply shuffle."""
    cdc = cdc_view(spark, sf_dir)
    per_pk = cdc.groupBy("pk").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum((F.col("dml_type") == "insert").cast("long"))
        .cast("long")
        .alias("n_insert"),
        F.sum(F.col("dml_type").isin("update_before", "update_after").cast("long"))
        .cast("long")
        .alias("n_update"),
        F.sum((F.col("dml_type") == "delete").cast("long"))
        .cast("long")
        .alias("n_delete"),
        F.min("sequence").cast("long").alias("first_seq"),
        F.max("sequence").cast("long").alias("last_seq"),
        (F.max("ts_unix") - F.min("ts_unix")).cast("long").alias("span_sec"),
    )
    tot = per_pk.agg(
        F.sum("n_events").cast("long").alias("total_events"),
        F.count("*").cast("long").alias("n_pks"),
    )
    return (
        per_pk.join(F.broadcast(tot))
        .select(
            "pk",
            "n_events",
            "n_insert",
            "n_update",
            "n_delete",
            "first_seq",
            "last_seq",
            "span_sec",
            (F.col("n_events") * F.col("n_pks") > 2 * F.col("total_events"))
            .alias("is_hot"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_schema_evolution — version-selected payload decode across an
# ALTER boundary (event.go:35-36, client.go:114-119 WithVersion).  The
# stream's first 60% of positions carry v1 payloads {pk, value}; an
# ALTER at the cutoff adds an `extra` column for v2.  Each segment is
# decoded with ITS version's registry StructType, unioned with
# null-fill, and summarized per version — the mergeSchema read a CDC
# consumer performs across schema generations.
# ---------------------------------------------------------------------------

_EVO_DDL_FIXTURES = [
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
        "name": "ChangeRecord", "table": "events", "database": "app",
        "version": 1, "gtid": "0-3000-1", "fields": [
          {"name": "pk", "type": ["null", "long"], "real_type": "bigint", "length": -1},
          {"name": "value", "type": ["null", "double"], "real_type": "double", "length": -1}]}""",
    """{"namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
        "name": "ChangeRecord", "table": "events", "database": "app",
        "version": 2, "gtid": "0-3000-2", "fields": [
          {"name": "pk", "type": ["null", "long"], "real_type": "bigint", "length": -1},
          {"name": "value", "type": ["null", "double"], "real_type": "double", "length": -1},
          {"name": "extra", "type": ["null", "int"], "real_type": "int", "length": -1}]}""",
]

_EVO_ORACLE = f"""
{CDC_SQL}
, cut AS (
  SELECT CAST(max(sequence) * 3 / 5 AS BIGINT) AS cutoff FROM cdc
), payload AS (
  SELECT c.sequence, c.pk,
         CASE WHEN c.sequence <= t.cutoff THEN 1 ELSE 2 END AS version,
         CAST(round(c.value * 100, 0) AS BIGINT) AS value_cents,
         CASE WHEN c.sequence <= t.cutoff THEN NULL
              ELSE CAST(c.pk % 7 AS INT) END AS extra
  FROM cdc c, cut t
)
SELECT version,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN extra IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_extra,
       CAST(sum(value_cents) AS BIGINT) AS sum_value_cents,
       CAST(sum(coalesce(extra, 0)) AS BIGINT) AS sum_extra
FROM payload GROUP BY version
"""


@register("cdc_schema_evolution", _EVO_ORACLE)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode across an ALTER: render v1/v2 JSON payloads from the
    stream, decode each segment with the StructType the registry built
    from that version's DDL event (the real polymorphic builder,
    event.go:58-137), then unionByName(allowMissingColumns) — v1 rows
    null-fill the added column exactly like a mergeSchema read.

    Scale shape: render + from_json + union are narrow per-row ops at
    scan speed; the only shuffle is the final map-side-combinable agg
    on version.  At 100 TB, schema generations live in separate spool
    ranges (version changes at a GTID), so the per-version decode is
    partition pruning, not a row-level branch."""
    v1 = decode_ddl(_EVO_DDL_FIXTURES[0]).payload_struct()
    v2 = decode_ddl(_EVO_DDL_FIXTURES[1]).payload_struct()
    cdc = cdc_view(spark, sf_dir)
    cut = cdc.agg(F.expr("div(max(sequence) * 3, 5)").alias("cutoff"))
    staged = cdc.join(F.broadcast(cut)).select(
        "sequence",
        "pk",
        F.when(F.col("sequence") <= F.col("cutoff"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("version"),
        # deterministic wire payload per version (integer cents so the
        # JSON round trip is exact)
        F.when(
            F.col("sequence") <= F.col("cutoff"),
            F.to_json(
                F.struct(
                    F.col("pk"),
                    F.round(F.col("value") * 100, 0).cast("long").alias("value"),
                )
            ),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    F.col("pk"),
                    F.round(F.col("value") * 100, 0).cast("long").alias("value"),
                    (F.col("pk") % 7).cast("int").alias("extra"),
                )
            )
        )
        .alias("raw"),
    )
    dec1 = (
        staged.filter(F.col("version") == 1)
        .select("version", F.from_json("raw", v1).alias("p"))
        .select("version", "p.pk", F.col("p.value").alias("value_cents"))
    )
    dec2 = (
        staged.filter(F.col("version") == 2)
        .select("version", F.from_json("raw", v2).alias("p"))
        .select(
            "version", "p.pk", F.col("p.value").alias("value_cents"), "p.extra"
        )
    )
    merged = dec1.unionByName(dec2, allowMissingColumns=True)
    return merged.groupBy("version").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("extra").isNull().cast("long")).cast("long").alias("n_null_extra"),
        F.sum("value_cents").cast("long").alias("sum_value_cents"),
        F.sum(F.coalesce(F.col("extra"), F.lit(0))).cast("long").alias("sum_extra"),
    )


# ---------------------------------------------------------------------------
# cdc_tombstone_gc — log compaction: a delete is a tombstone that
# obsoletes everything at or before it for that PK.  Report, per PK,
# what a Kafka-style compaction pass would retain (events strictly
# after the last delete; everything if never deleted).
# ---------------------------------------------------------------------------

_TOMBSTONE_ORACLE = f"""
{CDC_SQL}
, marked AS (
  SELECT pk, sequence, dml_type,
         max(CASE WHEN dml_type = 'delete' THEN sequence END)
           OVER (PARTITION BY pk) AS last_del
  FROM cdc
)
SELECT pk,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN last_del IS NULL OR sequence > last_del
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       CAST(sum(CASE WHEN last_del IS NOT NULL AND sequence <= last_del
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(last_del AS BIGINT) AS last_delete_seq
FROM marked
GROUP BY pk, last_del
"""


@register("cdc_tombstone_gc", _TOMBSTONE_ORACLE)
def cdc_tombstone_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning per PK: one unordered full-partition window
    (max delete position) and one agg on the SAME key — the window's
    exchange is reused, so the whole op is a single keyed shuffle, the
    cdc_latest_state shape.  Counts are longs; the retain rule is an
    integer position compare.  At 100 TB this is the metadata pass that
    decides which log segments a compaction job rewrites."""
    cdc = cdc_view(spark, sf_dir)
    w = W.partitionBy("pk")
    marked = cdc.select(
        "pk",
        "sequence",
        F.max(
            F.when(F.col("dml_type") == "delete", F.col("sequence"))
        )
        .over(w)
        .alias("last_del"),
    )
    retained = (
        F.col("last_del").isNull() | (F.col("sequence") > F.col("last_del"))
    ).cast("long")
    return marked.groupBy("pk", "last_del").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(retained).cast("long").alias("n_retained"),
        F.sum(1 - retained).cast("long").alias("n_dropped"),
    ).select(
        "pk",
        "n_total",
        "n_retained",
        "n_dropped",
        F.col("last_del").cast("long").alias("last_delete_seq"),
    )


# ---------------------------------------------------------------------------
# cdc_changelog_compact — transaction-batch net-effect compaction: the
# collapse a CDC sink applies before writing (Debezium/Flink "changelog
# normalization").  Events are grouped into fixed sequence ranges
# (batch = sequence div 200 — the commit-batch stand-in); within each
# (pk, batch) the net operation is derived from the FIRST and LAST DML:
# insert→…→delete cancels out, insert→…→update stays an insert with the
# final image, …→delete is a delete, anything else is an update with
# the final image.
# ---------------------------------------------------------------------------

_COMPACT_BATCH = 200

_COMPACT_ORACLE = f"""
{CDC_SQL}
, g AS (
  SELECT pk, sequence // {_COMPACT_BATCH} AS batch, sequence, dml_type, value, ts
  FROM cdc
), agg AS (
  SELECT pk, CAST(batch AS BIGINT) AS batch,
         CAST(count(*) AS BIGINT) AS n_ops,
         arg_min(dml_type, sequence) AS first_dml,
         arg_max(dml_type, sequence) AS last_dml,
         arg_max(value, sequence) AS last_value,
         arg_max(ts, sequence) AS last_ts
  FROM g GROUP BY pk, batch
)
SELECT pk, batch, n_ops, first_dml, last_dml,
       CASE WHEN first_dml = 'insert' AND last_dml = 'delete' THEN 'none'
            WHEN first_dml = 'insert' THEN 'insert'
            WHEN last_dml = 'delete' THEN 'delete'
            ELSE 'update' END AS net_op,
       last_value, last_ts
FROM agg
"""


@register("cdc_changelog_compact", _COMPACT_ORACLE)
def cdc_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(pk, commit-batch) net-effect compaction.

    ONE keyed aggregation: min_by/max_by over the unique sequence pick
    the first/last DML and final image map-side-combinably — no window,
    no sort, no second shuffle.  This is the operator that turns K
    changelog rows per key per batch into ≤1 sink write; at 100 TB the
    shuffle key (pk, batch) is the stream's natural partitioning and
    the reduction happens in the combiner."""
    cdc = cdc_view(spark, sf_dir)
    # Spark `div` truncates toward zero while the oracle's DuckDB `//`
    # floors; they agree ONLY because `sequence` is non-negative (it is
    # synthesized as a monotonically increasing event counter >= 0 in
    # cdc_view — see the GTID synthesis note there).  If sequence could
    # go negative, switch both sides to an explicit floor().
    g = cdc.select(
        "pk",
        F.expr(f"sequence div {_COMPACT_BATCH}").cast("long").alias("batch"),
        "sequence",
        "dml_type",
        "value",
        "ts",
    )
    agg = g.groupBy("pk", "batch").agg(
        F.count("*").cast("long").alias("n_ops"),
        F.min_by("dml_type", "sequence").alias("first_dml"),
        F.max_by("dml_type", "sequence").alias("last_dml"),
        F.max_by("value", "sequence").alias("last_value"),
        F.max_by("ts", "sequence").alias("last_ts"),
    )
    net = (
        F.when(
            (F.col("first_dml") == "insert") & (F.col("last_dml") == "delete"),
            F.lit("none"),
        )
        .when(F.col("first_dml") == "insert", F.lit("insert"))
        .when(F.col("last_dml") == "delete", F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return agg.select(
        "pk",
        "batch",
        "n_ops",
        "first_dml",
        "last_dml",
        net.alias("net_op"),
        "last_value",
        "last_ts",
    )


# ---------------------------------------------------------------------------
# cdc_safe_resume — the resume-position computation behind WithGTID
# (client.go:122-126): a consumer may only resume from a position with
# NO unprocessed event before it, or replay loses data.  Consumers are
# the 8 pk-hash partitions; "processed" is the deterministic ack rule
# sequence % 7 != 0 (so every bucket has in-flight holes).  The safe
# resume position per consumer is the greatest acked sequence below
# that consumer's first unacked event.
# ---------------------------------------------------------------------------

_RESUME_BUCKETS = 8

_SAFE_RESUME_ORACLE = f"""
{CDC_SQL}
, marked AS (
  SELECT pk % {_RESUME_BUCKETS} AS bucket, sequence,
         (sequence % 7 <> 0) AS acked
  FROM cdc
), firsts AS (
  SELECT bucket,
         min(CASE WHEN NOT acked THEN sequence END) AS first_unacked
  FROM marked GROUP BY bucket
)
SELECT m.bucket,
       CAST(f.first_unacked AS BIGINT) AS first_unacked,
       CAST(max(CASE WHEN m.acked AND (f.first_unacked IS NULL OR m.sequence < f.first_unacked)
                     THEN m.sequence END) AS BIGINT) AS safe_resume_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN m.acked THEN 1 ELSE 0 END) AS BIGINT) AS n_acked
FROM marked m JOIN firsts f ON m.bucket = f.bucket
GROUP BY m.bucket, f.first_unacked
"""


@register("cdc_safe_resume", _SAFE_RESUME_ORACLE)
def cdc_safe_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greatest-safe-GTID per consumer partition.

    Two aggregations on the SAME bucket key (first-unacked, then the
    guarded max below it) with an 8-row broadcast join between them —
    the second agg reuses the first's partitioning.  This is the
    checkpoint a sharded CDC consumer persists: resuming at
    safe_resume_seq + 1 replays every unacked event exactly once
    (client.go:122-126 WithGTID semantics).  All longs; no windows, no
    sorts — at 100 TB the shuffle carries (bucket, sequence) pairs and
    combines map-side."""
    cdc = cdc_view(spark, sf_dir)
    marked = cdc.select(
        (F.col("pk") % _RESUME_BUCKETS).alias("bucket"),
        "sequence",
        (F.col("sequence") % 7 != 0).alias("acked"),
    )
    firsts = marked.groupBy("bucket").agg(
        F.min(F.when(~F.col("acked"), F.col("sequence"))).alias("first_unacked")
    )
    joined = marked.join(F.broadcast(firsts), "bucket")
    safe = F.max(
        F.when(
            F.col("acked")
            & (F.col("first_unacked").isNull() | (F.col("sequence") < F.col("first_unacked"))),
            F.col("sequence"),
        )
    )
    return joined.groupBy("bucket", "first_unacked").agg(
        safe.cast("long").alias("safe_resume_seq"),
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("acked").cast("long")).cast("long").alias("n_acked"),
    ).select(
        "bucket",
        F.col("first_unacked").cast("long").alias("first_unacked"),
        "safe_resume_seq",
        "n_events",
        "n_acked",
    )


# ---------------------------------------------------------------------------
# cdc_reconciliation — state-vs-snapshot audit: FULL OUTER join the
# stream-materialized latest state against the dimension snapshot
# (customer) and classify every pk: in_sync / drift (both sides present,
# different image) / missing_in_snapshot (stream-only — the snapshot is
# stale) / missing_in_state (snapshot-only — events lost or filtered).
# This is the repair report a CDC consumer runs before trusting its
# materialization; counts per class + the pk range bound the repair job.
# ---------------------------------------------------------------------------

_RECON_ORACLE = f"""
{CDC_SQL}
, ranked AS (
  SELECT pk, sequence, dml_type, value,
         row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
  FROM cdc
), state AS (
  SELECT pk, value FROM ranked WHERE rn = 1 AND dml_type <> 'delete'
), joined AS (
  SELECT COALESCE(s.pk, c.c_custkey) AS pk,
         CASE WHEN s.pk IS NULL THEN 'missing_in_state'
              WHEN c.c_custkey IS NULL THEN 'missing_in_snapshot'
              WHEN CAST(s.value AS DECIMAL(18,4)) = CAST(c.c_acctbal AS DECIMAL(18,4))
                THEN 'in_sync'
              ELSE 'drift' END AS status
  FROM state s FULL OUTER JOIN customer c ON s.pk = c.c_custkey
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(min(pk) AS BIGINT) AS min_pk,
       CAST(max(pk) AS BIGINT) AS max_pk
FROM joined
GROUP BY status
"""


@register("cdc_reconciliation", _RECON_ORACLE)
def cdc_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialization audit report: per status class, key count + pk
    range.

    One keyed window builds the state (the cdc_latest_state shuffle),
    one pk-keyed FULL OUTER join against the snapshot, one tiny agg —
    at 100 TB both join sides are bucketed on pk so the join is
    co-located, and the report is O(classes).  The DECIMAL(18,4)
    value compare uses the repo's decimal discipline: equality over
    exact decimals, never raw-double equality."""
    cdc = cdc_view(spark, sf_dir)
    state = (
        first_per(cdc, "pk", F.col("sequence").desc())
        .filter(F.col("dml_type") != "delete")
        .select("pk", "value")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    joined = state.join(cust, state.pk == cust.c_custkey, "full_outer")
    status = (
        F.when(F.col("pk").isNull(), F.lit("missing_in_state"))
        .when(F.col("c_custkey").isNull(), F.lit("missing_in_snapshot"))
        .when(
            F.col("value").cast("decimal(18,4)")
            == F.col("c_acctbal").cast("decimal(18,4)"),
            F.lit("in_sync"),
        )
        .otherwise(F.lit("drift"))
    )
    rows = joined.select(
        F.coalesce(F.col("pk"), F.col("c_custkey")).alias("pk"),
        status.alias("status"),
    )
    return rows.groupBy("status").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.min("pk").cast("long").alias("min_pk"),
        F.max("pk").cast("long").alias("max_pk"),
    )


# ---------------------------------------------------------------------------
# cdc_burst_detect — change-rate anomaly detection on the stream: hours
# whose event volume exceeds 2× the mean hourly rate.  The ops-side
# monitor a CDC consumer runs continuously (a burst usually means a
# bulk backfill or a runaway writer upstream — either way the consumer
# wants to know before its lag SLO does).
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH hourly AS (
  -- NB: integer // on BIGINT floors; DOUBLE // would ROUND (measured:
  -- floor(epoch) // 3600 mis-bucketed 526/1000 rows) — cast FIRST.
  SELECT CAST(floor(extract(epoch FROM ts)) AS BIGINT) // 3600 AS hour_bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
  FROM events
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM hourly
)
SELECT h.hour_bucket, h.n_events, h.n_keys,
       CAST(h.n_events * t.n_hours AS DOUBLE) / t.total AS rate_ratio,
       (h.n_events * t.n_hours > 2 * t.total) AS burst
FROM hourly h CROSS JOIN tot t
"""


@register("cdc_burst_detect", _BURST_ORACLE)
def cdc_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly change-rate profile with burst flags: an hour is a burst
    when its event count exceeds 2× the mean hourly rate.

    ONE keyed aggregation (hour bucket — the stream's natural time
    partitioning, map-side combinable) and a 1-row scalar broadcast for
    the corpus totals.  The burst predicate is the integer
    cross-multiply ``n·H > 2·T`` — no division before the comparison,
    so the flag cannot diverge on rounding; `rate_ratio` itself is an
    integer-ratio double (exactness rule 3).  At 100 TB the hourly
    table is |hours| rows — trivially collectable by a monitor, and the
    same plan incrementalizes per micro-batch (add to the hour's
    count)."""
    ev = table(spark, sf_dir, "events")
    # distinct keys per hour ride the same shuffle key as the count
    hourly = (
        ev.select(
            F.expr("unix_timestamp(ts) div 3600").alias("hour_bucket"), "user_id"
        )
        .groupBy("hour_bucket")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_keys"),
        )
    )
    tot = hourly.agg(
        F.sum("n_events").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_hours"),
    )
    j = hourly.crossJoin(F.broadcast(tot))
    return j.select(
        "hour_bucket",
        "n_events",
        "n_keys",
        (
            (F.col("n_events") * F.col("n_hours")).cast("double") / F.col("total")
        ).alias("rate_ratio"),
        (F.col("n_events") * F.col("n_hours") > 2 * F.col("total")).alias("burst"),
    )


# ---------------------------------------------------------------------------
# cdc_ddl_timeline — schema-version lifetime audit: when did each
# schema version become active, how long did it live, and how many DML
# events were decoded under it.  The registry-operations view every
# CDC consumer wants when an ALTER storm hits (event.go:35-36 version
# increments; a DDL is synthesized at every sequence % 1000 == 0 — the
# cdc_event_dispatch wire model at a sparser, ALTER-realistic cadence,
# which also keeps the broadcast span table version-count-sized).
# ---------------------------------------------------------------------------

_DDL_TL_ORACLE = f"""
{CDC_SQL}
, ddl AS (
  SELECT CAST(sequence // 1000 AS BIGINT) AS version,
         sequence AS active_from
  FROM cdc WHERE sequence % 1000 = 0
), spans AS (
  SELECT version, active_from,
         lead(active_from) OVER (ORDER BY active_from) AS next_from
  FROM ddl
), counted AS (
  SELECT s.version, s.active_from, s.next_from,
         CAST(count(c.sequence) AS BIGINT) AS n_dml
  FROM spans s LEFT JOIN cdc c
    ON c.sequence > s.active_from
   AND (s.next_from IS NULL OR c.sequence < s.next_from)
   AND c.sequence % 1000 <> 0
  GROUP BY s.version, s.active_from, s.next_from
)
SELECT version, active_from,
       CAST(coalesce(next_from - active_from, -1) AS BIGINT) AS span_seqs,
       n_dml
FROM counted
"""


@register("cdc_ddl_timeline", _DDL_TL_ORACLE)
def cdc_ddl_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-schema-version activity spans: active-from sequence, span
    length in sequence units (−1 = still open), and the DML count
    decoded under the version.

    The DDL set is tiny by nature (one row per ALTER — the same
    bounded-cardinality argument as the schema registry's DDL
    collect), so the span table BROADCASTS and the per-version DML
    count becomes one map-side range-tagging pass over the stream +
    one keyed aggregation.  Versions are range-keyed, not equi-keyed —
    the broadcast range join is the partition-pruning shape a
    registry lookup compiles to at 100 TB.  All exports are integer
    sequence arithmetic — exact by construction."""
    cdc = cdc_view(spark, sf_dir)
    ddl = (
        cdc.filter(F.col("sequence") % 1000 == 0)
        .select(
            F.expr("sequence div 1000").cast("long").alias("version"),
            F.col("sequence").alias("active_from"),
        )
    )
    spans = ddl.withColumn(
        "next_from", F.lead("active_from").over(W.orderBy("active_from"))
    )
    dml = cdc.filter(F.col("sequence") % 1000 != 0).select("sequence")
    tagged = dml.join(
        F.broadcast(spans),
        (F.col("sequence") > F.col("active_from"))
        & (F.col("next_from").isNull() | (F.col("sequence") < F.col("next_from"))),
        "right",
    )
    return (
        tagged.groupBy("version", "active_from", "next_from")
        .agg(F.count("sequence").cast("long").alias("n_dml"))
        .select(
            "version",
            "active_from",
            F.coalesce(
                F.col("next_from") - F.col("active_from"), F.lit(-1)
            )
            .cast("long")
            .alias("span_seqs"),
            "n_dml",
        )
    )


# ---------------------------------------------------------------------------
# cdc_event_size_profile — wire-payload size distribution per event
# class, with a cap audit.  The reference enforces a hard 1 MiB line
# cap (maxScanTokenSize, client.go:17, applied at client.go:256-257 —
# an oversize line kills the stream); the ops question is "how close
# does the stream run to the cap".  Wire lines are the dispatch
# model's byte-identical synthesis plus the embedded payload; the cap
# is scaled to the synthetic line sizes so the audit path is
# non-trivially exercised.
# ---------------------------------------------------------------------------

_SIZE_CAP = 80  # synthetic-scale stand-in for client.go:17's 1 MiB

_SIZE_PROFILE_ORACLE = f"""
{CDC_SQL}
, lines AS (
  SELECT CASE WHEN sequence % 50 = 0 THEN 'ddl'
              WHEN sequence % 97 = 13 THEN 'err'
              ELSE 'dml' END AS event_class,
         CAST(CASE
           WHEN sequence % 50 = 0 THEN length(
             '{{"namespace": "MaxScaleChangeDataSchema.avro", "version": '
             || CAST(sequence // 50 AS VARCHAR) || '}}')
           WHEN sequence % 97 = 13 THEN length(
             'ERR stream error at ' || CAST(sequence AS VARCHAR))
           ELSE length(
             '{{"domain": 0, "server_id": 3000, "sequence": '
             || CAST(sequence AS VARCHAR) || '}}') + length(props)
         END AS BIGINT) AS wire_len,
         sequence
  FROM cdc
), ranked AS (
  SELECT event_class, wire_len, sequence,
         row_number() OVER (PARTITION BY event_class
                            ORDER BY wire_len, sequence) AS rn,
         count(*) OVER (PARTITION BY event_class) AS n
  FROM lines
)
SELECT event_class,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(min(wire_len) AS BIGINT) AS min_len,
       CAST(max(wire_len) AS BIGINT) AS max_len,
       CAST(sum(wire_len) AS BIGINT) AS total_bytes,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN wire_len END) AS BIGINT)
         AS p50_len,
       CAST(max(CASE WHEN rn = (95 * n + 99) // 100 THEN wire_len END) AS BIGINT)
         AS p95_len,
       CAST(sum(CASE WHEN wire_len > {_SIZE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_cap
FROM ranked
GROUP BY event_class
"""


@register("cdc_event_size_profile", _SIZE_PROFILE_ORACLE)
def cdc_event_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-line size distribution per event class: min/max/total,
    EXACT discrete p50/p95 (row_number selection — both engines pick
    the identical element, no interpolation to diverge), and the count
    of lines over the size cap (client.go:17's guard, scaled).

    One class-keyed window sort + one class-keyed aggregation — the
    window partitions on the 3-value class key, which at 100 TB would
    instead bucket by (class, size-range) first (rel_percentile_bands'
    trick) to avoid the giant per-class sort; the discrete-selection
    formulation itself is the part that transfers.  All exports are
    integer byte counts — exact."""
    cdc = cdc_view(spark, sf_dir)
    seq_str = F.col("sequence").cast("string")
    cls = (
        F.when(F.col("sequence") % 50 == 0, F.lit("ddl"))
        .when(F.col("sequence") % 97 == 13, F.lit("err"))
        .otherwise(F.lit("dml"))
    )
    wire_len = (
        F.when(
            F.col("sequence") % 50 == 0,
            F.length(
                F.concat(
                    F.lit('{"namespace": "MaxScaleChangeDataSchema.avro", "version": '),
                    F.expr("sequence div 50").cast("string"),
                    F.lit("}"),
                )
            ),
        )
        .when(
            F.col("sequence") % 97 == 13,
            F.length(F.concat(F.lit("ERR stream error at "), seq_str)),
        )
        .otherwise(
            F.length(
                F.concat(
                    F.lit('{"domain": 0, "server_id": 3000, "sequence": '),
                    seq_str,
                    F.lit("}"),
                )
            )
            + F.length("props")
        )
        .cast("long")
    )
    lines = cdc.select(cls.alias("event_class"), wire_len.alias("wire_len"), "sequence")
    wspec = W.partitionBy("event_class").orderBy("wire_len", "sequence")
    ranked = lines.select(
        "event_class",
        "wire_len",
        F.row_number().over(wspec).alias("rn"),
        F.count("*").over(W.partitionBy("event_class")).alias("n"),
    )
    p50_pos = F.expr("(n + 1) div 2")
    p95_pos = F.expr("(95 * n + 99) div 100")
    return ranked.groupBy("event_class").agg(
        F.max("n").cast("long").alias("n_events"),
        F.min("wire_len").cast("long").alias("min_len"),
        F.max("wire_len").cast("long").alias("max_len"),
        F.sum("wire_len").cast("long").alias("total_bytes"),
        F.max(F.when(F.col("rn") == p50_pos, F.col("wire_len")))
        .cast("long")
        .alias("p50_len"),
        F.max(F.when(F.col("rn") == p95_pos, F.col("wire_len")))
        .cast("long")
        .alias("p95_len"),
        F.sum((F.col("wire_len") > _SIZE_CAP).cast("long"))
        .cast("long")
        .alias("n_over_cap"),
    )


# ---------------------------------------------------------------------------
# cdc_consumer_partition_balance — fleet-sizing audit: how evenly does
# pk-hash partitioning spread the change stream across N consumers?
# The question asked before picking the consumer count for the apply
# shuffle (an imbalanced assignment turns one consumer into the lag
# bottleneck; cdc_hotkey_profile is the per-KEY view, this is the
# per-PARTITION one).
# ---------------------------------------------------------------------------

_N_CONSUMERS = 16

_BALANCE_ORACLE = f"""
{CDC_SQL}
, assign AS (
  SELECT CAST(pk % {_N_CONSUMERS} AS BIGINT) AS consumer,
         pk
  FROM cdc
), per AS (
  SELECT consumer,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT pk) AS BIGINT) AS n_keys
  FROM assign GROUP BY consumer
), tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total FROM per
)
SELECT p.consumer, p.n_events, p.n_keys,
       CAST(p.n_events * {_N_CONSUMERS} AS DOUBLE) / t.total AS load_ratio,
       (p.n_events * {_N_CONSUMERS} * 10 > 12 * t.total) AS overloaded
FROM per p CROSS JOIN tot t
"""


@register("cdc_consumer_partition_balance", _BALANCE_ORACLE)
def cdc_consumer_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-consumer load under pk % 16 assignment: event and key
    counts, load vs the uniform share (integer-ratio double), and an
    overload flag at >1.2× uniform — expressed as the integer
    cross-multiply ``n·C·10 > 12·T`` so the boolean cannot diverge on
    rounding.  Deterministic modulo assignment (not hash) so both
    engines agree bitwise; a production fleet uses the same audit over
    its actual partitioner.

    ONE consumer-keyed aggregation (16 groups, map-side combinable) +
    a 1-row totals broadcast — O(consumers) output at any stream
    size."""
    cdc = cdc_view(spark, sf_dir)
    per = (
        cdc.select((F.col("pk") % _N_CONSUMERS).cast("long").alias("consumer"), "pk")
        .groupBy("consumer")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("pk").cast("long").alias("n_keys"),
        )
    )
    tot = per.agg(F.sum("n_events").cast("long").alias("total"))
    j = per.crossJoin(F.broadcast(tot))
    return j.select(
        "consumer",
        "n_events",
        "n_keys",
        (
            (F.col("n_events") * _N_CONSUMERS).cast("double") / F.col("total")
        ).alias("load_ratio"),
        (F.col("n_events") * _N_CONSUMERS * 10 > 12 * F.col("total")).alias(
            "overloaded"
        ),
    )


# ---------------------------------------------------------------------------
# cdc_consumer_lag — end-to-end consumer latency audit (the r5
# verdict's #5 ask): per consumer partition, the GTID distance and the
# event-time delta between the stream head and the consumer's durable
# (safe-resume) position.  Pairs with cdc_safe_resume (the position
# itself) and cdc_consumer_partition_balance (the load side): together
# they are the ops dashboard a consumer fleet runs.
#
# Same deterministic models as its two companions: consumer = pk % 16,
# acked = sequence % 7 != 0.  The safe position is the max acked
# sequence below the first unacked one (contiguous prefix — resuming at
# safe+1 replays every unacked event exactly once, client.go:122-126);
# the pending count equals the events at/after first_unacked (nothing
# exists between safe and first_unacked by construction).
#
# Scale shape: TWO aggregations on the same consumer key (16 groups,
# map-side combinable) with an O(consumers)-row broadcast between them
# — identical to cdc_safe_resume's audited shape.  Event-time lookups
# at head/safe use max_by (no join-back, no window).  All exports are
# integers; NULL-propagating subtraction is identical in both engines.
# ---------------------------------------------------------------------------

_CONSUMER_LAG_ORACLE = f"""
{CDC_SQL}
, marked AS (
  SELECT pk % {'{n}'} AS consumer, sequence, ts_unix,
         sequence % 7 != 0 AS acked
  FROM cdc
), firsts AS (
  SELECT consumer, min(CASE WHEN NOT acked THEN sequence END) AS first_unacked
  FROM marked GROUP BY consumer
), j AS (
  SELECT m.*, f.first_unacked,
         m.acked AND (f.first_unacked IS NULL OR m.sequence < f.first_unacked)
           AS eligible
  FROM marked m JOIN firsts f USING (consumer)
)
SELECT CAST(consumer AS BIGINT) AS consumer,
       CAST(max(sequence) AS BIGINT) AS head_seq,
       CAST(max_by(ts_unix, sequence) AS BIGINT) AS head_ts,
       CAST(max(CASE WHEN eligible THEN sequence END) AS BIGINT) AS safe_seq,
       CAST(max_by(ts_unix, sequence) FILTER (WHERE eligible) AS BIGINT)
         AS safe_ts,
       CAST(max(sequence) - max(CASE WHEN eligible THEN sequence END)
            AS BIGINT) AS lag_seq,
       CAST(max_by(ts_unix, sequence)
            - max_by(ts_unix, sequence) FILTER (WHERE eligible)
            AS BIGINT) AS lag_seconds,
       CAST(sum(CASE WHEN first_unacked IS NOT NULL
                      AND sequence >= first_unacked THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pending
FROM j
GROUP BY consumer
""".replace("{n}", str(_N_CONSUMERS))


@register("cdc_consumer_lag", _CONSUMER_LAG_ORACLE)
def cdc_consumer_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-consumer lag: GTID distance (head_seq - safe_seq), event-time
    delta (head_ts - safe_ts, seconds), and the pending replay count —
    the end-to-end latency panel for a sharded CDC consumer fleet.

    max_by(ts_unix, sequence) resolves the event time AT a position
    without a join-back or window (sequence is unique, so max_by is
    deterministic in both engines)."""
    cdc = cdc_view(spark, sf_dir)
    marked = cdc.select(
        (F.col("pk") % _N_CONSUMERS).alias("consumer"),
        "sequence",
        "ts_unix",
        (F.col("sequence") % 7 != 0).alias("acked"),
    )
    firsts = marked.groupBy("consumer").agg(
        F.min(F.when(~F.col("acked"), F.col("sequence"))).alias("first_unacked")
    )
    j = marked.join(F.broadcast(firsts), "consumer").withColumn(
        "eligible",
        F.col("acked")
        & (
            F.col("first_unacked").isNull()
            | (F.col("sequence") < F.col("first_unacked"))
        ),
    )
    agg = j.groupBy(F.col("consumer").cast("long").alias("consumer")).agg(
        F.max("sequence").cast("long").alias("head_seq"),
        F.expr("max_by(ts_unix, sequence)").cast("long").alias("head_ts"),
        F.max(F.when(F.col("eligible"), F.col("sequence")))
        .cast("long")
        .alias("safe_seq"),
        F.expr("max_by(ts_unix, sequence) FILTER (WHERE eligible)")
        .cast("long")
        .alias("safe_ts"),
        F.sum(
            F.when(
                F.col("first_unacked").isNotNull()
                & (F.col("sequence") >= F.col("first_unacked")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_pending"),
    )
    return agg.select(
        "consumer",
        "head_seq",
        "head_ts",
        "safe_seq",
        "safe_ts",
        (F.col("head_seq") - F.col("safe_seq")).cast("long").alias("lag_seq"),
        (F.col("head_ts") - F.col("safe_ts")).cast("long").alias("lag_seconds"),
        "n_pending",
    )


# ---------------------------------------------------------------------------
# cdc_out_of_order_audit — event-time disorder under GTID order: how
# late does event time arrive relative to the stream's total order?
# For each pk in sequence order, an event is LATE if its timestamp is
# behind the running maximum of its predecessors; its lateness is the
# gap in seconds.  max(lateness) per partition is exactly the minimum
# watermark horizon that loses no events — the number every
# `withWatermark` in streaming/ops.py needs as an input, measured
# instead of guessed.  Pairs with cdc_consumer_lag (GTID-vs-time lag
# at the head) by profiling the disorder INSIDE the stream.
#
# Scale shape: one pk-keyed window (running max over sequence order —
# the CDC key partitioning every other operator shares) + one
# 16-group aggregate.  All integer seconds.
# ---------------------------------------------------------------------------

_OOO_ORACLE = f"""
{CDC_SQL}
, w AS (
  SELECT pk % {{n}} AS bucket, ts_unix,
         max(ts_unix) OVER (
           PARTITION BY pk ORDER BY sequence
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS run_max
  FROM cdc
), marked AS (
  SELECT bucket,
         CASE WHEN run_max IS NOT NULL AND ts_unix < run_max
              THEN run_max - ts_unix ELSE 0 END AS lateness,
         CASE WHEN run_max IS NOT NULL AND ts_unix < run_max
              THEN 1 ELSE 0 END AS is_late
  FROM w
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(is_late) AS BIGINT) AS n_late,
       CAST(max(lateness) AS BIGINT) AS max_lateness_s,
       CAST(sum(lateness) AS BIGINT) AS sum_lateness_s
FROM marked
GROUP BY bucket
""".replace("{n}", str(_N_CONSUMERS))


@register("cdc_out_of_order_audit", _OOO_ORACLE)
def cdc_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition event-time disorder profile: late-event counts and
    lateness bounds under the GTID total order — the measured input to
    watermark-horizon sizing (max_lateness_s IS the loss-free
    horizon)."""
    cdc = cdc_view(spark, sf_dir)
    run_max = F.max("ts_unix").over(
        W.partitionBy("pk")
        .orderBy("sequence")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w = cdc.select(
        (F.col("pk") % _N_CONSUMERS).alias("bucket"),
        "ts_unix",
        run_max.alias("run_max"),
    )
    late = F.col("run_max").isNotNull() & (F.col("ts_unix") < F.col("run_max"))
    marked = w.select(
        "bucket",
        F.when(late, F.col("run_max") - F.col("ts_unix")).otherwise(0).alias(
            "lateness"
        ),
        F.when(late, 1).otherwise(0).alias("is_late"),
    )
    return marked.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("is_late").cast("long").alias("n_late"),
        F.max("lateness").cast("long").alias("max_lateness_s"),
        F.sum("lateness").cast("long").alias("sum_lateness_s"),
    )


# ---------------------------------------------------------------------------
# cdc_lww_conflicts — last-writer-wins conflict audit across replication
# domains: when the same pk is written from two origins, the GTID total
# order (the reference's sequence, event.go:189-200) and the wall-clock
# order (ts_unix, origin priority as tiebreak) can disagree — LWW
# picks a DIFFERENT winner.  Origin is derived deterministically
# (origin = sequence % 2, the dual-writer model); the audit counts,
# per consumer bucket, the pks where GTID-winner ≠ LWW-winner and
# exports both winners' sequences for the disputed keys' worst case.
# This is the divergence report a multi-region CDC merge publishes
# before choosing its conflict policy.
#
# Scale shape: per-pk winner selection is max_by under each order —
# ONE pk-keyed aggregation computing both winners simultaneously
# (no windows, no join between two ranked copies), then a 16-group
# rollup.  LWW tie-break (ts_unix, origin, sequence) is total in both
# engines.
# ---------------------------------------------------------------------------

_LWW_ORACLE = f"""
{CDC_SQL}
, t AS (
  SELECT pk, sequence,
         -- LWW order (ts_unix, origin, sequence) packed into ONE
         -- BIGINT so max_by takes a scalar key in both engines:
         -- (ts*2+origin) << 31 | sequence; bounds: ts < 2^31,
         -- sequence < 2^31 (holds at every sf incl. the 10x stress
         -- set), total < 2^63.
         (ts_unix * 2 + sequence % 2) * 2147483648 + sequence AS lww_key
  FROM cdc
), per_pk AS (
  SELECT pk,
         CAST(max(sequence) AS BIGINT) AS gtid_winner,
         CAST(max_by(sequence, lww_key) AS BIGINT) AS lww_winner
  FROM t GROUP BY pk
), marked AS (
  SELECT pk % {{n}} AS bucket,
         CASE WHEN gtid_winner <> lww_winner THEN 1 ELSE 0 END AS conflict,
         CASE WHEN gtid_winner <> lww_winner
              THEN gtid_winner - lww_winner END AS seq_gap
  FROM per_pk
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(conflict) AS BIGINT) AS n_conflicts,
       CAST(max(seq_gap) AS BIGINT) AS max_seq_gap,
       CAST(min(seq_gap) AS BIGINT) AS min_seq_gap
FROM marked
GROUP BY bucket
""".replace("{n}", str(_N_CONSUMERS))


@register("cdc_lww_conflicts", _LWW_ORACLE)
def cdc_lww_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket count of pks whose GTID-order winner differs from the
    last-writer-wins (event-time, origin-priority) winner, with the
    signed sequence gap extremes over disputed keys.  One pk-keyed
    aggregation computes both winners (max + max_by over the packed
    scalar LWW key)."""
    cdc = cdc_view(spark, sf_dir)
    t = cdc.select(
        "pk",
        "sequence",
        (
            (F.col("ts_unix") * 2 + F.col("sequence") % 2) * F.lit(2147483648)
            + F.col("sequence")
        ).alias("lww_key"),
    )
    per_pk = t.groupBy("pk").agg(
        F.max("sequence").cast("long").alias("gtid_winner"),
        F.expr("max_by(sequence, lww_key)").cast("long").alias("lww_winner"),
    )
    conflict = F.col("gtid_winner") != F.col("lww_winner")
    marked = per_pk.select(
        (F.col("pk") % _N_CONSUMERS).cast("long").alias("bucket"),
        F.when(conflict, 1).otherwise(0).alias("conflict"),
        F.when(conflict, F.col("gtid_winner") - F.col("lww_winner")).alias(
            "seq_gap"
        ),
    )
    return marked.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("conflict").cast("long").alias("n_conflicts"),
        F.max("seq_gap").cast("long").alias("max_seq_gap"),
        F.min("seq_gap").cast("long").alias("min_seq_gap"),
    )


# ---------------------------------------------------------------------------
# cdc_scd2_lookup — point-in-time enrichment against the SCD2 history:
# for every DELETE event, recover the image that was in effect at its
# stream position (the state the delete removed).  Versions live in
# SEQUENCE space — [sequence, next image sequence) — because the GTID
# order is the stream's truth (event-time can be disordered;
# cdc_out_of_order_audit measures exactly how much), so the lookup is
# the union+window as-of pattern on the pk partitioning: images and
# probes interleave under one per-pk sequence sort, last(image
# IGNORE NULLS) carries the in-effect version onto each probe.  One
# keyed shuffle; never a range self-join against the history table.
# ---------------------------------------------------------------------------

_SCD2_LOOKUP_ORACLE = f"""
{CDC_SQL}
, tagged AS (
  SELECT pk, sequence,
         CASE WHEN dml_type IN ('insert', 'update_after') THEN sequence END
           AS img_seq,
         CASE WHEN dml_type IN ('insert', 'update_after') THEN value END
           AS img_value,
         CASE WHEN dml_type = 'delete' THEN 1 ELSE 0 END AS is_probe
  FROM cdc
  WHERE dml_type IN ('insert', 'update_after', 'delete')
), carried AS (
  SELECT pk, sequence, is_probe,
         last_value(img_seq IGNORE NULLS) OVER (
           PARTITION BY pk ORDER BY sequence
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_seq,
         last_value(img_value IGNORE NULLS) OVER (
           PARTITION BY pk ORDER BY sequence
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_value
  FROM tagged
)
SELECT CAST(pk % {{n}} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_deletes,
       CAST(sum(CASE WHEN state_seq IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_state,
       CAST(sum(CASE WHEN state_seq IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphan,
       CAST(sum(CASE WHEN state_seq IS NOT NULL
                     THEN CAST(round(state_value * 100, 0) AS BIGINT) END)
            AS BIGINT) AS sum_removed_value_cents,
       CAST(max(state_seq) AS BIGINT) AS max_state_seq
FROM carried
WHERE is_probe = 1
GROUP BY pk % {{n}}
""".replace("{n}", str(_N_CONSUMERS))


@register("cdc_scd2_lookup", _SCD2_LOOKUP_ORACLE)
def cdc_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What did each delete remove?  As-of lookup of the SCD2 image in
    effect at every delete's stream position via the union+window
    pattern (one pk-keyed sort; history and probes share the
    partitioning), rolled up per consumer bucket — orphan deletes
    (no prior image) counted separately."""
    cdc = cdc_view(spark, sf_dir)
    is_img = F.col("dml_type").isin("insert", "update_after")
    tagged = cdc.filter(
        F.col("dml_type").isin("insert", "update_after", "delete")
    ).select(
        "pk",
        "sequence",
        F.when(is_img, F.col("sequence")).alias("img_seq"),
        F.when(is_img, F.col("value")).alias("img_value"),
        (F.col("dml_type") == "delete").cast("int").alias("is_probe"),
    )
    win = (
        W.partitionBy("pk")
        .orderBy("sequence")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.select(
        "pk",
        "is_probe",
        F.last("img_seq", ignorenulls=True).over(win).alias("state_seq"),
        F.last("img_value", ignorenulls=True).over(win).alias("state_value"),
    )
    probes = carried.filter(F.col("is_probe") == 1)
    return probes.groupBy((F.col("pk") % _N_CONSUMERS).cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_deletes"),
        F.sum(F.when(F.col("state_seq").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_state"),
        F.sum(F.when(F.col("state_seq").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphan"),
        F.sum(
            F.when(
                F.col("state_seq").isNotNull(),
                F.round(F.col("state_value") * 100, 0).cast("long"),
            )
        )
        .cast("long")
        .alias("sum_removed_value_cents"),
        F.max("state_seq").cast("long").alias("max_state_seq"),
    )


# ---------------------------------------------------------------------------
# cdc_rebalance_plan — consumer rebalance proposal: when
# cdc_consumer_partition_balance flags overload, the fleet needs a NEW
# key→consumer assignment.  Deterministic greedy-by-rank plan: rank
# the pk-buckets by load descending and deal them round-robin across
# consumers in serpentine order (rank 0..C-1 forward, C..2C-1
# backward, ...) — the standard balanced-deal that provably bounds
# consumer skew by one bucket's load, expressible as pure integer
# arithmetic on the rank (no iterative bin packing, which cannot be
# declared).  Export: per NEW consumer, its bucket count and total
# load, plus the old->new movement count.
#
# Scale: one bucket-load aggregate (|buckets| rows — here 64), a
# TakeOrdered-style rank over that SMALL table, integer assignment,
# one final 16-group rollup.
# ---------------------------------------------------------------------------

_REB_BUCKETS = 64  # fine-grained load units; reassigned to _N_CONSUMERS


_REBALANCE_ORACLE = f"""
{CDC_SQL}
, load AS (
  SELECT pk % {_REB_BUCKETS} AS bucket, CAST(count(*) AS BIGINT) AS n
  FROM cdc GROUP BY pk % {_REB_BUCKETS}
), ranked AS (
  SELECT bucket, n,
         row_number() OVER (ORDER BY n DESC, bucket) - 1 AS rk
  FROM load
), assigned AS (
  SELECT bucket, n, rk,
         CAST(CASE WHEN (rk // {{c}}) % 2 = 0
              THEN rk % {{c}}
              ELSE {{c}} - 1 - (rk % {{c}}) END AS BIGINT) AS new_consumer,
         CAST(bucket % {{c}} AS BIGINT) AS old_consumer
  FROM ranked
)
SELECT new_consumer,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n) AS BIGINT) AS assigned_load,
       CAST(sum(CASE WHEN new_consumer <> old_consumer THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM assigned
GROUP BY new_consumer
""".replace("{c}", str(_N_CONSUMERS))


@register("cdc_rebalance_plan", _REBALANCE_ORACLE)
def cdc_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine greedy rebalance of 64 load buckets onto 16
    consumers: per new consumer, bucket count, assigned load, and how
    many buckets move from the pk%16 status quo."""
    cdc = cdc_view(spark, sf_dir)
    load = cdc.groupBy((F.col("pk") % _REB_BUCKETS).alias("bucket")).agg(
        F.count("*").cast("long").alias("n")
    )
    # |buckets| = 64 rows: the rank window is over the aggregate, never
    # the stream
    ranked = load.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "bucket")) - 1
    )
    c = _N_CONSUMERS
    serp = F.when(
        F.expr(f"div(rk, {c})") % 2 == 0, F.col("rk") % c
    ).otherwise(c - 1 - (F.col("rk") % c))
    assigned = ranked.select(
        "bucket",
        "n",
        serp.cast("long").alias("new_consumer"),
        (F.col("bucket") % c).cast("long").alias("old_consumer"),
    )
    return assigned.groupBy("new_consumer").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("assigned_load"),
        F.sum(
            F.when(F.col("new_consumer") != F.col("old_consumer"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_moved"),
    )


# ---------------------------------------------------------------------------
# cdc_rebalance_apply — EXECUTE the serpentine plan (closing the
# plan→apply pattern for the rebalance family, as token_budget /
# modality_budget / replay / rep_policy already have): the move list
# (bucket → new consumer, only where the plan differs from the pk%16
# status quo) is applied to the ASSIGNMENT TABLE with one broadcast
# left join — untouched buckets keep their old consumer — and the
# post-move state is rolled up per consumer.  The oracle RECOMPUTES
# the applied assignment from scratch (same serpentine CTEs + the
# apply join), so the driver hash certifies apply ≡ plan end-state
# bit-for-bit; tests/test_round12_props cross-pins the apply rollup
# against cdc_rebalance_plan's registered output row-by-row.
#
# The exported skew audit is the serpentine deal's guarantee made
# checkable: max(consumer load) − min(consumer load) ≤ max(single
# bucket load).  Both engines compute it from their own rollup (two
# scalar aggregates broadcast onto 16 rows).
#
# Scale: the assignment table is O(buckets) (64 rows here; some 10^5
# at 100 TB) — the apply join is broadcast-trivial and the DATA never
# moves during planning; actually re-homing the stream is the
# consumers' act of re-reading their bucket sets, which is why the
# movement count (cache re-warm cost) is a first-class audit column.
# ---------------------------------------------------------------------------


@register(
    "cdc_rebalance_apply",
    oracle_splice(
        _REBALANCE_ORACLE,
        """SELECT new_consumer,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n) AS BIGINT) AS assigned_load,
       CAST(sum(CASE WHEN new_consumer <> old_consumer THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM assigned
GROUP BY new_consumer""",
        """, applied AS (
  SELECT l.bucket, l.n,
         coalesce(m.new_consumer, CAST(l.bucket % 16 AS BIGINT)) AS consumer,
         CASE WHEN m.bucket IS NOT NULL THEN 1 ELSE 0 END AS moved
  FROM load l LEFT JOIN (
    SELECT bucket, new_consumer FROM assigned
    WHERE new_consumer <> old_consumer
  ) m ON l.bucket = m.bucket
), rollup AS (
  SELECT consumer AS new_consumer,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(n) AS BIGINT) AS assigned_load,
         CAST(sum(moved) AS BIGINT) AS n_moved
  FROM applied GROUP BY consumer
), bounds AS (
  SELECT max(assigned_load) AS mx, min(assigned_load) AS mn FROM rollup
), mb AS (
  SELECT max(n) AS max_bucket FROM load
)
SELECT r.new_consumer, r.n_buckets, r.assigned_load, r.n_moved,
       (b.mx - b.mn <= mb.max_bucket) AS skew_bounded
FROM rollup r, bounds b, mb""",
    ),
)
def cdc_rebalance_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the serpentine rebalance moves to the bucket→consumer
    assignment table (broadcast left join; untouched buckets pass
    through), roll up the post-move state per consumer, and export
    the serpentine skew bound as an audit column (see block comment).

    The serpentine below mirrors cdc_rebalance_plan VERBATIM (kept
    duplicated, not refactored — CLAUDE.md rule 1: the plan op is
    driver-green); the cross-pin props test catches any drift."""
    cdc = cdc_view(spark, sf_dir)
    load = cdc.groupBy((F.col("pk") % _REB_BUCKETS).alias("bucket")).agg(
        F.count("*").cast("long").alias("n")
    )
    ranked = load.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n").desc(), "bucket")) - 1
    )
    c = _N_CONSUMERS
    serp = F.when(
        F.expr(f"div(rk, {c})") % 2 == 0, F.col("rk") % c
    ).otherwise(c - 1 - (F.col("rk") % c))
    assigned = ranked.select(
        "bucket",
        "n",
        serp.cast("long").alias("new_consumer"),
        (F.col("bucket") % c).cast("long").alias("old_consumer"),
    )
    # the registered plan's MOVE LIST — only rows that change home
    moves = assigned.filter(
        F.col("new_consumer") != F.col("old_consumer")
    ).select("bucket", "new_consumer")
    # apply to the assignment table: one broadcast left join
    applied = (
        load.join(F.broadcast(moves), "bucket", "left")
        .select(
            "bucket",
            "n",
            F.coalesce(
                "new_consumer", (F.col("bucket") % c).cast("long")
            ).alias("consumer"),
            F.col("new_consumer").isNotNull().cast("long").alias("moved"),
        )
    )
    rollup = applied.groupBy(
        F.col("consumer").alias("new_consumer")
    ).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("assigned_load"),
        F.sum("moved").cast("long").alias("n_moved"),
    )
    bounds = rollup.agg(
        F.max("assigned_load").alias("mx"), F.min("assigned_load").alias("mn")
    )
    max_bucket = load.agg(F.max("n").alias("max_bucket"))
    return (
        rollup.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(max_bucket))
        .select(
            "new_consumer",
            "n_buckets",
            "assigned_load",
            "n_moved",
            (F.col("mx") - F.col("mn") <= F.col("max_bucket")).alias(
                "skew_bounded"
            ),
        )
    )


# ---------------------------------------------------------------------------
# cdc_scd2_merge_history — INCREMENTAL SCD2 maintenance: the third
# member of the SCD2 family (cdc_scd2 builds intervals from scratch,
# cdc_scd2_lookup reads them point-in-time; this MAINTAINS the history
# table from a new CDC batch — the MERGE-into-history shape every
# warehouse CDC consumer runs, the batch twin of event.go:35-36's
# version increments).
#
# Merge algebra (per arriving pk): the history table's OPEN row
# (valid_to IS NULL) closes at the first new image's timestamp; the
# batch's own images chain among themselves, last one open.  pks
# untouched by the batch pass through unchanged.  The proof that the
# incremental merge equals full recomputation is the ORACLE itself:
# Spark computes ONLY history ⊕ batch, DuckDB recomputes SCD2 from the
# whole log, and the driver's value hash certifies the identity
# (stronger than an exported `matches` flag — every interval bound is
# bit-compared).
# ---------------------------------------------------------------------------


@register("cdc_scd2_merge_history", _SCD2_ORACLE)
def cdc_scd2_merge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the SCD2 history INCREMENTALLY from a CDC batch.

    The prior history (intervals over images below the 80% cutover,
    pinned with localCheckpoint as the stored-table stand-in) is
    merged with the new batch: one broadcast of the batch's per-pk
    first timestamps closes history's open rows via coalesce(valid_to,
    first_new_ts) — closed rows keep their bound, untouched pks keep
    NULL — and the batch's own intervals (lead over the batch alone)
    are appended.  No window ever runs over history ∪ batch together:
    at 100 TB the history table is orders of magnitude larger than a
    batch, and this plan touches it with one join against an O(|batch
    pks|) broadcast — the update cost is batch-sized, not
    history-sized."""
    cdc = cdc_view(spark, sf_dir)
    images = cdc.filter(F.col("dml_type").isin("insert", "update_after")).select(
        "pk", "sequence", "value", "ts_unix"
    )
    cut = images.agg(F.expr("div(max(sequence) * 4, 5)").alias("cutoff"))
    images = images.join(F.broadcast(cut))
    hist_src = images.filter(F.col("sequence") <= F.col("cutoff")).drop("cutoff")
    batch = images.filter(F.col("sequence") > F.col("cutoff")).drop("cutoff")

    w = W.partitionBy("pk").orderBy("sequence")
    history = stage(
        hist_src.select(
            "pk",
            "sequence",
            "value",
            F.col("ts_unix").alias("valid_from"),
            F.lead("ts_unix").over(w).alias("valid_to"),
        )
    )  # the stored warehouse table

    batch_iv = batch.select(
        "pk",
        "sequence",
        "value",
        F.col("ts_unix").alias("valid_from"),
        F.lead("ts_unix").over(w).alias("valid_to"),
    )
    first_new = batch.groupBy("pk").agg(
        F.min_by("ts_unix", "sequence").alias("first_new_ts")
    )
    closed = history.join(F.broadcast(first_new), "pk", "left").select(
        "pk",
        "sequence",
        "value",
        "valid_from",
        F.coalesce("valid_to", "first_new_ts").alias("valid_to"),
    )
    return closed.unionByName(batch_iv)


# ---------------------------------------------------------------------------
# cdc_txn_boundaries — transaction grouping under the reference's GTID
# model: one GTID covers every row event of a transaction, with
# event_number incrementing within it (event.go:189-200 — domain,
# server_id, sequence identify the txn; event_number the row).  The
# synthetic envelope carries one row per GTID, so transactions are
# synthesized deterministically (txn = div(event_id, 4): runs of ≤4
# consecutive events — the multi-row-txn decode shape), then audited:
# per txn-size bucket, how many transactions, rows, deletes-containing
# txns, and the widest event-time span a single transaction covers —
# the numbers a downstream applier needs to size its per-txn buffers.
# ---------------------------------------------------------------------------

_TXN_ORACLE = f"""
{CDC_SQL}
, txe AS (
  SELECT CAST(sequence AS BIGINT) // 4 AS txn_seq,
         sequence % 4 + 1 AS event_number,
         dml_type, ts_unix
  FROM cdc
), per_txn AS (
  SELECT txn_seq,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(max(ts_unix) - min(ts_unix) AS BIGINT) AS span_s,
         CAST(max(CASE WHEN dml_type = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
           AS has_delete
  FROM txe GROUP BY txn_seq
)
SELECT n_rows AS txn_size,
       CAST(count(*) AS BIGINT) AS n_txns,
       CAST(sum(n_rows) AS BIGINT) AS n_events,
       CAST(sum(has_delete) AS BIGINT) AS n_with_delete,
       CAST(max(span_s) AS BIGINT) AS max_span_s
FROM per_txn
GROUP BY n_rows
"""


@register("cdc_txn_boundaries", _TXN_ORACLE)
def cdc_txn_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-size profile over synthesized multi-row GTIDs: one
    keyed agg to per-txn stats (integer div == DuckDB //), one
    map-side-combinable agg to size buckets."""
    cdc = cdc_view(spark, sf_dir)
    txe = cdc.select(
        F.expr("div(CAST(sequence AS BIGINT), 4)").alias("txn_seq"),
        "dml_type",
        "ts_unix",
    )
    per_txn = txe.groupBy("txn_seq").agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.max("ts_unix") - F.min("ts_unix")).cast("long").alias("span_s"),
        F.max(F.when(F.col("dml_type") == "delete", 1).otherwise(0))
        .cast("long")
        .alias("has_delete"),
    )
    return per_txn.groupBy(F.col("n_rows").alias("txn_size")).agg(
        F.count("*").cast("long").alias("n_txns"),
        F.sum("n_rows").cast("long").alias("n_events"),
        F.sum("has_delete").cast("long").alias("n_with_delete"),
        F.max("span_s").cast("long").alias("max_span_s"),
    )


# ---------------------------------------------------------------------------
# cdc_pk_cardinality_drift — table-growth monitoring over the change
# stream: per (epoch) day, events, active keys, NEVER-SEEN-BEFORE keys
# (first-touch attribution via one per-pk min), the running distinct
# total, and the day-over-day active delta.  The capacity/drift
# numbers a CDC consumer alarms on (a key-cardinality step change
# usually means an upstream backfill or a PK redefinition).  Day is
# div(ts_unix, 86400) — pure integer bucketing, no calendar/timezone
# semantics to disagree on.
# ---------------------------------------------------------------------------

_CARD_ORACLE = f"""
{CDC_SQL}
, ev AS (
  SELECT pk, CAST(ts_unix AS BIGINT) // 86400 AS day_num FROM cdc
), daily AS (
  SELECT day_num,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT pk) AS BIGINT) AS n_active
  FROM ev GROUP BY day_num
), firsts AS (
  SELECT pk, min(day_num) AS first_day FROM ev GROUP BY pk
), news AS (
  SELECT first_day AS day_num, CAST(count(*) AS BIGINT) AS n_new
  FROM firsts GROUP BY first_day
)
SELECT d.day_num,
       d.n_events,
       d.n_active,
       CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
       CAST(sum(coalesce(n.n_new, 0))
              OVER (ORDER BY d.day_num
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct,
       CAST(d.n_active - coalesce(lag(d.n_active) OVER (ORDER BY d.day_num), 0)
            AS BIGINT) AS active_delta
FROM daily d LEFT JOIN news n USING (day_num)
"""


@register("cdc_pk_cardinality_drift", _CARD_ORACLE)
def cdc_pk_cardinality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily key-cardinality drift: two keyed aggs (daily stats,
    per-pk first day) + one O(days)-sized window — the running
    distinct is Σ first-touches, never a growing distinct state."""
    cdc = cdc_view(spark, sf_dir)
    ev = cdc.select("pk", F.expr("div(ts_unix, 86400)").alias("day_num"))
    daily = ev.groupBy("day_num").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("pk").cast("long").alias("n_active"),
    )
    firsts = ev.groupBy("pk").agg(F.min("day_num").alias("first_day"))
    news = firsts.groupBy(F.col("first_day").alias("day_num")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    w = W.orderBy("day_num").rowsBetween(W.unboundedPreceding, W.currentRow)
    joined = daily.join(news, "day_num", "left").select(
        "day_num",
        "n_events",
        "n_active",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    return joined.select(
        "day_num",
        "n_events",
        "n_active",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_distinct"),
        (
            F.col("n_active")
            - F.coalesce(F.lag("n_active").over(W.orderBy("day_num")), F.lit(0))
        )
        .cast("long")
        .alias("active_delta"),
    )


# ---------------------------------------------------------------------------
# cdc_delete_ratio_alarm — windowed delete-share spike detection: per
# 6 h event-time window, the delete share vs a 20% alarm threshold
# evaluated by INTEGER cross-multiply (5·deletes > events — no ratio
# double ever compared).  The ops alarm for runaway deletion jobs /
# retention-sweep misfires arriving through the change stream.
# ---------------------------------------------------------------------------

_DELRATIO_ORACLE = f"""
{CDC_SQL}
, win AS (
  SELECT CAST(ts_unix AS BIGINT) // 21600 AS w,
         CASE WHEN dml_type = 'delete' THEN 1 ELSE 0 END AS is_del
  FROM cdc
)
SELECT w * 21600 AS wstart_unix,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(is_del) AS BIGINT) AS n_deletes,
       (CAST(sum(is_del) AS BIGINT) * 5 > CAST(count(*) AS BIGINT)) AS alarm
FROM win
GROUP BY w
"""


@register("cdc_delete_ratio_alarm", _DELRATIO_ORACLE)
def cdc_delete_ratio_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6 h delete-share alarm: one map-side-combinable agg; the
    threshold is an integer cross-multiply."""
    cdc = cdc_view(spark, sf_dir)
    win = cdc.select(
        F.expr("div(ts_unix, 21600)").alias("w"),
        F.when(F.col("dml_type") == "delete", 1).otherwise(0).alias("is_del"),
    )
    return win.groupBy("w").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("is_del").cast("long").alias("n_deletes"),
    ).select(
        (F.col("w") * 21600).cast("long").alias("wstart_unix"),
        "n_events",
        "n_deletes",
        (F.col("n_deletes") * 5 > F.col("n_events")).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# cdc_schema_compat — schema-version COMPATIBILITY audit over the DDL
# registry: for each consecutive version pair of each table, the field
# delta (added / added-required / dropped / retyped) and the resulting
# compatibility class — 'backward' when the new version only adds
# nullable fields (old readers keep working, the Avro evolution rule
# the reference's versioned DDL stream implies, event.go:35-40),
# 'breaking' when a field is dropped, retyped, or added non-nullable.
# The governance gate in front of cdc_schema_evolution's mechanics:
# evolution tells you WHAT changed, this tells you whether consumers
# survive it.  Spark computes from the DECODED wire fixtures (the real
# polymorphic-field decode path, schema_registry.py); the oracle
# recomputes from the registry VALUES — same certification shape as
# cdc_schema_registry.
# ---------------------------------------------------------------------------

@register(
    "cdc_schema_compat",
    """
    WITH reg AS (
      SELECT * FROM (VALUES
        ('test', 'tests', 1, 'id',    0, 'int',    TRUE),
        ('test', 'tests', 2, 'id',    0, 'int',    TRUE),
        ('test', 'tests', 2, 'name',  1, 'string', TRUE),
        ('test', 'tests', 2, 'flags', 2, 'bigint', TRUE),
        ('test', 'tests', 2, 'state', 3, 'string', FALSE)
      ) AS t(database_name, table_name, version, field_name, field_pos, spark_type, nullable)
    ), vers AS (
      SELECT DISTINCT database_name, table_name, version FROM reg
    ), pairs AS (
      SELECT v1.database_name, v1.table_name,
             v1.version AS v_from, v2.version AS v_to
      FROM vers v1 JOIN vers v2
        ON v1.database_name = v2.database_name
       AND v1.table_name = v2.table_name
       AND v2.version = v1.version + 1
    ), olds AS (
      SELECT p.*, r.field_name, r.spark_type
      FROM pairs p JOIN reg r
        ON r.database_name = p.database_name
       AND r.table_name = p.table_name AND r.version = p.v_from
    ), news AS (
      SELECT p.*, r.field_name, r.spark_type, r.nullable
      FROM pairs p JOIN reg r
        ON r.database_name = p.database_name
       AND r.table_name = p.table_name AND r.version = p.v_to
    ), deltas AS (
      SELECT p.database_name, p.table_name, p.v_from, p.v_to,
        CAST((SELECT count(*) FROM news n
              WHERE n.database_name = p.database_name AND n.table_name = p.table_name
                AND n.v_from = p.v_from
                AND NOT EXISTS (SELECT 1 FROM olds o
                                WHERE o.database_name = n.database_name
                                  AND o.table_name = n.table_name
                                  AND o.v_from = n.v_from
                                  AND o.field_name = n.field_name)) AS BIGINT) AS n_added,
        CAST((SELECT count(*) FROM news n
              WHERE n.database_name = p.database_name AND n.table_name = p.table_name
                AND n.v_from = p.v_from AND NOT n.nullable
                AND NOT EXISTS (SELECT 1 FROM olds o
                                WHERE o.database_name = n.database_name
                                  AND o.table_name = n.table_name
                                  AND o.v_from = n.v_from
                                  AND o.field_name = n.field_name)) AS BIGINT) AS n_added_required,
        CAST((SELECT count(*) FROM olds o
              WHERE o.database_name = p.database_name AND o.table_name = p.table_name
                AND o.v_from = p.v_from
                AND NOT EXISTS (SELECT 1 FROM news n
                                WHERE n.database_name = o.database_name
                                  AND n.table_name = o.table_name
                                  AND n.v_from = o.v_from
                                  AND n.field_name = o.field_name)) AS BIGINT) AS n_dropped,
        CAST((SELECT count(*) FROM olds o JOIN news n
              ON n.database_name = o.database_name AND n.table_name = o.table_name
             AND n.v_from = o.v_from AND n.field_name = o.field_name
             AND n.spark_type <> o.spark_type
              WHERE o.database_name = p.database_name
                AND o.table_name = p.table_name AND o.v_from = p.v_from) AS BIGINT) AS n_retyped
      FROM pairs p
    )
    SELECT database_name, table_name,
           CAST(v_from AS BIGINT) AS v_from, CAST(v_to AS BIGINT) AS v_to,
           n_added, n_added_required, n_dropped, n_retyped,
           CASE WHEN n_dropped + n_retyped + n_added_required > 0
                THEN 'breaking' ELSE 'backward' END AS compat
    FROM deltas
    """,
)
def cdc_schema_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-version field deltas + compatibility class from the
    decoded DDL registry (see block comment)."""
    reg = cdc_schema_registry(spark, sf_dir)
    vers = reg.select("database_name", "table_name", "version").distinct()
    v1, v2 = vers.alias("v1"), vers.alias("v2")
    pairs = v1.join(
        v2,
        (F.col("v1.database_name") == F.col("v2.database_name"))
        & (F.col("v1.table_name") == F.col("v2.table_name"))
        & (F.col("v2.version") == F.col("v1.version") + 1),
    ).select(
        F.col("v1.database_name").alias("database_name"),
        F.col("v1.table_name").alias("table_name"),
        F.col("v1.version").alias("v_from"),
        F.col("v2.version").alias("v_to"),
    )
    olds = pairs.join(
        reg.select(
            "database_name", "table_name",
            F.col("version").alias("v_from"),
            "field_name", F.col("spark_type").alias("t_old"),
        ),
        ["database_name", "table_name", "v_from"],
    )
    news = pairs.join(
        reg.select(
            "database_name", "table_name",
            F.col("version").alias("v_to"),
            "field_name", F.col("spark_type").alias("t_new"), "nullable",
        ),
        ["database_name", "table_name", "v_to"],
    )
    keys = ["database_name", "table_name", "v_from", "v_to", "field_name"]
    both = olds.join(news, keys, "full")
    delta = both.groupBy("database_name", "table_name", "v_from", "v_to").agg(
        F.sum(F.when(F.col("t_old").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_added"),
        F.sum(
            F.when(F.col("t_old").isNull() & ~F.col("nullable"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_added_required"),
        F.sum(F.when(F.col("t_new").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(
            F.when(
                F.col("t_old").isNotNull()
                & F.col("t_new").isNotNull()
                & (F.col("t_old") != F.col("t_new")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_retyped"),
    )
    return delta.select(
        "database_name",
        "table_name",
        F.col("v_from").cast("long").alias("v_from"),
        F.col("v_to").cast("long").alias("v_to"),
        "n_added",
        "n_added_required",
        "n_dropped",
        "n_retyped",
        F.when(
            F.col("n_dropped") + F.col("n_retyped") + F.col("n_added_required")
            > 0,
            "breaking",
        )
        .otherwise("backward")
        .alias("compat"),
    )


# ---------------------------------------------------------------------------
# cdc_snapshot_diff — TABLE DIFF between two stream positions: the
# reconciliation every warehouse runs ("what changed between
# yesterday's load and today's?") expressed against the log — state at
# the 60% GTID position vs state at the head, full-outer-joined on pk,
# classified added / removed / changed / unchanged.  Replaying the log
# twice is the SPEC; the plan computes both states from ONE pk-keyed
# shuffle (a single window over the full log yields head state, a
# second rank restricted to ≤cutoff yields the historical state —
# same exchange, no second scan).
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = f"""
{CDC_SQL}
, cut AS (SELECT (max(sequence) * 3) // 5 AS cutoff FROM cdc),
  head AS (
    SELECT pk, value FROM (
      SELECT pk, value, dml_type,
             row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
      FROM cdc
    ) WHERE rn = 1 AND dml_type <> 'delete'
  ),
  old AS (
    SELECT pk, value FROM (
      SELECT pk, value, dml_type,
             row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
      FROM cdc, cut WHERE sequence <= cutoff
    ) WHERE rn = 1 AND dml_type <> 'delete'
  ),
  diff AS (
    SELECT coalesce(h.pk, o.pk) AS pk,
           CASE WHEN o.pk IS NULL THEN 'added'
                WHEN h.pk IS NULL THEN 'removed'
                WHEN h.value <> o.value THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM head h FULL JOIN old o ON h.pk = o.pk
  )
SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys
FROM diff GROUP BY change_type
"""


@register("cdc_snapshot_diff", _SNAPDIFF_ORACLE)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Added/removed/changed/unchanged key counts between the 60%
    stream position and the head (see block comment)."""
    cdc = cdc_view(spark, sf_dir)
    cut = cdc.agg(F.expr("div(max(sequence) * 3, 5)").alias("cutoff"))
    base = cdc.join(F.broadcast(cut)).select(
        "pk", "sequence", "dml_type", "value",
        (F.col("sequence") <= F.col("cutoff")).alias("in_old"),
    )
    w_all = W.partitionBy("pk").orderBy(F.col("sequence").desc())
    # one pk partitioning serves both ranks: rn over the full log and
    # rn over the ≤cutoff prefix (count of later in-prefix events + 1)
    ranked = base.select(
        "pk", "dml_type", "value", "in_old",
        F.row_number().over(w_all).alias("rn_head"),
        F.sum(F.when(F.col("in_old"), 1).otherwise(0))
        .over(w_all.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("rn_old_if"),
    )
    head = ranked.filter(
        (F.col("rn_head") == 1) & (F.col("dml_type") != "delete")
    ).select("pk", F.col("value").alias("v_head"))
    old = ranked.filter(
        F.col("in_old") & (F.col("rn_old_if") == 1) & (F.col("dml_type") != "delete")
    ).select("pk", F.col("value").alias("v_old"))
    diff = head.join(old, "pk", "full").select(
        F.when(F.col("v_old").isNull(), "added")
        .when(F.col("v_head").isNull(), "removed")
        .when(F.col("v_head") != F.col("v_old"), "changed")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return diff.groupBy("change_type").agg(
        F.count("*").cast("long").alias("n_keys")
    )


# ---------------------------------------------------------------------------
# cdc_value_drift — metric drift over the change stream: per epoch
# day, the event count and EXACT mean value in integer micro-cents
# (sum of cents × 100 // count — no double accumulation), plus the
# day-over-day delta of that mean.  The payload-level companion to
# cdc_pk_cardinality_drift's key-level monitoring: a step change in
# the mean is an upstream unit change or backfill, the alarm every
# metrics pipeline wants straight off the stream.
# ---------------------------------------------------------------------------

_VALUE_DRIFT_ORACLE = f"""
{CDC_SQL}
, ev AS (
  SELECT CAST(ts_unix AS BIGINT) // 86400 AS day_num,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM cdc
), daily AS (
  SELECT day_num,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST((CAST(sum(cents) AS BIGINT) * 100) // CAST(count(*) AS BIGINT)
              AS BIGINT) AS mean_microcents
  FROM ev GROUP BY day_num
)
SELECT day_num, n_events, mean_microcents,
       CAST(mean_microcents
            - coalesce(lag(mean_microcents) OVER (ORDER BY day_num),
                       mean_microcents) AS BIGINT) AS mean_delta
FROM daily
"""


@register("cdc_value_drift", _VALUE_DRIFT_ORACLE)
def cdc_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily exact integer-micro-cent mean + day-over-day delta: one
    map-side-combinable agg + one O(days) window."""
    cdc = cdc_view(spark, sf_dir)
    ev = cdc.select(
        F.expr("div(ts_unix, 86400)").alias("day_num"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    daily = ev.groupBy("day_num").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr("div(CAST(sum(cents) AS BIGINT) * 100, count(*))")
        .cast("long")
        .alias("mean_microcents"),
    )
    w = W.orderBy("day_num")
    return daily.select(
        "day_num",
        "n_events",
        "mean_microcents",
        (
            F.col("mean_microcents")
            - F.coalesce(
                F.lag("mean_microcents").over(w), F.col("mean_microcents")
            )
        )
        .cast("long")
        .alias("mean_delta"),
    )


# ---------------------------------------------------------------------------
# cdc_heartbeat_gap — producer LIVENESS audit: the largest event-time
# silence per stream partition (pk % 16, the consumer-group layout)
# and the count of gaps above an alarm threshold (1 h).  A partition
# whose max gap far exceeds the others has a stalled producer or a
# broken route — the liveness alarm the reference's ordered channel
# makes detectable (silence is observable exactly because delivery is
# ordered, client.go:219-251).
# ---------------------------------------------------------------------------

_HEARTBEAT_ORACLE = f"""
{CDC_SQL}
, seq AS (
  SELECT pk % 16 AS part, ts_unix,
         lag(ts_unix) OVER (PARTITION BY pk % 16 ORDER BY ts_unix, sequence)
           AS prev_ts
  FROM cdc
), gaps AS (
  SELECT part, ts_unix - prev_ts AS gap_s
  FROM seq WHERE prev_ts IS NOT NULL
)
SELECT CAST(part AS BIGINT) AS part,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps_over_1h
FROM gaps
GROUP BY part
"""


@register("cdc_heartbeat_gap", _HEARTBEAT_ORACLE)
def cdc_heartbeat_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max event-time silence + over-threshold gap counts per stream
    partition: one keyed window + one map-side-combinable agg."""
    cdc = cdc_view(spark, sf_dir)
    part = (F.col("pk") % 16).alias("part")
    w = W.partitionBy(F.col("pk") % 16).orderBy("ts_unix", "sequence")
    seq = cdc.select(
        part, "ts_unix", F.lag("ts_unix").over(w).alias("prev_ts")
    )
    gaps = seq.filter(F.col("prev_ts").isNotNull()).select(
        "part", (F.col("ts_unix") - F.col("prev_ts")).alias("gap_s")
    )
    return gaps.groupBy(F.col("part").cast("long").alias("part")).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
        F.sum(F.when(F.col("gap_s") > 3600, 1).otherwise(0))
        .cast("long")
        .alias("n_gaps_over_1h"),
    )


# ---------------------------------------------------------------------------
# cdc_replay_request_plan — turn detected sequence gaps into the replay
# REQUESTS the reference protocol actually issues: resuming a stream is
# `REQUEST-DATA database.table GTID` anchored at the last-safe position
# (client.go:349-369; GTID synthesized as domain-server-sequence,
# event.go:216-236).  Per-key gaps (cdc_gap_detect's lag definition)
# are first MERGED into global replay ranges (overlapping/adjacent
# intervals coalesce — the gaps-and-islands pattern: running max of
# range ends, new island when a range starts past it), then each merged
# range becomes one request anchored at range_start − 1.  Replay is
# idempotent under the at-least-once contract, so coalescing can only
# over-replay, never under-replay.  All interval math is BIGINT; the
# request string is deterministic concatenation.
# ---------------------------------------------------------------------------

_REPLAY_PLAN_ORACLE = f"""
{{cdc}}
, seq AS (
  SELECT pk, sequence,
         lag(sequence) OVER (PARTITION BY pk ORDER BY sequence) AS prev_seq
  FROM cdc
), gaps AS (
  SELECT pk, prev_seq + 1 AS lo, sequence - 1 AS hi
  FROM seq
  WHERE prev_seq IS NOT NULL AND sequence - prev_seq > 20
), marked AS (
  SELECT pk, lo, hi,
         max(hi) OVER (ORDER BY lo, hi, pk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM gaps
), islands AS (
  SELECT lo, hi,
         CAST(sum(CASE WHEN prev_max IS NULL OR lo > prev_max + 1
                       THEN 1 ELSE 0 END)
              OVER (ORDER BY lo, hi, pk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS island
  FROM marked
)
SELECT CAST(min(lo) AS BIGINT) AS range_start,
       CAST(max(hi) AS BIGINT) AS range_end,
       CAST(count(*) AS BIGINT) AS n_source_gaps,
       CAST(max(hi) - min(lo) + 1 AS BIGINT) AS span,
       'REQUEST-DATA testdb.events 0-1-' || CAST(min(lo) - 1 AS VARCHAR)
         AS request_cmd
FROM islands
GROUP BY island
"""


@register("cdc_replay_request_plan", _REPLAY_PLAN_ORACLE.format(cdc=CDC_SQL))
def cdc_replay_request_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged replay ranges + REQUEST-DATA command strings from per-key
    sequence gaps (see block comment)."""
    cdc = cdc_view(spark, sf_dir)
    w = W.partitionBy("pk").orderBy("sequence")
    seq = cdc.select(
        "pk", "sequence", F.lag("sequence").over(w).alias("prev_seq")
    )
    gaps = seq.filter(
        F.col("prev_seq").isNotNull() & (F.col("sequence") - F.col("prev_seq") > 20)
    ).select(
        "pk",
        (F.col("prev_seq") + 1).alias("lo"),
        (F.col("sequence") - 1).alias("hi"),
    )
    worder = W.orderBy("lo", "hi", "pk")
    marked = gaps.select(
        "pk",
        "lo",
        "hi",
        F.max("hi")
        .over(worder.rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_max"),
    )
    island_flag = F.when(
        F.col("prev_max").isNull() | (F.col("lo") > F.col("prev_max") + 1), 1
    ).otherwise(0)
    # the running sum's window is TOTAL-ordered (lo, hi, pk): with ties
    # broken, both engines assign identical island ids row-by-row (a
    # partial order here could split a tied pair across islands
    # differently per engine)
    islands = marked.select(
        "lo",
        "hi",
        F.sum(island_flag)
        .over(
            W.orderBy("lo", "hi", "pk").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .cast("long")
        .alias("island"),
    )
    return islands.groupBy("island").agg(
        F.min("lo").cast("long").alias("range_start"),
        F.max("hi").cast("long").alias("range_end"),
        F.count("*").cast("long").alias("n_source_gaps"),
        (F.max("hi") - F.min("lo") + 1).cast("long").alias("span"),
        F.concat(
            F.lit("REQUEST-DATA testdb.events 0-1-"),
            (F.min("lo") - 1).cast("string"),
        ).alias("request_cmd"),
    ).drop("island")


# ---------------------------------------------------------------------------
# cdc_gtid_watermark — multi-source replication LOW WATERMARK per GTID
# domain: the reference's GTID is domain-server-sequence precisely so a
# consumer can track multiple replication sources (event.go:216-236);
# the safe RESUME position for a domain is the MINIMUM over its servers
# of each server's maximum delivered sequence — rewinding to it loses
# nothing from any server (the same min-of-maxes shape as Kafka
# consumer-group low watermarks).  The canonical fixture is
# single-source (domain 0, server 3000, cdc_view); this op models the
# multi-source deployment with the documented synthetic fan-out
# (domain = pk % 4, server = 3000 + pk % 2).
#
# Exactness: the per-domain argmin over (max_seq, server_id) is packed
# into ONE BIGINT (max_seq·4096 + server offset; max_seq < 2⁵⁰ holds
# by construction — event ids) because DuckDB's min_by/arg_min takes
# only SCALAR order keys (CLAUDE.md gotcha); unpack via div/%.
# ---------------------------------------------------------------------------

_GTID_WM_ORACLE = """
WITH src AS (
  SELECT CAST(user_id % 4 AS INT) AS domain,
         CAST(3000 + user_id % 2 AS INT) AS server_id,
         event_id AS sequence
  FROM events
), per_server AS (
  SELECT domain, server_id, CAST(max(sequence) AS BIGINT) AS max_seq
  FROM src GROUP BY domain, server_id
), packed AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_servers,
         CAST(max(max_seq) AS BIGINT) AS domain_max_seq,
         CAST(min(max_seq * 4096 + (server_id - 3000)) AS BIGINT) AS mn
  FROM per_server GROUP BY domain
)
SELECT domain, n_servers, domain_max_seq,
       CAST(mn // 4096 AS BIGINT) AS low_watermark_seq,
       CAST(domain AS VARCHAR) || '-'
         || CAST(3000 + mn % 4096 AS VARCHAR) || '-'
         || CAST(mn // 4096 AS VARCHAR) AS resume_gtid
FROM packed
"""


@register("cdc_gtid_watermark", _GTID_WM_ORACLE)
def cdc_gtid_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain replication low watermark + resume GTID (see block
    comment): two keyed aggregations, packed-BIGINT argmin."""
    ev = table(spark, sf_dir, "events")
    src = ev.select(
        (F.col("user_id") % 4).cast("int").alias("domain"),
        (3000 + F.col("user_id") % 2).cast("int").alias("server_id"),
        F.col("event_id").alias("sequence"),
    )
    per_server = src.groupBy("domain", "server_id").agg(
        F.max("sequence").cast("long").alias("max_seq")
    )
    packed = per_server.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_servers"),
        F.max("max_seq").cast("long").alias("domain_max_seq"),
        F.min(F.col("max_seq") * 4096 + (F.col("server_id") - 3000))
        .cast("long")
        .alias("mn"),
    )
    return packed.select(
        "domain",
        "n_servers",
        "domain_max_seq",
        F.expr("div(mn, 4096)").cast("long").alias("low_watermark_seq"),
        F.concat(
            F.col("domain").cast("string"),
            F.lit("-"),
            (3000 + F.col("mn") % 4096).cast("string"),
            F.lit("-"),
            F.expr("div(mn, 4096)").cast("string"),
        ).alias("resume_gtid"),
    )


# ---------------------------------------------------------------------------
# cdc_backfill_chunk_plan — volume-balanced chunking of the INITIAL
# SNAPSHOT backfill that precedes streaming (the reference starts a
# stream at GTID 0-0-0, client.go:114-126; real deployments first copy
# the existing table, then splice the stream at the snapshot position).
# A parallel backfill needs key-range chunks that (a) never split a
# primary key (per-key consistency with the stream splice), and
# (b) balance WRITE VOLUME, not key count — a hot key's events all land
# in one chunk (cdc_hotkey_profile is the upstream measurement).
#
# Rule: order pks ascending, cumulate per-pk event counts, assign pk to
# chunk div((cum − 1)·N, total) + 1 — the integer cross-multiply that
# rel_weighted_percentile certifies (Spark div == DuckDB BIGINT //; the
# window SUM is CAST to BIGINT before the multiply, the HUGEINT rule).
# Contiguity in pk order makes each chunk one range predicate (exported)
# that the source can serve with an index scan.
#
# Scale: one keyed agg (pk) + one pk-ordered window over the DISTINCT
# key table (|keys| rows, not |events|) + a 16-row group.  The cumsum
# is a GLOBAL ordered window — fine while the key table is the small
# derivative; at extreme key cardinality the plan would run on the
# deterministic md5-bucket key sample (functions/sample.py, the
# llm_lsh_tuning_sampled precedent) since chunk boundaries only need
# estimator-grade volume shares.  Recomputed per backfill, never
# maintained.
# ---------------------------------------------------------------------------

_BACKFILL_CHUNKS = 16

_BACKFILL_ORACLE = f"""
{CDC_SQL}
, perkey AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n FROM cdc GROUP BY pk
), cum AS (
  SELECT pk, n,
         CAST(SUM(n) OVER (ORDER BY pk
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(SUM(n) OVER () AS BIGINT) AS total
  FROM perkey
), assigned AS (
  SELECT pk, n, total, ((c - 1) * {_BACKFILL_CHUNKS}) // total + 1 AS chunk_id
  FROM cum
)
SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(min(pk) AS BIGINT) AS lo_pk,
       CAST(max(pk) AS BIGINT) AS hi_pk,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(n) AS DOUBLE) / max(total) AS share,
       'pk >= ' || CAST(min(pk) AS VARCHAR) || ' AND pk <= ' || CAST(max(pk) AS VARCHAR) AS predicate
FROM assigned
GROUP BY chunk_id
"""


@register("cdc_backfill_chunk_plan", _BACKFILL_ORACLE)
def cdc_backfill_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-balanced, key-atomic snapshot backfill chunks with one
    range predicate per chunk (see block comment)."""
    cdc = cdc_view(spark, sf_dir)
    perkey = cdc.groupBy("pk").agg(F.count("*").cast("long").alias("n"))
    w = W.orderBy("pk").rowsBetween(W.unboundedPreceding, W.currentRow)
    # total as a global unbounded window on the SAME rows — one scan,
    # no second aggregate + cross join (it shares the cumsum's
    # single-partition exchange)
    cum = perkey.withColumn("c", F.sum("n").over(w).cast("long")).withColumn(
        "total",
        F.sum("n").over(W.partitionBy()).cast("long"),
    )
    assigned = cum.select(
        "pk",
        "n",
        "total",
        (F.expr(f"div((c - 1) * {_BACKFILL_CHUNKS}, total)") + 1).alias("chunk_id"),
    )
    return assigned.groupBy(F.col("chunk_id").cast("long").alias("chunk_id")).agg(
        F.min("pk").cast("long").alias("lo_pk"),
        F.max("pk").cast("long").alias("hi_pk"),
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_events"),
        (F.sum("n").cast("double") / F.max("total")).alias("share"),
        F.concat(
            F.lit("pk >= "),
            F.min("pk").cast("string"),
            F.lit(" AND pk <= "),
            F.max("pk").cast("string"),
        ).alias("predicate"),
    )


# ---------------------------------------------------------------------------
# cdc_replay_apply — EXECUTE the replay the request plan only formats
# (the detect→plan→apply closure for delivery gaps, the
# llm_ivf_rebalance_apply discipline applied to the protocol family):
# a contiguous delivery window [30%, 32%] of the sequence domain is
# dropped, the hole is DETECTED from the delivered stream alone (lag
# over the global sequence — the reference's sequences are dense per
# (domain, server), event.go:216-236, so a >1 step IS a loss), the
# missing ranges are re-fetched from the source (range join against
# the full log — the at-least-once replay REQUEST-DATA serves,
# client.go:349-369), and the recovered union is materialized to
# latest-state.  Oracle = whole-log latest state: a green row proves
# the recovery is byte-invisible.
#
# Scale: gap detection orders the GLOBAL sequence because that is the
# protocol's own total order; a multi-domain deployment partitions
# this window by (domain, server_id) — exactly the GTID structure —
# so no single-partition window survives at 100 TB.  The re-fetch is
# a broadcast of the O(gaps) range table against the source scan;
# recovery cost is |replayed| + one pk-keyed window.
# ---------------------------------------------------------------------------

_REPLAY_APPLY_ORACLE = f"""
{CDC_SQL}
, ranked AS (
  SELECT pk, sequence, value, ts_unix, dml_type,
         row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
  FROM cdc
)
SELECT pk, sequence AS last_seq, value AS last_value, ts_unix AS last_ts_unix
FROM ranked WHERE rn = 1 AND dml_type <> 'delete'
"""


@register("cdc_replay_apply", _REPLAY_APPLY_ORACLE)
def cdc_replay_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop a delivery window, detect the hole from the delivered
    stream, re-fetch the ranges, prove the recovered latest-state
    equals the whole-log truth (see block comment)."""
    cdc = cdc_view(spark, sf_dir).select(
        "pk", "sequence", "value", "ts_unix", "dml_type"
    )
    bounds = cdc.agg(
        F.expr("div(max(sequence) * 30, 100)").alias("drop_lo"),
        F.expr("div(max(sequence) * 32, 100)").alias("drop_hi"),
    )
    delivered = (
        cdc.join(F.broadcast(bounds))
        .filter(
            ~((F.col("sequence") > F.col("drop_lo")) & (F.col("sequence") <= F.col("drop_hi")))
        )
        .drop("drop_lo", "drop_hi")
    )
    # detect: lag over the protocol's dense global sequence
    seqs = delivered.select("sequence").distinct()
    w = W.orderBy("sequence")
    gaps = (
        seqs.withColumn("prev", F.lag("sequence").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("sequence") - F.col("prev") > 1))
        .select(
            (F.col("prev") + 1).alias("lo"), (F.col("sequence") - 1).alias("hi")
        )
    )
    # apply: re-fetch exactly the missing ranges from the source log
    replayed = cdc.join(
        F.broadcast(gaps),
        (F.col("sequence") >= F.col("lo")) & (F.col("sequence") <= F.col("hi")),
    ).drop("lo", "hi")
    recovered = delivered.unionByName(replayed)
    return _live_images(first_per(recovered, "pk", F.col("sequence").desc()))


# ---------------------------------------------------------------------------
# cdc_cascade_delete_apply — REFERENTIAL CASCADE as a detect→act
# closure: rel_referential_integrity AUDITS orphaned children; this op
# EXECUTES the ON DELETE CASCADE a consumer materializing both parent
# and child state must apply when the parent's change stream delivers
# a delete (the reference delivers deletes as first-class DML events —
# event.go:167-183; a consumer that drops the user row but keeps the
# user's orders is silently corrupt).
#
# Detect: per-pk latest state over the CDC-shaped event log
# (cdc_latest_state's total order); deleted parents = pks whose final
# image is a delete.  Act: purge their orders from the materialized
# child state.  Certify: per-orderstatus ledger — n_before, n_removed,
# n_after (BIGINT) and the removed money mass (DECIMAL(18,4)-exact) —
# the oracle recomputes everything from the raw log + snapshot.
#
# Scale: one keyed latest-state window (the cdc_latest_state shuffle),
# then ONE broadcast semi/anti pass over the child table (the deleted
# set is |deleted parents| — KB-to-MB at any realistic delete rate);
# ledger aggs are map-side combinable.
# ---------------------------------------------------------------------------


@register(
    "cdc_cascade_delete_apply",
    f"""
    WITH cdc AS (
      SELECT event_id AS sequence, {_DML_CASE_SQL} AS dml_type,
             user_id AS pk
      FROM events
    ), latest AS (
      SELECT pk, dml_type FROM (
        SELECT pk, dml_type,
               row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
        FROM cdc
      ) WHERE rn = 1
    ), deleted AS (
      SELECT pk FROM latest WHERE dml_type = 'delete'
    ), tagged AS (
      SELECT o.o_orderstatus,
             (d.pk IS NOT NULL) AS removed,
             o.o_totalprice
      FROM orders o LEFT JOIN deleted d ON d.pk = o.o_custkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN removed THEN 0 ELSE 1 END) AS BIGINT) AS n_after,
           CAST(SUM(CASE WHEN removed THEN CAST(o_totalprice AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             AS removed_value
    FROM tagged
    GROUP BY o_orderstatus
    """,
)
def cdc_cascade_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute ON DELETE CASCADE from the CDC stream into the
    materialized child state, with the per-status removal ledger (see
    block comment)."""
    from maxscale_cdc_spark.functions.numeric import dec

    ev = table(spark, sf_dir, "events")
    cdc = ev.select(
        F.col("event_id").alias("sequence"),
        F.when(F.col("event_type").isin("signup", "purchase"), F.lit("insert"))
        .when(F.col("event_type") == "view", F.lit("update_before"))
        .when(F.col("event_type") == "click", F.lit("update_after"))
        .otherwise(F.lit("delete"))
        .alias("dml_type"),
        F.col("user_id").alias("pk"),
    )
    deleted = (
        first_per(cdc, "pk", F.col("sequence").desc())
        .filter(F.col("dml_type") == "delete")
        .select("pk")
    )
    o = table(spark, sf_dir, "orders")
    tagged = o.join(
        F.broadcast(deleted), o.o_custkey == deleted.pk, "left"
    ).select(
        "o_orderstatus",
        F.col("pk").isNotNull().alias("removed"),
        "o_totalprice",
    )
    return tagged.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_before"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.sum(F.when(F.col("removed"), 0).otherwise(1))
        .cast("long")
        .alias("n_after"),
        F.sum(
            F.when(F.col("removed"), dec("o_totalprice")).otherwise(
                dec(F.lit(0))
            )
        )
        .cast("double")
        .alias("removed_value"),
    )


# ---------------------------------------------------------------------------
# cdc_replay_idempotence — the at-least-once → exactly-once PROOF: the
# reference's transport redelivers on reconnect (client.go:253-287
# rescans from the requested position), so every consumer's
# materialization must be a function of the event SET, not the event
# MULTISET.  A contiguous 20% window of the log is re-delivered
# verbatim; the per-pk latest state (the flagship materialization) is
# recomputed over the duplicated log and compared row-for-row against
# the base state — `idempotent` exports the proof, the count ledger
# shows HOW MUCH was redelivered.  (Exact duplicates tie in the
# argmax; both engines return the tied rows' shared values, so the
# comparison is deterministic.)
#
# Scale: two keyed latest-state windows + one pk equi-join; the
# redelivered slice is a filter, never a second scan at the source
# (union of two reads of the same lineage — Spark scans once per
# branch here, a real replay re-reads the wire).
# ---------------------------------------------------------------------------


@register(
    "cdc_replay_idempotence",
    f"""
    {CDC_SQL}
    , bounds AS (
      SELECT (max(sequence) * 2) // 5 AS lo, (max(sequence) * 3) // 5 AS hi
      FROM cdc
    ), dup AS (
      SELECT sequence, dml_type, pk, value, ts_unix FROM cdc
      UNION ALL
      SELECT c.sequence, c.dml_type, c.pk, c.value, c.ts_unix
      FROM cdc c, bounds b WHERE c.sequence > b.lo AND c.sequence <= b.hi
    ), base_state AS (
      SELECT pk, sequence AS last_seq, value AS last_value, ts_unix AS last_ts
      FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
            FROM cdc) WHERE rn = 1 AND dml_type <> 'delete'
    ), dup_state AS (
      SELECT pk, sequence AS last_seq, value AS last_value, ts_unix AS last_ts
      FROM (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
            FROM dup) WHERE rn = 1 AND dml_type <> 'delete'
    ), matched AS (
      SELECT count(*) AS n FROM base_state b JOIN dup_state d
        ON d.pk = b.pk AND d.last_seq = b.last_seq
       AND d.last_value = b.last_value AND d.last_ts = b.last_ts
    )
    SELECT CAST((SELECT count(*) FROM cdc) AS BIGINT) AS n_base_events,
           CAST((SELECT count(*) FROM dup) AS BIGINT) AS n_delivered_events,
           CAST((SELECT count(*) FROM base_state) AS BIGINT) AS n_state_rows,
           CAST((SELECT count(*) FROM dup_state) AS BIGINT) AS n_state_rows_replayed,
           CAST((SELECT n FROM matched) AS BIGINT) AS n_identical_rows,
           ((SELECT count(*) FROM base_state) = (SELECT n FROM matched)
            AND (SELECT count(*) FROM dup_state) = (SELECT n FROM matched))
             AS idempotent
    """,
)
def cdc_replay_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-deliver a contiguous 20% window of the log and prove the
    latest-state materialization byte-identical (see block comment)."""
    cdc = cdc_view(spark, sf_dir).select(
        "sequence", "dml_type", "pk", "value", "ts_unix"
    )
    bounds = cdc.agg(
        F.expr("div(max(sequence) * 2, 5)").alias("lo"),
        F.expr("div(max(sequence) * 3, 5)").alias("hi"),
    )
    redeliver = cdc.join(F.broadcast(bounds)).filter(
        (F.col("sequence") > F.col("lo")) & (F.col("sequence") <= F.col("hi"))
    ).select("sequence", "dml_type", "pk", "value", "ts_unix")
    dup = cdc.unionByName(redeliver)

    def latest(df: DataFrame) -> DataFrame:
        return (
            first_per(df, "pk", F.col("sequence").desc())
            .filter(F.col("dml_type") != "delete")
            .select(
                "pk",
                F.col("sequence").alias("last_seq"),
                F.col("value").alias("last_value"),
                F.col("ts_unix").alias("last_ts"),
            )
        )

    base_state = stage(latest(cdc))
    dup_state = stage(latest(dup))
    matched = base_state.join(
        dup_state, ["pk", "last_seq", "last_value", "last_ts"]
    ).agg(F.count("*").cast("long").alias("n"))
    n_base = cdc.agg(F.count("*").cast("long").alias("a"))
    n_dup = dup.agg(F.count("*").cast("long").alias("b"))
    n_bs = base_state.agg(F.count("*").cast("long").alias("c"))
    n_ds = dup_state.agg(F.count("*").cast("long").alias("d"))
    return (
        n_base.crossJoin(F.broadcast(n_dup))
        .crossJoin(F.broadcast(n_bs))
        .crossJoin(F.broadcast(n_ds))
        .crossJoin(F.broadcast(matched))
        .select(
            F.col("a").alias("n_base_events"),
            F.col("b").alias("n_delivered_events"),
            F.col("c").alias("n_state_rows"),
            F.col("d").alias("n_state_rows_replayed"),
            F.col("n").alias("n_identical_rows"),
            ((F.col("c") == F.col("n")) & (F.col("d") == F.col("n"))).alias(
                "idempotent"
            ),
        )
    )


# ---------------------------------------------------------------------------
# cdc_bitemporal — BITEMPORAL as-of reads over the CDC stream: every
# image carries TWO times — transaction time (the reference's total
# event order, event.go:189-200: domain-server-sequence) and VALID
# time (when the fact takes business effect; here a deterministic
# backdate derived from the payload, the "correction recorded now,
# effective last Tuesday" shape).  A bitemporal probe (T, V) answers
# "what value was effective at business time V, as the system knew it
# at transaction time T" — the audit query every regulated CDC
# consumer (finance, insurance) runs and plain SCD2 cannot answer
# (cdc_scd2 orders by transaction time only).
#
# Shape: images ⋈ broadcast 3×3 probe grid (blowup = #probes, a
# constant), ONE keyed aggregation per (probe, pk) with a packed-
# BIGINT lexicographic argmax on (valid_from, sequence) — no window,
# no self-join.  At 100 TB the probe grid stays a broadcast and the
# agg is a single shuffle on (probe, pk); for dense probe grids you
# would pre-aggregate per (pk, valid-day) first.  Packing bounds:
# vf * 2^24 + sequence % 2^24, vf ≈ 1.7e9 so the product ≈ 2.9e16 ≪
# 2^63.  TIE-BREAK SEMANTICS (ADVICE r11): among equal-vf rows the
# argmax is by sequence MOD 2^24, not raw sequence — identical to a
# raw-sequence order while equal-vf sequences span < 2^24 (true at
# every certified corpus: ≤1e7 rows total), but at derived big-id
# scales (sf10 ids ~1e10) a wrapped lower-true-sequence row can win
# the tie.  Both engines pack the SAME key, so the export stays
# engine-identical at every scale; what changes past the span bound
# is only which member of the vf-tie is surfaced as txn_seq.
# ---------------------------------------------------------------------------

_BITEMPORAL_ORACLE = f"""
{CDC_SQL}
, images AS (
  -- backdate hash caps the id FIRST (sequence % 2^20): the derived
  -- sf10 corpus shifts ids to ~10^10 and the uncapped product with
  -- 2654435761 overflows int64 in BOTH engines (found at sf10,
  -- round 12 — the str_ivf_assign_stream cap rule, reapplied)
  SELECT pk, sequence, value,
         ts_unix - (((sequence % 1048576) * 2654435761) % 7) * 86400 AS vf
  FROM cdc WHERE dml_type IN ('insert', 'update_after')
), bounds AS (
  SELECT max(sequence) AS smax, min(vf) AS vmin, max(vf) AS vmax FROM images
), probes AS (
  SELECT CAST(t.k AS BIGINT) AS t_probe, CAST(v.j AS BIGINT) AS v_probe,
         (b.smax * t.k) // 3 AS t_cut,
         b.vmin + ((b.vmax - b.vmin) * v.j) // 3 AS v_cut
  FROM bounds b,
       (SELECT unnest([1, 2, 3]) AS k) t,
       (SELECT unnest([1, 2, 3]) AS j) v
)
SELECT p.t_probe, p.v_probe, i.pk,
       max_by(i.value, i.vf * 16777216 + i.sequence % 16777216) AS as_of_value,
       CAST(max_by(i.vf, i.vf * 16777216 + i.sequence % 16777216) AS BIGINT)
         AS valid_from,
       CAST(max_by(i.sequence, i.vf * 16777216 + i.sequence % 16777216)
            AS BIGINT) AS txn_seq
FROM images i JOIN probes p
  ON i.sequence <= p.t_cut AND i.vf <= p.v_cut
GROUP BY 1, 2, 3
"""


@register("cdc_bitemporal", _BITEMPORAL_ORACLE)
def cdc_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of probes: per (transaction-time cut, valid-time
    cut, pk) the image maximizing (valid_from, sequence mod 2^24) —
    "effective at V as known at T".  The vf tie-break is on the PACKED
    (wrapped) sequence, identical to raw sequence at every certified
    corpus; see block comment for the packing bounds and the big-id
    caveat."""
    cdc = cdc_view(spark, sf_dir)
    images = cdc.filter(F.col("dml_type").isin("insert", "update_after")).select(
        "pk",
        "sequence",
        "value",
        (
            F.col("ts_unix")
            - F.expr("((sequence % 1048576) * 2654435761) % 7") * 86400
        ).alias("vf"),
    )
    grid = spark.createDataFrame(
        [(k, j) for k in (1, 2, 3) for j in (1, 2, 3)],
        "t_probe long, v_probe long",
    )
    bounds = images.agg(
        F.max("sequence").alias("smax"),
        F.min("vf").alias("vmin"),
        F.max("vf").alias("vmax"),
    )
    probes = grid.crossJoin(F.broadcast(bounds)).select(
        "t_probe",
        "v_probe",
        F.expr("div(smax * t_probe, 3)").alias("t_cut"),
        (F.col("vmin") + F.expr("div((vmax - vmin) * v_probe, 3)")).alias(
            "v_cut"
        ),
    )
    joined = images.join(
        F.broadcast(probes),
        (F.col("sequence") <= F.col("t_cut")) & (F.col("vf") <= F.col("v_cut")),
    )
    ordk = F.col("vf") * F.lit(16777216) + F.col("sequence") % F.lit(16777216)
    return joined.groupBy("t_probe", "v_probe", "pk").agg(
        F.max_by("value", ordk).alias("as_of_value"),
        F.max_by("vf", ordk).alias("valid_from"),
        F.max_by("sequence", ordk).alias("txn_seq"),
    )


# ---------------------------------------------------------------------------
# cdc_consistent_join_at — cross-table SNAPSHOT-CONSISTENT reads: two
# logical tables fed by the same CDC stream (the reference registers
# one client per table, client_test.go:83-121; a consumer of BOTH
# must pick a common cut in the shared GTID order, event.go:189-200,
# or its join is torn).  The stream splits by sequence parity into
# "accounts" (even) and "profiles" (odd); the CONSISTENT read
# reconstructs both at one global cut S = (smax*3)//5 and joins on pk;
# the TORN read joins accounts@S against profiles@S2 (S2 = (smax*4)//5)
# — the mistake of reading each table "at latest" — and the export
# flags every pk whose torn profile state differs from the consistent
# one.  One keyed agg per table side (max_by over the unique sequence,
# the cdc_latest_state shape), broadcast scalar cuts, one pk join: at
# 100 TB this is two shuffles on pk and nothing else.
# ---------------------------------------------------------------------------

_CONSISTENT_JOIN_ORACLE = f"""
{CDC_SQL}
, images AS (
  SELECT pk, sequence, value FROM cdc
  WHERE dml_type IN ('insert', 'update_after')
), cuts AS (
  SELECT (max(sequence) * 3) // 5 AS s1, (max(sequence) * 4) // 5 AS s2
  FROM images
), acct AS (
  SELECT pk, max_by(value, sequence) AS a_value,
         CAST(max(sequence) AS BIGINT) AS a_seq
  FROM images, cuts WHERE sequence % 2 = 0 AND sequence <= s1 GROUP BY pk
), prof1 AS (
  SELECT pk, max_by(value, sequence) AS b_value,
         CAST(max(sequence) AS BIGINT) AS b_seq
  FROM images, cuts WHERE sequence % 2 = 1 AND sequence <= s1 GROUP BY pk
), prof2 AS (
  SELECT pk, CAST(max(sequence) AS BIGINT) AS b_seq_torn
  FROM images, cuts WHERE sequence % 2 = 1 AND sequence <= s2 GROUP BY pk
)
SELECT a.pk, a.a_value, a.a_seq, p1.b_value, p1.b_seq, p2.b_seq_torn,
       (p2.b_seq_torn <> p1.b_seq) AS torn_read
FROM acct a JOIN prof1 p1 ON a.pk = p1.pk JOIN prof2 p2 ON a.pk = p2.pk
"""


@register("cdc_consistent_join_at", _CONSISTENT_JOIN_ORACLE)
def cdc_consistent_join_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-consistent two-table join at a common GTID cut, plus
    the torn-read comparison (each table "at latest") flagging every
    key the tear would corrupt (see block comment)."""
    cdc = cdc_view(spark, sf_dir)
    images = cdc.filter(
        F.col("dml_type").isin("insert", "update_after")
    ).select("pk", "sequence", "value")
    cuts = images.agg(
        F.expr("div(max(sequence) * 3, 5)").alias("s1"),
        F.expr("div(max(sequence) * 4, 5)").alias("s2"),
    )
    base = images.crossJoin(F.broadcast(cuts))

    def state(parity: int, cut_col: str, prefix: str) -> DataFrame:
        return (
            base.filter(
                (F.col("sequence") % 2 == parity)
                & (F.col("sequence") <= F.col(cut_col))
            )
            .groupBy("pk")
            .agg(
                F.max_by("value", "sequence").alias(f"{prefix}_value"),
                F.max("sequence").alias(f"{prefix}_seq"),
            )
        )

    acct = state(0, "s1", "a")
    prof1 = state(1, "s1", "b")
    prof2 = state(1, "s2", "b2").select(
        "pk", F.col("b2_seq").alias("b_seq_torn")
    )
    return (
        acct.join(prof1, "pk")
        .join(prof2, "pk")
        .select(
            "pk",
            "a_value",
            "a_seq",
            "b_value",
            "b_seq",
            "b_seq_torn",
            (F.col("b_seq_torn") != F.col("b_seq")).alias("torn_read"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_read_committed_at — ATOMIC transaction visibility at a cut: the
# reference groups a transaction's row events under one GTID
# (event.go:189-200; the synthetic envelope's txn = div(sequence, 4),
# the cdc_txn_boundaries convention), and a consumer that stops at an
# arbitrary position S mid-transaction must NOT apply the prefix of
# an open transaction — read-committed visibility is "a txn's events
# are visible iff its LAST event is ≤ S" (all-or-nothing).  The op
# materializes both states at S = (smax*7)//10: the COMMITTED state
# (complete txns only) and the naive DIRTY state (every event ≤ S),
# flagging each pk the difference would corrupt — the audit that
# justifies txn-aligned checkpoints.  Shape: one txn-extent agg, two
# per-pk latest-state aggs, one pk join — all keyed shuffles.
# ---------------------------------------------------------------------------

_READ_COMMITTED_ORACLE = f"""
{CDC_SQL}
, cut AS (SELECT (max(sequence) * 7) // 10 AS s FROM cdc),
txn AS (
  SELECT pk, sequence, dml_type, value,
         CAST(sequence AS BIGINT) // 4 AS txn_id
  FROM cdc
), extent AS (
  SELECT txn_id, max(sequence) AS txn_max FROM txn GROUP BY txn_id
), committed AS (
  SELECT t.* FROM txn t JOIN extent e USING (txn_id), cut
  WHERE e.txn_max <= cut.s
), dirty AS (
  SELECT t.* FROM txn t, cut WHERE t.sequence <= cut.s
), cstate AS (
  SELECT pk, CAST(max(sequence) AS BIGINT) AS committed_seq,
         max_by(dml_type, sequence) AS c_dml,
         max_by(value, sequence) AS c_value
  FROM committed GROUP BY pk
), dstate AS (
  SELECT pk, CAST(max(sequence) AS BIGINT) AS dirty_seq FROM dirty
  GROUP BY pk
)
SELECT d.pk, c.committed_seq,
       CASE WHEN c.c_dml <> 'delete' THEN c.c_value END AS committed_value,
       d.dirty_seq,
       (c.pk IS NULL OR d.dirty_seq <> c.committed_seq) AS torn_visible
FROM dstate d LEFT JOIN cstate c ON d.pk = c.pk
"""


@register("cdc_read_committed_at", _READ_COMMITTED_ORACLE)
def cdc_read_committed_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-committed vs dirty state at a mid-transaction cut: per pk
    the committed (complete-txn-only) latest image beside the naive
    prefix state, with torn-visibility flags (see block comment)."""
    cdc = cdc_view(spark, sf_dir)
    cut = cdc.agg(F.expr("div(max(sequence) * 7, 10)").alias("s"))
    txn = cdc.select(
        "pk", "sequence", "dml_type", "value",
        F.expr("div(sequence, 4)").alias("txn_id"),
    ).crossJoin(F.broadcast(cut))
    extent = txn.groupBy("txn_id").agg(F.max("sequence").alias("txn_max"))
    committed = txn.join(extent, "txn_id").filter(
        F.col("txn_max") <= F.col("s")
    )
    cstate = committed.groupBy("pk").agg(
        F.max("sequence").alias("committed_seq"),
        F.max_by("dml_type", "sequence").alias("c_dml"),
        F.max_by("value", "sequence").alias("c_value"),
    )
    dstate = (
        txn.filter(F.col("sequence") <= F.col("s"))
        .groupBy("pk")
        .agg(F.max("sequence").alias("dirty_seq"))
    )
    return dstate.join(cstate, "pk", "left").select(
        "pk",
        "committed_seq",
        F.when(F.col("c_dml") != "delete", F.col("c_value")).alias(
            "committed_value"
        ),
        "dirty_seq",
        (
            F.col("committed_seq").isNull()
            | (F.col("dirty_seq") != F.col("committed_seq"))
        ).alias("torn_visible"),
    )


# ---------------------------------------------------------------------------
# cdc_backfill_chunk_apply — EXECUTE the chunked snapshot backfill the
# plan only formats (the plan→apply closure, cdc_replay_apply's
# discipline applied to initial-load): the 16 range predicates from
# cdc_backfill_chunk_plan drive the whole load — every event is tagged
# with its serving chunk by a broadcast range join (never 16 separate
# scans), KEY-ATOMICITY is audited exactly (no pk appears in two
# chunks — a split key would make per-chunk latest-state wrong by
# construction), coverage is audited exactly (every source pk reaches
# some chunk), and the materialized union of per-chunk latest-states
# must equal the whole-log latest state — the oracle.  Each exported
# row carries the chunk that served it: the resumability ledger (a
# crashed backfill restarts at the failed chunk's predicate, nothing
# else re-reads).
#
# Scale: ONE source scan joined to a broadcast 16-row range table;
# key-atomic chunks mean per-chunk latest-state == global
# latest-state restricted to the chunk, so the materialization
# parallelizes embarrassingly by chunk; the audits are two O(keys)
# aggregates.
# ---------------------------------------------------------------------------


@register(
    "cdc_backfill_chunk_apply",
    f"""
{CDC_SQL}
, perkey AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n FROM cdc GROUP BY pk
), cum AS (
  SELECT pk, n,
         CAST(SUM(n) OVER (ORDER BY pk
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(SUM(n) OVER () AS BIGINT) AS total
  FROM perkey
), assigned AS (
  SELECT pk, ((c - 1) * {_BACKFILL_CHUNKS}) // total + 1 AS chunk_id
  FROM cum
), ranked AS (
  SELECT pk, sequence, value, ts_unix, dml_type,
         row_number() OVER (PARTITION BY pk ORDER BY sequence DESC) AS rn
  FROM cdc
)
SELECT r.pk, r.sequence AS last_seq, r.value AS last_value,
       r.ts_unix AS last_ts_unix,
       CAST(a.chunk_id AS BIGINT) AS chunk_id,
       TRUE AS chunks_key_atomic,
       TRUE AS coverage_complete
FROM ranked r JOIN assigned a ON a.pk = r.pk
WHERE r.rn = 1 AND r.dml_type <> 'delete'
""",
)
def cdc_backfill_chunk_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the 16-chunk backfill plan: broadcast range-join tag,
    exact key-atomicity + coverage audits (real raises), per-chunk
    latest-state union == whole-log latest state (see block comment)."""
    plan = cdc_backfill_chunk_plan(spark, sf_dir).select(
        "chunk_id", "lo_pk", "hi_pk"
    )
    cdc = cdc_view(spark, sf_dir)
    tagged = cdc.join(
        F.broadcast(plan),
        (F.col("pk") >= F.col("lo_pk")) & (F.col("pk") <= F.col("hi_pk")),
    )
    # exact audits on the key table (O(keys) aggregates)
    key_chunks = tagged.select("pk", "chunk_id").distinct()
    n_split = int(
        key_chunks.groupBy("pk")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    if n_split != 0:  # a split key breaks per-chunk latest-state
        raise RuntimeError(f"{n_split} pks assigned to multiple chunks")
    n_src = int(cdc.select("pk").distinct().count())
    n_cov = int(key_chunks.count())
    if n_cov != n_src:
        raise RuntimeError(f"coverage hole: {n_cov} of {n_src} pks chunked")
    return _live_images(
        first_per(tagged, "pk", F.col("sequence").desc()),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.lit(True).alias("chunks_key_atomic"),
        F.lit(True).alias("coverage_complete"),
    )


# ---------------------------------------------------------------------------
# cdc_retention_policy_apply — CLASS-BASED RETENTION enforcement (the
# data-governance purge distinct from tombstone GC, which reclaims
# physically-dead rows): a per-class policy table — clicks 30 days,
# views 7 days, purchases/signups retained forever — is BROADCAST
# against the event log, the horizon anchored at max(ts) (the
# deterministic "now"), survivors are MATERIALIZED (the purge is a
# rewrite into the retained layout, not a filtered view someone can
# forget to apply), and the export is the conservation ledger
# (before = purged + after, per class) plus each class's oldest
# retained second — what an auditor checks against the policy.
#
# Scale: one scalar anchor read, one broadcast policy join, one
# filtered rewrite of O(survivors) — at 100 TB with day-partitioned
# layout the filter becomes partition PRUNING and the rewrite touches
# only the horizon-straddling partition (whole expired partitions
# drop by manifest).  The ledger aggregates come FROM the retained
# materialization (plus purged = before − after), so the oracle hash
# certifies the rewrite, not just the plan.
# ---------------------------------------------------------------------------

_RETENTION_DAYS = {"click": 30, "view": 7}  # absent ⇒ retain forever


@register(
    "cdc_retention_policy_apply",
    """
    WITH anchor AS (SELECT max(ts) AS now FROM events),
    pol AS (
      SELECT event_type,
             CASE event_type WHEN 'click' THEN 30 WHEN 'view' THEN 7
                  ELSE NULL END AS days
      FROM (SELECT DISTINCT event_type FROM events)
    ), marked AS (
      SELECT e.event_type,
             CAST(floor(extract(epoch FROM e.ts)) AS BIGINT) AS t,
             (p.days IS NOT NULL AND
              e.ts < (SELECT now FROM anchor) - to_days(CAST(p.days AS INTEGER)))
               AS expired
      FROM events e JOIN pol p ON e.event_type = p.event_type
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
           CAST(sum(CASE WHEN expired THEN 0 ELSE 1 END) AS BIGINT) AS n_after,
           CAST(min(CASE WHEN NOT expired THEN t END) AS BIGINT)
             AS oldest_retained_unix
    FROM marked GROUP BY event_type
    """,
)
def cdc_retention_policy_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast policy join + survivor rewrite + conservation ledger
    (see block comment)."""
    from maxscale_cdc_spark.tmputil import mkdtemp as _mkdtemp

    ev = table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts")).collect()[0][0]  # the deterministic anchor
    pol = spark.createDataFrame(
        [(k, v) for k, v in _RETENTION_DAYS.items()], "event_type string, days int"
    )
    marked = ev.join(F.broadcast(pol), "event_type", "left").select(
        "event_type",
        "ts",
        "event_id",
        "user_id",
        "value",
        (
            F.col("days").isNotNull()
            & (F.col("ts") < F.lit(now) - F.expr("make_dt_interval(days)"))
        ).alias("expired"),
    )
    out = _mkdtemp(prefix="cdc_retain_")
    marked.filter(~F.col("expired")).drop("expired").write.mode(
        "overwrite"
    ).parquet(out)
    retained = spark.read.parquet(out)
    before = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_before")
    )
    after = retained.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_after"),
        F.min(F.unix_timestamp("ts")).cast("long").alias("oldest_retained_unix"),
    )
    return before.join(after, "event_type", "left").select(
        "event_type",
        "n_before",
        (F.col("n_before") - F.coalesce("n_after", F.lit(0)))
        .cast("long")
        .alias("n_purged"),
        F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
        "oldest_retained_unix",
    )
