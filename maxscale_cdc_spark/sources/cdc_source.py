"""CDC stream source: reference-wire-format JSON lines → typed DataFrames.

The reference's stream is newline-delimited JSON from a socket: DDL
(schema) events interleaved with DML (change) events, plus possible
``ERR`` lines before the schema arrives (client.go:253-287).  This
module provides the Spark realization:

* a **simulator/writer** that renders events in the reference wire
  format (for tests and streaming fixtures — stands in for the MaxScale
  avrorouter listener),
* a **line decoder** that applies the reference pipeline declaratively:
  1 MiB size guard (client.go:17), ERR dead-lettering (client.go:406-408),
  DML/DDL dispatch (client.go:410-412), envelope + payload parse via
  ``from_json`` (client.go:306-314), and
* batch (`read_cdc_lines`) and streaming (`read_cdc_stream`) entry
  points — the ``RequestData`` analogue (client.go:144-162), with
  ``start_gtid`` as the resume position (client.go:122-126).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maxscale_cdc_spark.sources.envelope import (
    ENVELOPE_SCHEMA,
    MAX_EVENT_BYTES,
    envelope_schema_with_payload,
    is_dml_line,
    is_error_line,
)
from maxscale_cdc_spark.sources.schema_registry import SchemaRegistry, TableSchema


# ---------------------------------------------------------------------------
# Protocol handshake helpers (socket-transport layer).
# ---------------------------------------------------------------------------

def format_authentication_command(user: str, password: str) -> bytes:
    """``hex(user + ":" + sha1(password))`` — the CDC protocol auth
    message (client.go:324-347).  Pure function so the socket transport
    and tests share it; Spark's own `sha1`/`hex` expressions reproduce
    it for parity checks."""
    import hashlib

    digest = hashlib.sha1(password.encode("utf-8")).digest()
    return (user.encode("utf-8") + b":" + digest).hex().encode("ascii")


def format_register_command(uuid: str, data_format: str = "JSON") -> bytes:
    """``REGISTER UUID=<uuid>, TYPE=<JSON|AVRO>``.  The reference
    always selects JSON (client.go:211-216) because the avrorouter's
    NATIVE rendering is Avro — TYPE=AVRO asks for the router's default
    stream (the public CDC protocol's other arm)."""
    if data_format not in ("JSON", "AVRO"):
        raise ValueError(f"unsupported TYPE {data_format!r}")
    return f"REGISTER UUID={uuid}, TYPE={data_format}".encode("ascii")


def format_request_data_command(
    database: str, table: str, version: str | None = None, gtid: str | None = None
) -> bytes:
    """``REQUEST-DATA db.table[.version] [gtid]`` (client.go:349-369)."""
    if not database or not table:
        raise ValueError("database and table are required")
    cmd = f"REQUEST-DATA {database}.{table}"
    if version:
        cmd += f".{version}"
    if gtid:
        cmd += f" {gtid}"
    return cmd.encode("ascii")


class TransportOptions:
    """Connection options for the socket transport — dial/read/write
    timeouts are three INDEPENDENT fields (the reference's option
    setters have a bug where WithDialTimeout and WithWriteTimeout both
    write readTimeout, client.go:49-53, 63-67 — deliberately NOT
    reproduced; see SURVEY §4)."""

    DEFAULT_TIMEOUT_S = 5.0  # client.go:31-35

    def __init__(
        self,
        dial_timeout_s: float | None = None,
        read_timeout_s: float | None = None,
        write_timeout_s: float | None = None,
    ) -> None:
        self.dial_timeout_s = (
            self.DEFAULT_TIMEOUT_S if dial_timeout_s is None else float(dial_timeout_s)
        )
        self.read_timeout_s = (
            self.DEFAULT_TIMEOUT_S if read_timeout_s is None else float(read_timeout_s)
        )
        self.write_timeout_s = (
            self.DEFAULT_TIMEOUT_S if write_timeout_s is None else float(write_timeout_s)
        )


# ---------------------------------------------------------------------------
# Simulator (writer side) — renders the reference wire format.
# ---------------------------------------------------------------------------

def render_ddl_line(
    database: str,
    table: str,
    version: int,
    gtid: str,
    payload_fields: list[tuple[str, str]],
) -> str:
    """Render a DDL schema event as the avrorouter would (FIXTURES.md A.1).

    ``payload_fields`` is [(name, mariadb_type)].  Envelope fields are
    emitted first, matching the reference golden value
    (client_test.go:82-134).
    """
    fields: list[dict] = [
        {"name": "domain", "type": "int"},
        {"name": "server_id", "type": "int"},
        {"name": "sequence", "type": "int"},
        {"name": "event_number", "type": "int"},
        {"name": "timestamp", "type": "int"},
        {
            "name": "event_type",
            "type": {
                "type": "enum",
                "name": "EVENT_TYPES",
                "symbols": ["insert", "update_before", "update_after", "delete"],
            },
        },
    ]
    for name, mtype in payload_fields:
        fields.append(
            {"name": name, "type": ["null", mtype], "real_type": mtype, "length": -1}
        )
    return json.dumps(
        {
            "namespace": "MaxScaleChangeDataSchema.avro",
            "type": "record",
            "name": "ChangeRecord",
            "table": table,
            "database": database,
            "version": version,
            "gtid": gtid,
            "fields": fields,
        },
        separators=(", ", ": "),
    )


def render_dml_line(
    database: str,
    table: str,
    domain: int,
    server_id: int,
    sequence: int,
    event_number: int,
    timestamp: int,
    event_type: str,
    payload: dict,
) -> str:
    """Render a DML change event line (FIXTURES.md A.2; event.go:188-212).

    Key order starts with ``"domain"`` so the dispatch rule
    (client.go:410-412) classifies it as DML.
    """
    obj = {
        "domain": domain,
        "server_id": server_id,
        "sequence": sequence,
        "event_number": event_number,
        "timestamp": timestamp,
        "event_type": event_type,
        "table_name": table,
        "table_schema": database,
    }
    obj.update(payload)
    return json.dumps(obj, separators=(", ", ": "))


def write_stream_files(lines: list[str], out_dir: str, files: int = 1) -> list[str]:
    """Write event lines into N text files (a file-based stand-in for the
    socket; each file ≙ one burst the streaming source picks up)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = max(1, (len(lines) + files - 1) // files)
    for i in range(0, len(lines), per):
        p = os.path.join(out_dir, f"events-{i // per:05d}.jsonl")
        with open(p, "w") as f:
            f.write("\n".join(lines[i : i + per]) + "\n")
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# Decoder (reader side) — the handleEvents pipeline, declaratively.
# ---------------------------------------------------------------------------

def classify_lines(raw_df: DataFrame, raw_col: str = "value") -> DataFrame:
    """Tag each raw line: 'dml' | 'ddl' | 'err' | 'oversize'.

    Mirrors the scan loop (client.go:253-287): the 1 MiB token cap,
    ERR tolerance (client.go:261-267), and the DML-iff-prefix dispatch
    (client.go:410-412).  Pure narrow ops — no shuffle.
    """
    raw = F.col(raw_col)
    return raw_df.withColumn(
        "event_class",
        F.when(F.octet_length(raw) > MAX_EVENT_BYTES, F.lit("oversize"))
        .when(is_error_line(raw), F.lit("err"))
        .when(is_dml_line(raw), F.lit("dml"))
        .otherwise(F.lit("ddl")),
    )


def parse_dml(
    lines: DataFrame,
    payload_schema: T.StructType | None = None,
    raw_col: str = "value",
) -> DataFrame:
    """Parse DML lines: envelope columns + typed payload + retained raw.

    The reference decodes the envelope and keeps a raw copy for the
    consumer (client.go:306-314, event.go:210-211); payload extraction
    strips the 8 envelope keys (event.go:220-236).  Here the payload is
    parsed with `from_json` using the registry schema when known, else
    kept as raw JSON.
    """
    schema = ENVELOPE_SCHEMA
    if payload_schema is not None:
        schema = envelope_schema_with_payload(payload_schema)
    parsed = lines.withColumn("_e", F.from_json(F.col(raw_col), schema))
    cols = [F.col(f"_e.{f.name}").alias(f.name) for f in schema.fields]
    return parsed.select(*cols, F.col(raw_col).alias("raw"))


def resume_filter(df: DataFrame, start_gtid: str | None) -> DataFrame:
    """Resume-from-GTID: keep events at/after the requested position
    (client.go:122-126; behavior verified by client_test.go:169-266).

    GTID order is the lexicographic order of the (domain, server_id,
    sequence) struct — Catalyst compares structs field-by-field, so no
    custom comparator is needed and the predicate is codegen-friendly.
    """
    if not start_gtid:
        return df
    d, s, q = (int(x) for x in start_gtid.split("-"))
    pos = F.struct(
        F.col("domain").cast("int"),
        F.col("server_id").cast("int"),
        F.col("sequence").cast("long"),
    )
    start = F.struct(
        F.lit(d).cast("int"), F.lit(s).cast("int"), F.lit(q).cast("long")
    )
    return df.filter(pos >= start)


#: Sanity cap on the DDL collect below.  DDL events are rare by nature
#: (one per ALTER), so the collect is bounded — but a mis-tagged input
#: (e.g. a DML spool whose lines fail the prefix dispatch) would
#: silently pull the whole stream through the driver.  Fail loudly
#: instead: no real schema history approaches 10k versions.
DDL_COLLECT_CAP = 10_000


def collect_schemas(lines_df: DataFrame, raw_col: str = "value") -> SchemaRegistry:
    """Feed every DDL line into a SchemaRegistry (client.go:316-322).

    DDL events are rare (one per ALTER), so collecting them to the
    driver is correct at any scale — the DML firehose never leaves the
    executors.  The `limit(cap + 1)` bounds the transfer BEFORE the
    collect; exceeding the cap means the input is not a CDC spool.
    """
    classified = classify_lines(lines_df, raw_col)
    ddl_rows = (
        classified.filter(F.col("event_class") == "ddl")
        .select(raw_col)
        .limit(DDL_COLLECT_CAP + 1)
        .collect()
    )
    if len(ddl_rows) > DDL_COLLECT_CAP:
        raise RuntimeError(
            f"collect_schemas: >{DDL_COLLECT_CAP} DDL lines — the input "
            "is not a CDC spool (mis-classified DML would flood the driver)"
        )
    reg = SchemaRegistry()
    for row in ddl_rows:
        reg.register(row[0])
    return reg


def read_cdc_lines(
    spark: SparkSession,
    path: str,
    database: str,
    table: str,
    version: int | None = None,
    start_gtid: str | None = None,
    registry: SchemaRegistry | None = None,
) -> tuple[DataFrame, TableSchema]:
    """Batch `RequestData` analogue (client.go:144-162).

    Reads the line files, registers DDL schemas, parses DML for the
    requested (database, table[, version]) and applies the resume
    position.  Returns (typed DML DataFrame, table schema).
    """
    raw = spark.read.text(path)
    reg = registry or collect_schemas(raw)
    ts = reg.get(database, table, version)
    dml = classify_lines(raw).filter(F.col("event_class") == "dml")
    parsed = parse_dml(dml, ts.payload_struct())
    parsed = parsed.filter(
        (F.col("table_schema") == database) & (F.col("table_name") == table)
    )
    return resume_filter(parsed, start_gtid), ts


def read_cdc_stream(
    spark: SparkSession,
    path: str,
    schema: TableSchema,
    start_gtid: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming `RequestData` analogue: file-based Structured Streaming
    source over the wire-format lines.

    Schema must be pre-registered (the reference likewise needs the DDL
    event before DML decode).  `max_files_per_trigger` is the
    backpressure bound — the cap-1 channel analogue (client.go:220).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    dml = classify_lines(raw).filter(F.col("event_class") == "dml")
    parsed = parse_dml(dml, schema.payload_struct())
    parsed = parsed.filter(
        (F.col("table_schema") == schema.database)
        & (F.col("table_name") == schema.table)
    )
    return resume_filter(parsed, start_gtid)


def dead_letters(spark: SparkSession, path: str) -> DataFrame:
    """ERR/oversize side-output (client.go:261-267 tolerated errors)."""
    raw = spark.read.text(path)
    return classify_lines(raw).filter(F.col("event_class").isin("err", "oversize"))
