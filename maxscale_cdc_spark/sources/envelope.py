"""The CDC event envelope — the reference's DML event data model.

A DML change event is a JSON object with 8 fixed envelope keys plus a
dynamic row payload (reference: `event.go:188-212`, envelope key list
`event.go:220-236`).  The stream's total order is
`(domain, server_id, sequence, event_number)` (`event.go:189-200`); the
GTID string is `"{domain}-{server_id}-{sequence}"` (`event.go:216-218`).

Spark-side we keep the envelope as typed columns and the payload either
as typed columns (schema known from the registry) or as the raw JSON
string to be parsed with `from_json`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Max event size honored by the reference scanner (client.go:17).
MAX_EVENT_BYTES = 1 << 20

#: Error-line prefix (client.go:25).
ERR_PREFIX = "ERR"

#: The 8 envelope keys stripped by the reference's TableData()
#: (event.go:220-236), with their Spark types — the one envelope spec.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.IntegerType()),
        T.StructField("server_id", T.IntegerType()),
        T.StructField("sequence", T.LongType()),
        T.StructField("event_number", T.IntegerType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("table_schema", T.StringType()),
    ]
)

ENVELOPE_COLS = [f.name for f in ENVELOPE_SCHEMA.fields]

#: The spec as plain `(name, spark type)` pairs — `(("domain", "int"),
#: ...)` — for code that is pickled by value and may not import this
#: package (the `maxscale_cdc` DataSource binds it at factory time).
ENVELOPE_FIELDS = tuple(
    (f.name, f.dataType.simpleString()) for f in ENVELOPE_SCHEMA.fields
)

#: Wire type → (Spark DDL type, `pyarrow` type factory): the payload
#: types the DataSource accepts in `payloadSchema` and the ones its
#: schema discovery reads off the DDL events (event.go:58-137, reduced
#: to what the avrorouter emits), and the envelope's own Spark types.
#: Plain strings for the same reason.
#: The wire JSON renders decimals as numbers, hence `decimal` → double.
WIRE_TYPES = {
    "int": ("int", "int32"), "integer": ("int", "int32"),
    "tinyint": ("int", "int32"), "smallint": ("int", "int32"),
    "mediumint": ("int", "int32"),
    "bigint": ("bigint", "int64"), "long": ("bigint", "int64"),
    "double": ("double", "float64"), "double precision": ("double", "float64"),
    "decimal": ("double", "float64"),
    "float": ("float", "float32"), "real": ("float", "float32"),
    "string": ("string", "string"), "varchar": ("string", "string"),
    "char": ("string", "string"), "text": ("string", "string"),
    "bytes": ("string", "string"),
    "boolean": ("boolean", "bool_"), "bool": ("boolean", "bool_"),
}


def envelope_schema_with_payload(payload: T.StructType) -> T.StructType:
    """Envelope + typed payload columns (payload from the schema registry)."""
    return T.StructType(list(ENVELOPE_SCHEMA.fields) + list(payload.fields))


def gtid_col(
    domain: str | Column = "domain",
    server_id: str | Column = "server_id",
    sequence: str | Column = "sequence",
) -> Column:
    """GTID string synthesis — `"%d-%d-%d"` (event.go:216-218).

    Uses concat (not concat_ws): concat_ws silently skips NULL
    components, so a null sequence would yield a malformed "0-3000"
    that then misparses in resume compares.  With concat, any null
    component propagates to a NULL GTID."""
    d = F.col(domain) if isinstance(domain, str) else domain
    s = F.col(server_id) if isinstance(server_id, str) else server_id
    q = F.col(sequence) if isinstance(sequence, str) else sequence
    return F.concat(
        d.cast("string"), F.lit("-"), s.cast("string"), F.lit("-"), q.cast("string")
    )


def is_dml_line(raw: Column) -> Column:
    """Event dispatch rule — a line is DML iff it starts with
    `{"domain":` (client.go:410-412)."""
    return raw.startswith('{"domain":')


def is_error_line(raw: Column) -> Column:
    """Error detection — response line starts with "ERR" (client.go:406-408)."""
    return raw.startswith(ERR_PREFIX)
