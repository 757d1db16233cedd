"""Minimal pure-Python protobuf WIRE-FORMAT codec for the CDC envelope.

The reference's wire format is length-prefixed JSON (client.go:211-216
selects TYPE=JSON on REGISTER; readSchema client.go:254-271), but the
ecosystems a 100 TB CDC deployment feeds from (Kafka buses, Debezium)
commonly carry change events as protobuf messages.  The environment
ships no protobuf runtime or spark-protobuf module, so — exactly like
sources/avro_ocf.py for Avro — this is a from-spec implementation of
the PUBLIC protobuf encoding (varint, zigzag sint64, length-delimited
strings, packed repeated varints, unknown-field skipping), covering
the CDC envelope's type space only.

File framing is the standard delimited stream: each message is
preceded by a uvarint byte length (the `writeDelimitedTo` convention).

Spark integration (operators/sources.py::src_protobuf_events): ENCODE
runs distributed (mapInPandas over a repartitioned envelope, one .pb
file per partition), DECODE is a binaryFile scan → mapInPandas with
this module doing the byte work per Arrow batch.  Swapping in the real
spark-protobuf module later replaces one select and nothing else.
"""

from __future__ import annotations

_MASK64 = (1 << 64) - 1

# The CDC envelope message, schema-driven: field number → (name, kind).
# Kinds: int64 (non-negative varint), sint64 (zigzag varint), string
# (length-delimited UTF-8; None ⇒ field absent, proto3 optional),
# packed_int64 (length-delimited packed varints).
CDC_PROTO_FIELDS: dict[int, tuple[str, str]] = {
    1: ("sequence", "int64"),
    2: ("dml_type", "string"),
    3: ("pk", "int64"),
    4: ("value_cents", "int64"),
    5: ("drift", "sint64"),
    6: ("ts_unix", "int64"),
    7: ("note", "string"),
    8: ("tags", "packed_int64"),
}


def uvarint(n: int) -> bytes:
    """Base-128 varint of a non-negative integer."""
    if n < 0:
        raise ValueError("uvarint requires non-negative input")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def zigzag_encode(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & _MASK64


def zigzag_decode(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _sign_extend64(v: int) -> int:
    """Interpret a decoded varint as two's-complement int64 (the spec's
    int64 semantics: negatives arrive as 10-byte varints ≥ 2^63)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _tag(field_no: int, wire_type: int) -> bytes:
    return uvarint((field_no << 3) | wire_type)


def encode_message(
    rec: dict, fields: dict[int, tuple[str, str]] = CDC_PROTO_FIELDS
) -> bytes:
    """Encode one record dict to protobuf wire bytes (fields in field-
    number order; proto3 semantics — absent/None fields are omitted)."""
    out = bytearray()
    for fno in sorted(fields):
        name, kind = fields[fno]
        v = rec.get(name)
        if v is None:
            continue
        if kind == "int64":
            # Spec semantics: negative int64 goes out as the 10-byte
            # two's-complement varint (value & 2^64-1), sign-extended
            # back on decode — NOT a ValueError (a negative
            # value_cents at an unchecked scale must round-trip, not
            # crash the spool).
            out += _tag(fno, 0) + uvarint(int(v) & _MASK64)
        elif kind == "sint64":
            out += _tag(fno, 0) + uvarint(zigzag_encode(int(v)))
        elif kind == "string":
            raw = str(v).encode("utf-8")
            out += _tag(fno, 2) + uvarint(len(raw)) + raw
        elif kind == "packed_int64":
            body = b"".join(uvarint(int(x) & _MASK64) for x in v)
            out += _tag(fno, 2) + uvarint(len(body)) + body
        else:  # pragma: no cover — spec bug
            raise ValueError(f"unknown kind {kind}")
    return bytes(out)


def append_unknown_varint(msg: bytes, field_no: int, value: int) -> bytes:
    """Append a field the reader's spec does NOT list — the
    forward-compatibility probe (new producers, old consumers)."""
    return msg + _tag(field_no, 0) + uvarint(value)


def decode_message(
    buf: bytes, fields: dict[int, tuple[str, str]] = CDC_PROTO_FIELDS
) -> dict:
    """Decode one message; unknown fields are SKIPPED per the spec
    (wire types 0 and 2 — the only ones this codec emits)."""
    rec: dict = {}
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = read_uvarint(buf, pos)
        fno, wt = key >> 3, key & 0x07
        spec = fields.get(fno)
        if wt == 0:
            val, pos = read_uvarint(buf, pos)
            if spec is None:
                continue  # unknown varint: skipped
            name, kind = spec
            rec[name] = (
                zigzag_decode(val) if kind == "sint64" else _sign_extend64(val)
            )
        elif wt == 2:
            ln, pos = read_uvarint(buf, pos)
            body = buf[pos : pos + ln]
            pos += ln
            if spec is None:
                continue  # unknown length-delimited: skipped
            name, kind = spec
            if kind == "string":
                rec[name] = body.decode("utf-8")
            elif kind == "packed_int64":
                vals = []
                p = 0
                while p < len(body):
                    v, p = read_uvarint(body, p)
                    vals.append(_sign_extend64(v))
                rec[name] = vals
            else:
                raise ValueError(f"field {fno}: wire type 2 for {kind}")
        else:
            raise ValueError(f"unsupported wire type {wt}")
    return rec


def write_delimited(messages: list[bytes]) -> bytes:
    """Length-prefix each message (uvarint) — the delimited-stream file
    framing."""
    out = bytearray()
    for m in messages:
        out += uvarint(len(m)) + m
    return bytes(out)


def read_delimited(blob: bytes) -> list[bytes]:
    msgs = []
    pos = 0
    n = len(blob)
    while pos < n:
        ln, pos = read_uvarint(blob, pos)
        msgs.append(blob[pos : pos + ln])
        pos += ln
    return msgs


#: The decoded columns in field-number order, and their Spark types.
CDC_PROTO_COLS = tuple(name for _, (name, _) in sorted(CDC_PROTO_FIELDS.items()))
_DDL_OF_KIND = {
    "int64": "long",
    "sint64": "long",
    "string": "string",
    "packed_int64": "array<long>",
}


def proto_ddl(cols=CDC_PROTO_COLS, with_path: bool = False) -> str:
    """The Spark schema of `decoder(cols, with_path)`'s output."""
    kinds = {name: kind for name, kind in CDC_PROTO_FIELDS.values()}
    return ", ".join(
        (["src_path string"] if with_path else [])
        + [f"{c} {_DDL_OF_KIND[kinds[c]]}" for c in cols]
    )


# ---------------------------------------------------------------------------
# mapInPandas kernels — the protobuf lane's one encoder and one decoder.
# The returned functions keep the names `encode` / `decode`: MapInPandas
# prints the function name in the plan.
# ---------------------------------------------------------------------------


def encoder(out: str, name: str, unknown_on_odd: bool):
    """mapInPandas kernel writing ONE delimited-stream file per
    partition to `out` (atomically) and yielding its message count as
    `n long`.

    Input columns: `sequence, dml_type, pk, value_cents, drift, ts_unix,
    note`; `tags` is `[pk % 3, pk % 5]`.  An optional `v2` flag marks
    the producer generation: v1 rows carry no `tags` (the field a
    newer spec added).  With `unknown_on_odd`, odd partitions append
    field 15, which the spec lacks (a newer producer).  The file name
    is `name` formatted with `pid` and `gen` ("v1"/"v2")."""

    def encode(batches):
        import pandas as pd
        from pyspark import TaskContext

        from maxscale_cdc_spark.tmputil import land_atomic

        msgs: list[bytes] = []
        pid = TaskContext.get().partitionId()
        is_v2 = False
        for pdf in batches:
            evo = "v2" in pdf.columns
            for seq, dml, pk, vc, dr, ts, note, v2 in zip(
                pdf["sequence"], pdf["dml_type"], pdf["pk"],
                pdf["value_cents"], pdf["drift"], pdf["ts_unix"],
                pdf["note"], pdf["v2"] if evo else [True] * len(pdf),
            ):
                is_v2 = bool(v2)
                m = encode_message(
                    {
                        "sequence": int(seq),
                        "dml_type": str(dml),
                        "pk": int(pk),
                        "value_cents": int(vc),
                        "drift": int(dr),
                        "ts_unix": int(ts),
                        "note": None
                        if note is None or pd.isna(note)
                        else str(note),
                        "tags": [int(pk) % 3, int(pk) % 5] if is_v2 else None,
                    }
                )
                if unknown_on_odd and pid % 2:
                    m = append_unknown_varint(m, 15, int(seq) % 1000)
                msgs.append(m)
        if msgs:
            land_atomic(
                out,
                name.format(pid=pid, gen="v2" if is_v2 else "v1"),
                write_delimited(msgs),
            )
        yield pd.DataFrame({"n": [len(msgs)]})

    return encode


def decoder(cols=CDC_PROTO_COLS, with_path: bool = False):
    """mapInPandas kernel over a binaryFile scan (`content`, plus `path`
    first when `with_path`): every message decodes with the newest spec
    into the `cols` columns (absent fields → null), preceded by
    `src_path` when `with_path` — the schema `proto_ddl(cols,
    with_path)`."""

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            paths = pdf["path"] if with_path else [None] * len(pdf)
            for path, content in zip(paths, pdf["content"]):
                recs = [decode_message(m) for m in read_delimited(bytes(content))]
                if recs:
                    out = {"src_path": [str(path)] * len(recs)} if with_path else {}
                    for c in cols:
                        out[c] = [r.get(c) for r in recs]
                    yield pd.DataFrame(out)

    return decode
