"""The CDC wire lanes' shared codecs on ≤10-row inputs — the Avro and
protobuf mapInPandas encoders/decoders, the atomic burst landing and
its numbering — and a source scan that pins one definition of each so
per-query copies cannot grow back."""

from __future__ import annotations

import os

import pandas as pd
from pyspark import TaskContext

from maxscale_cdc_spark.sources import avro_ocf, proto_wire
from maxscale_cdc_spark.sources.transport import next_burst
from maxscale_cdc_spark.tmputil import land_atomic
from tests.test_kernels import _sites


class _Ctx:
    def __init__(self, pid: int) -> None:
        self.pid = pid

    def partitionId(self) -> int:
        return self.pid


def _run_encoder(monkeypatch, encode, pid: int, pdf: pd.DataFrame) -> int:
    monkeypatch.setattr(TaskContext, "get", staticmethod(lambda: _Ctx(pid)))
    (out,) = list(encode(iter([pdf])))
    return int(out["n"][0])


def _listing(d: str) -> pd.DataFrame:
    names = sorted(os.listdir(d))
    return pd.DataFrame(
        {
            "path": [os.path.join(d, f) for f in names],
            "content": [open(os.path.join(d, f), "rb").read() for f in names],
        }
    )


def _envelope(n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "sequence": list(range(1, n + 1)),
            "dml_type": [("insert", "update_after", "delete")[i % 3] for i in range(n)],
            "pk": [i * 5 for i in range(n)],
            "value_cents": [-i * 101 for i in range(n)],
            "ts_unix": [1_704_067_200 + i for i in range(n)],
            "note": [None if i % 3 else str(i % 7) for i in range(n)],
        }
    )


def test_avro_kernels_round_trip_both_codecs_and_v2(tmp_path, monkeypatch):
    out = str(tmp_path)
    env = _envelope(6)
    enc = avro_ocf.encoder(out, "t:", "part-{gen}-{pid:05d}.avro")
    assert _run_encoder(monkeypatch, enc, 0, env) == 6
    evo = env.assign(v2=True, extra=[i % 7 for i in range(6)])
    assert _run_encoder(monkeypatch, enc, 1, evo) == 6
    assert sorted(os.listdir(out)) == ["part-v1-00000.avro", "part-v2-00001.avro"]

    v1 = open(os.path.join(out, "part-v1-00000.avro"), "rb").read()
    v2 = open(os.path.join(out, "part-v2-00001.avro"), "rb").read()
    assert b"deflate" not in v1 and b"deflate" in v2  # odd pid deflates
    schema, _ = avro_ocf.read_ocf(v2)
    assert schema == avro_ocf.CDC_AVRO_SCHEMA_V2

    got = pd.concat(list(avro_ocf.decoder(with_path=True)(iter([_listing(out)]))))
    assert list(got.columns[:2]) == ["src_path", "sequence"]
    assert got["src_path"].str.endswith(".avro").all()
    want = env.to_dict("records")
    rows = got.drop(columns=["src_path"]).to_dict("records")
    first = [{k: r[k] for k in env.columns} for r in rows[:6]]
    assert first == want  # null `note` survives the union branch
    assert [r["extra"] for r in rows[6:]] == [i % 7 for i in range(6)]
    # without the path: exactly the CDC_AVRO_DDL columns
    (plain,) = list(avro_ocf.decoder()(iter([_listing(out)[["content"]].iloc[:1]])))
    assert list(plain.columns) == [
        c.split()[0] for c in avro_ocf.CDC_AVRO_DDL.split(", ")
    ]


def test_proto_kernels_round_trip_unknown_field_packed_tags_absent_note(
    tmp_path, monkeypatch
):
    out = str(tmp_path)
    env = _envelope(5).assign(drift=[-3, -1, 0, 2, 3])
    enc = proto_wire.encoder(out, "part-{pid:05d}.pb", unknown_on_odd=True)
    assert _run_encoder(monkeypatch, enc, 0, env) == 5
    assert _run_encoder(monkeypatch, enc, 1, env) == 5
    blobs = {
        f: proto_wire.read_delimited(open(os.path.join(out, f), "rb").read())
        for f in os.listdir(out)
    }
    # the odd partition appends field 15 (a newer producer), which the
    # decode skips: same record, longer message
    for even, odd in zip(blobs["part-00000.pb"], blobs["part-00001.pb"]):
        assert bytes(odd).startswith(bytes(even)) and len(odd) > len(even)
        assert proto_wire.decode_message(odd) == proto_wire.decode_message(even)

    got = pd.concat(list(proto_wire.decoder()(iter([_listing(out)]))))
    assert list(got.columns) == list(proto_wire.CDC_PROTO_COLS)
    for half in (got.iloc[:5], got.iloc[5:]):
        assert half["drift"].tolist() == [-3, -1, 0, 2, 3]  # zigzag sint64
        assert half["tags"].tolist() == [[p % 3, p % 5] for p in env["pk"]]
        assert half["note"].tolist() == env["note"].tolist()  # absent → None

    cols = ("sequence", "ts_unix")
    (one,) = list(
        proto_wire.decoder(cols, with_path=True)(iter([_listing(out).iloc[:1]]))
    )
    assert list(one.columns) == ["src_path", *cols]
    assert proto_wire.proto_ddl(cols, True) == (
        "src_path string, sequence long, ts_unix long"
    )


def test_proto_encoder_v1_generation_omits_tags(tmp_path, monkeypatch):
    out = str(tmp_path)
    env = _envelope(3).assign(drift=[0, 1, 2], v2=False)
    enc = proto_wire.encoder(out, "part-{gen}-{pid:05d}.pb", unknown_on_odd=False)
    _run_encoder(monkeypatch, enc, 1, env)
    (name,) = os.listdir(out)
    assert name == "part-v1-00001.pb"
    msgs = proto_wire.read_delimited(open(os.path.join(out, name), "rb").read())
    assert all("tags" not in proto_wire.decode_message(m) for m in msgs)
    # no unknown field either: the message re-encodes byte for byte
    for m in msgs:
        assert proto_wire.encode_message(proto_wire.decode_message(m)) == m


def test_land_atomic_and_burst_numbering_resume(tmp_path):
    d = str(tmp_path)
    assert next_burst(d, "jsonl") == 0
    land_atomic(d, "burst-000000004.jsonl", b"a\n")
    land_atomic(d, "burst-000000002.avro", b"Obj\x01")
    os.makedirs(os.path.join(d, "burst-000000009.txt"))  # other extension
    assert next_burst(d, "jsonl") == 5
    assert next_burst(d, "avro") == 3
    land_atomic(d, f"burst-{next_burst(d, 'jsonl'):09d}.jsonl", b"b\n")
    assert open(os.path.join(d, "burst-000000005.jsonl"), "rb").read() == b"b\n"
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]


# ---------------------------------------------------------------------------
# source scan: one definition per codec
# ---------------------------------------------------------------------------

# Sites that keep a hand-written form, with the reason.  A new entry needs
# the same justification: its plan or its shape differs from the kernel's.
_INLINE_DECODE = {
    ("operators/sources.py", "src_avro_schema_evolution"): (
        "tags each row with its file's schema generation and null-fills "
        "`extra`: the kernel decodes one record shape"
    ),
    ("operators/sources.py", "src_protobuf_schema_evolution"): (
        "tags each row's generation from the presence of `tags`: the "
        "kernel decodes columns, not generations"
    ),
}
_INLINE_SERVER = {
    ("operators/sources.py", "src_tcp_multi"): (
        "runs two transports concurrently against one server"
    ),
}


def test_container_reads_only_in_decode_kernels():
    sites = _sites(r"(?<!def )\bread_ocf\(")
    sites.update(_sites(r"(?<!def )\bread_delimited\("))
    assert sites.pop(("sources/avro_ocf.py", "decoder")) == 1
    assert sites.pop(("sources/proto_wire.py", "decoder")) == 1
    assert set(sites) == set(_INLINE_DECODE)


def test_container_writes_only_in_encode_kernels():
    sites = _sites(r"(?<!def )\bwrite_ocf\(")
    sites.update(_sites(r"(?<!def )\bwrite_delimited\("))
    assert sites == {
        ("sources/avro_ocf.py", "encoder"): 1,
        ("sources/proto_wire.py", "encoder"): 1,
    }


def test_private_zigzag_is_gone():
    assert _sites(r"def _zz\b") == {}


def test_burst_numbering_written_once():
    assert _sites(r"burst-\(\\d\{") == {("sources/transport.py", "next_burst"): 1}


def test_json_wire_render_written_once():
    assert _sites(r'F\.to_json\(\s*F\.struct\(\s*F\.col\("domain"\)') == {
        ("operators/sources.py", "_wire_line"): 1
    }


def test_fake_server_only_in_serve_and_drain():
    sites = _sites(r"\bFakeMaxScaleServer\(")
    assert sites.pop(("sources/transport.py", "serve_and_drain")) == 1
    assert set(sites) == set(_INLINE_SERVER)


def test_envelope_key_list_spelled_once():
    """The 8 envelope keys are listed only in envelope.ENVELOPE_SCHEMA;
    the DataSource binds its copies from it at factory time."""
    listed = _sites(r'"domain",\s*"server_id",\s*"sequence",\s*"event_number"')
    assert [site for site in listed if site[0].startswith("sources/")] == []
    assert _sites(r'pa\.field\("domain"') == {}
    spec = {("sources/envelope.py", "<module>"): 1}
    assert _sites(r'StructField\("server_id"') == spec


def test_datasource_reads_plain_dict_options_by_lower_case_key(tmp_path):
    """Spark passes a case-insensitive dict; a direct caller's plain
    camelCase dict is lower-cased once at the DataSource boundary."""
    from maxscale_cdc_spark.sources.cdc_datasource import (
        SOURCE_SCHEMA,
        build_cdc_datasource,
    )
    from maxscale_cdc_spark.sources.cdc_source import (
        render_ddl_line,
        render_dml_line,
        write_stream_files,
    )

    d = str(tmp_path / "spool")
    write_stream_files(
        [
            render_ddl_line("db", "t", 1, "0-1-1", [("k", "bigint"), ("n", "tinyint")]),
            render_dml_line("db", "t", 0, 1, 2, 1, 1, "insert", {"k": 7, "n": 3}),
        ],
        d,
    )
    cls = build_cdc_datasource()
    ds = cls({"path": d, "table": "t", "schemaFromSpool": "true"})
    assert ds.schema() == SOURCE_SCHEMA.replace(", payload STRING", ", k bigint, n int")
    reader = ds.streamReader(None)
    (part,) = reader.partitions(reader.initialOffset(), reader.latestOffset())
    (batch,) = list(reader.read(part))
    assert batch.to_pylist()[0]["k"] == 7 and batch.schema.field("n").type == "int32"
    assert cls({"path": d}).schema() == SOURCE_SCHEMA
