"""Seeded inputs for the benchmark workloads.

Everything the package sees is made here from the run's seed: the CDC
change stream in the MaxScale wire format (one DDL line, then DML
lines) and the relational tables of the light-query mix.  The same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import random

DATABASE = "bench"
TABLE = "kv"
SERVER_ID = 3000
TS0 = 1_700_000_000

_ENVELOPE = [
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


def ddl_line() -> bytes:
    """The table's schema event, as the avrorouter sends it first."""
    return json.dumps(
        {
            "namespace": "MaxScaleChangeDataSchema.avro",
            "type": "record",
            "name": "ChangeRecord",
            "table": TABLE,
            "database": DATABASE,
            "version": 1,
            "gtid": f"0-{SERVER_ID}-0",
            "fields": _ENVELOPE
            + [
                {"name": "pk", "type": ["null", "long"], "real_type": "bigint", "length": -1},
                {"name": "value", "type": ["null", "double"], "real_type": "double", "length": -1},
            ],
        }
    ).encode()


class ChangeLog:
    """DML lines over a fixed key space, and the state they leave.

    A transaction picks a key uniformly.  A live key is updated (an
    update_before/update_after pair sharing one GTID) or, one time in
    five, deleted; a dead key is inserted.  `expected` is the served
    state the sink must end with: per live pk, its last sequence and
    value.
    """

    def __init__(self, n_keys: int, seed: int) -> None:
        self.n_keys = n_keys
        self.rng = random.Random(seed)
        self.seq = 0
        self.value: dict[int, int] = {}  # live pk -> value in cents
        self.expected: dict[int, tuple[int, float]] = {}

    def _line(self, evno: int, etype: str, pk: int, cents: int) -> bytes:
        return (
            f'{{"domain": 0, "server_id": {SERVER_ID}, "sequence": {self.seq}, '
            f'"event_number": {evno}, "timestamp": {TS0 + self.seq // 64}, '
            f'"event_type": "{etype}", "table_name": "{TABLE}", '
            f'"table_schema": "{DATABASE}", "pk": {pk}, "value": {cents / 100!r}}}'
        ).encode()

    def _cents(self) -> int:
        return self.rng.randrange(0, 1_000_000)

    def bootstrap(self) -> list[bytes]:
        """One insert per key, so every key exists."""
        out = []
        for pk in range(self.n_keys):
            out.extend(self._insert(pk))
        return out

    def _insert(self, pk: int) -> list[bytes]:
        self.seq += 1
        c = self._cents()
        self.value[pk] = c
        self.expected[pk] = (self.seq, c / 100)
        return [self._line(1, "insert", pk, c)]

    def events(self, n_lines: int) -> list[bytes]:
        """At least `n_lines` DML lines (an update pair may add one)."""
        out: list[bytes] = []
        rng = self.rng
        while len(out) < n_lines:
            pk = rng.randrange(self.n_keys)
            old = self.value.get(pk)
            if old is None:
                out.extend(self._insert(pk))
                continue
            self.seq += 1
            if rng.random() < 0.2:
                del self.value[pk]
                del self.expected[pk]
                out.append(self._line(1, "delete", pk, old))
            else:
                c = self._cents()
                self.value[pk] = c
                self.expected[pk] = (self.seq, c / 100)
                out.append(self._line(1, "update_before", pk, old))
                out.append(self._line(2, "update_after", pk, c))
        return out


# -- light-query tables ------------------------------------------------------
#
# Same table names, column names and types as the package's input
# tables (maxscale_cdc_spark/tables.py), with value domains chosen so
# the recorded queries' filters and joins select rows.

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "hot", "large", "green", "red", "small", "dark", "light"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "valve"]
_EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the eight relational tables as parquet under `out_dir`.
    `scale` is a TPC-H scale factor: 0.1 gives 600 000 lineitem rows.
    Returns the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, n_ev // 66)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return rng.integers(int(lo * 100), int(hi * 100), n) / 100

    def days(start: str, n_days: int, n: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")

    def pick(choices: list[str], n: int) -> pa.Array:
        idx = rng.integers(0, len(choices), n)
        return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(choices)).cast(pa.string())

    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": pa.array(
                    [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": pick(_PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
                "o_orderpriority": pick(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100,
                "l_tax": rng.integers(0, 9, n_li) / 100,
                "l_returnflag": pick(["A", "N", "R"], n_li),
                "l_linestatus": pick(["F", "O"], n_li),
                "l_shipdate": pa.array(days("1995-01-02", 2497, n_li), pa.timestamp("us")),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), i64),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
                "event_type": pick(_EVENT_TYPES, n_ev),
                "value": money(0, 560, n_ev),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
