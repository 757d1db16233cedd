"""Custom Structured Streaming data source for the CDC wire protocol.

The closest Spark realization of the reference's `RequestData` entry
point (client.go:144-162): a PySpark DataSource (Spark 4 Python Data
Source API) named ``maxscale_cdc`` whose STREAM OFFSET IS THE GTID
POSITION — checkpoint/restart resumes exactly where the reference's
`WithGTID` would (client.go:122-126), and `Stop()`/restart maps to
query.stop() + checkpoint recovery (client.go:166-181).

The transport reads newline-delimited wire-format JSON from a spool
directory (each file ≙ one burst from the MaxScale socket; a real
deployment would point the spool at the TCP reader's output).  Decode
semantics mirror the reference scanner:

* DML iff line starts with ``{"domain":`` (client.go:410-412)
* ERR lines tolerated and skipped (client.go:261-267)
* 1 MiB event cap (client.go:17)
* envelope+payload decode (client.go:306-314)

Options:
  path            spool directory (required)
  database,table  stream selection (``REQUEST-DATA db.table``)
  startingGtid    resume position "d-s-seq" (default: from the beginning)
  payloadSchema   optional DDL string (e.g. "pk bigint, value double") —
                  when the schema is known (from the DDL registry, like
                  the reference after its first schema event), bursts
                  are parsed by PyArrow's C++ JSON reader with typed
                  payload COLUMNS in the output (no per-row Python, no
                  payload re-serialization); without it, the generic
                  mode emits the payload as a JSON string.  Parameterized
                  types (decimal(p,s), varchar(n)) and two-word types
                  ("double precision") are accepted; an unsupported type
                  fails at reader construction, not mid-batch.
  schemaFromSpool "true" to DISCOVER the payload schema from the
                  spool's DDL (schema) events — the reference's
                  readSchema behavior (client.go:254-271): the stream
                  itself carries its schema; the client declares
                  nothing.  The latest version wins unless
                  schemaVersion pins one (client.go:114-119).  An
                  explicit payloadSchema overrides discovery.
  schemaVersion   with schemaFromSpool: pin a specific schema version.
  badRecords      "fail" (default) or "skip".  The reference terminates
                  the event pump on a decode error (client.go:240-246);
                  "fail" mirrors that on BOTH read paths.  "skip" counts
                  malformed DML lines and reports the count per burst on
                  stderr (a dead-letter-style metric) instead of dying.
  maxFilesPerTrigger  backpressure bound: at most N burst files per
                  micro-batch — the cap-1 channel analogue
                  (client.go:220); consumption rate bounds ingest rate.
                  The FIRST batch of a (re)started query is uncapped:
                  the Python stream API gives the planner no durable
                  committed position, so capping the first window could
                  plan an end offset below the checkpointed start and
                  re-deliver data on restart — draining the backlog
                  once, then capping, is the exactly-once-safe form
                  (it also makes availableNow runs complete).

Spool contract: burst files are append-only with lexicographically
increasing names (binlog-style numbering) — the offset is a count over
the sorted listing, so earlier names must never appear later.

Scale note: one source partition per burst-file per micro-batch; at
production scale the spool is partitioned by GTID domain and
`partitions()` returns one split per (file, domain) — executor-parallel
decode with per-domain ordering preserved.

IMPLEMENTATION NOTE — the classes are built inside a factory and
registered BY VALUE: Spark plans Python streaming sources in a separate
worker process that cannot necessarily import this package, so the
pickled class graph must not reference module globals.
"""

from __future__ import annotations

from maxscale_cdc_spark.sources.envelope import ENVELOPE_FIELDS, WIRE_TYPES
from maxscale_cdc_spark.sources.schema_registry import _UNSIGNED_WIDEN

SOURCE_NAME = "maxscale_cdc"

#: Envelope columns (upper-case Spark DDL) — the prefix of every schema
#: this source reports.
_ENVELOPE_DDL = ", ".join(f"{n} {t.upper()}" for n, t in ENVELOPE_FIELDS)

#: The generic-mode schema: envelope + the payload as a JSON string.
SOURCE_SCHEMA = _ENVELOPE_DDL + ", payload STRING"


def build_cdc_datasource():
    """Create the DataSource class, fully self-contained (no references
    to this module's globals — see IMPLEMENTATION NOTE above).  The
    envelope spec and the wire-type table are bound here as plain
    tuples, strings and dicts, and so is the schema registry's unsigned
    widening (`_UNSIGNED_WIDEN`, as Spark DDL strings)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    envelope = ENVELOPE_FIELDS  # (("domain", "int"), ...)
    envelope_names = tuple(n for n, _ in envelope)
    envelope_ddl = _ENVELOPE_DDL
    source_schema = SOURCE_SCHEMA
    wire_types = dict(WIRE_TYPES)  # wire type -> (spark ddl, pyarrow type)
    # unsigned wire type -> widened spark ddl ("int" -> "bigint", "bigint"
    # -> "decimal(20,0)"): the registry's table is the one source
    unsigned_widen = {k: t.simpleString() for k, t in _UNSIGNED_WIDEN.items()}

    def _spool_files(path):
        """The sorted burst listing — the offset space."""
        import os

        try:
            return sorted(
                f for f in os.listdir(path) if f.endswith((".jsonl", ".txt"))
            )
        except FileNotFoundError:
            return []

    def _report_skipped(skipped, path):
        """skip-mode's dead-letter metric: the count per burst, on stderr."""
        import sys

        print(
            f"maxscale_cdc: skipped {skipped} malformed line(s) in {path}",
            file=sys.stderr,
        )

    class _FileSlice(InputPartition):
        def __init__(self, path, start_gtid):
            self.path = path
            self.start_gtid = start_gtid

    def _parse_payload_ddl(ddl):
        """Validate + normalize a payload DDL string into (name, type)
        pairs at construction time.  Splits each item on the FIRST
        whitespace only, so parameterized (`decimal(18,4)`) and two-word
        (`double precision`) types survive; an unknown type raises here,
        not mid-micro-batch."""
        import re

        # split on top-level commas only — decimal(18,4) carries one
        items, depth, cur = [], 0, []
        for ch in ddl:
            if ch == "," and depth == 0:
                items.append("".join(cur))
                cur = []
            else:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth = max(0, depth - 1)
                cur.append(ch)
        items.append("".join(cur))
        out = []
        for part in items:
            item = part.strip()
            if not item:
                continue
            bits = item.split(None, 1)
            if len(bits) != 2:
                raise ValueError(
                    f"payloadSchema item {item!r}: expected 'name type'"
                )
            name, typ = bits[0], " ".join(bits[1].lower().split())
            if typ in wire_types or re.fullmatch(
                r"decimal\s*\(\s*\d+\s*,\s*\d+\s*\)|varchar\s*\(\s*\d+\s*\)", typ
            ):
                out.append((name, typ))
            else:
                raise ValueError(
                    f"payloadSchema: unsupported type {typ!r} for column "
                    f"{name!r} (supported: {sorted(wire_types)}, decimal(p,s), "
                    "varchar(n))"
                )
        return out

    class CDCStreamReader(DataSourceStreamReader):
        """Offset = {"gtid": [d, s, seq], "files": n} over the sorted
        spool listing.  Replaying a committed range yields identical
        rows → exactly-once under checkpoint recovery."""

        def __init__(self, options):
            # `options` has lower-case keys (CDCDataSource._options)
            self.path = options["path"]
            self.database = options.get("database")
            self.table = options.get("table")
            self.payload_ddl = options.get("payloadschema")
            # fail fast on a bad schema string (reader construction, not
            # mid-batch on an executor)
            self.payload_fields = (
                _parse_payload_ddl(self.payload_ddl) if self.payload_ddl else []
            )
            self.bad_records = (options.get("badrecords") or "fail").lower()
            if self.bad_records not in ("fail", "skip"):
                raise ValueError("badRecords must be 'fail' or 'skip'")
            mft = options.get("maxfilespertrigger")
            # '0' must be a loud error, not a silent "uncapped": a user
            # asking for the tightest bound would otherwise lose all
            # backpressure (Spark's own maxFilesPerTrigger requires >=1)
            self.max_files = int(mft) if mft is not None else None
            if self.max_files is not None and self.max_files < 1:
                raise ValueError(
                    f"maxFilesPerTrigger must be >= 1, got {mft!r}"
                )
            # rate-limit window, advanced by latestOffset itself: Spark
            # plans batches sequentially (one latestOffset per batch),
            # and the runner does NOT deliver commit() back to this
            # planner-side instance — so the planner's own call cadence
            # is the reliable clock.  None = first call, which returns
            # everything available (see maxFilesPerTrigger docstring:
            # a capped first window could regress below a checkpointed
            # start the planner cannot see and re-deliver data).
            self._planned_files: int | None = None
            start = options.get("startinggtid")
            if start:
                d, sv, q = start.split("-")
                self.start_gtid = (int(d), int(sv), int(q))
            else:
                self.start_gtid = (-1, -1, -1)

        def initialOffset(self):
            return {"gtid": list(self.start_gtid), "files": 0}

        def latestOffset(self):
            avail = len(_spool_files(self.path))
            if self.max_files:
                # backpressure: advance at most maxFilesPerTrigger per
                # planned batch (cap-1 channel analogue, client.go:220);
                # first call drains the backlog uncapped (restart safety)
                if self._planned_files is None:
                    self._planned_files = avail
                else:
                    self._planned_files = min(
                        avail, self._planned_files + self.max_files
                    )
                avail = self._planned_files
            return {"gtid": list(self.start_gtid), "files": avail}

        def partitions(self, start, end):
            import os

            files = _spool_files(self.path)
            lo, hi = start.get("files", 0), end.get("files", 0)
            # the checkpointed start is the true committed floor —
            # fast-forward the rate-limit window so it never plans
            # backwards from here on
            self._planned_files = max(self._planned_files or 0, lo, hi)
            sg = tuple(start.get("gtid", [-1, -1, -1]))
            return [
                _FileSlice(os.path.join(self.path, f), sg) for f in files[lo:hi]
            ]

        def commit(self, end):
            # spool retention is external (like the binlog's); if the
            # runner does route commit here, use it as a window floor
            self._planned_files = max(self._planned_files or 0, end.get("files", 0))

        def read(self, partition):
            if self.payload_ddl:
                yield from self._read_typed(partition)
            else:
                yield from self._read_generic(partition)

        def _read_typed(self, partition):
            """Schema-known fast path: one Python pass for the line-level
            protocol rules (DML prefix, ERR skip, 1 MiB cap — byte ops
            only), then PyArrow's C++ JSON reader parses the burst into
            typed columns and pyarrow.compute applies the table/GTID
            filters.  No per-row Python, no payload re-serialization."""
            import io
            import re

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.json as pj

            def to_arrow(typ):
                m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", typ)
                if m:
                    return pa.decimal128(int(m.group(1)), int(m.group(2)))
                if re.fullmatch(r"varchar\s*\(\s*\d+\s*\)", typ):
                    return pa.string()
                # validated at construction
                return getattr(pa, wire_types[typ][1])()

            explicit = pa.schema(
                [
                    pa.field(name, to_arrow(typ))
                    for name, typ in envelope + tuple(self.payload_fields)
                ]
            )

            max_bytes = 1 << 20
            keep = []
            with open(partition.path, "rb") as fh:
                for raw in fh:
                    line = raw.rstrip(b"\n")
                    # protocol line rules (client.go:17, 261-267, 410-412)
                    if (
                        line
                        and len(line) <= max_bytes
                        and line.startswith(b'{"domain":')
                    ):
                        keep.append(line)
            if not keep:
                return
            parse_opts = pj.ParseOptions(
                explicit_schema=explicit,
                unexpected_field_behavior="ignore",
            )
            try:
                tbl = pj.read_json(io.BytesIO(b"\n".join(keep)), parse_options=parse_opts)
            except pa.ArrowInvalid as exc:
                # Decode-error policy, uniform with _read_generic: the
                # reference terminates the pump on a decode error
                # (client.go:240-246) — default "fail" mirrors that.
                if self.bad_records != "skip":
                    raise ValueError(
                        f"malformed CDC line in {partition.path}: {exc}"
                    ) from exc
                # skip mode: find the bad records by parsing each line
                # individually — a line can be valid JSON yet still fail
                # the Arrow schema conversion (e.g. a string where the
                # schema says double), so a json.loads prefilter is not
                # enough.  Per-line Arrow parse only runs on the rare
                # burst that contains bad records.
                good_tables = []
                skipped = 0
                for line in keep:
                    try:
                        good_tables.append(
                            pj.read_json(io.BytesIO(line), parse_options=parse_opts)
                        )
                    except pa.ArrowInvalid:
                        skipped += 1
                if skipped:
                    _report_skipped(skipped, partition.path)
                if not good_tables:
                    return
                tbl = pa.concat_tables(good_tables)
            d0, s0, q0 = self.start_gtid
            # lexicographic (domain, server_id, sequence) >= start
            dd, ss, qq = tbl["domain"], tbl["server_id"], tbl["sequence"]
            mask = pc.or_(
                pc.greater(dd, pa.scalar(d0, pa.int32())),
                pc.and_(
                    pc.equal(dd, pa.scalar(d0, pa.int32())),
                    pc.or_(
                        pc.greater(ss, pa.scalar(s0, pa.int32())),
                        pc.and_(
                            pc.equal(ss, pa.scalar(s0, pa.int32())),
                            pc.greater_equal(qq, pa.scalar(q0, pa.int64())),
                        ),
                    ),
                ),
            )
            if self.table:
                mask = pc.and_(mask, pc.equal(tbl["table_name"], pa.scalar(self.table)))
            if self.database:
                mask = pc.and_(
                    mask, pc.equal(tbl["table_schema"], pa.scalar(self.database))
                )
            yield from tbl.filter(mask).to_batches(max_chunksize=20_000)

        def _read_generic(self, partition):
            # Yields Arrow RecordBatches, not tuples: per-row pickling
            # is the Python data source's slow path; columnar batches
            # move through the JVM boundary ~10× faster.
            import json

            import pyarrow as pa

            envelope_keys = envelope_names
            arrow_types = [
                getattr(pa, wire_types[t][1])() for _, t in envelope
            ] + [pa.string()]
            names = list(envelope_names) + ["payload"]
            max_bytes = 1 << 20
            batch_rows = 20_000
            start = tuple(partition.start_gtid)
            cols: list[list] = [[] for _ in names]
            skipped = 0

            def flush():
                arrays = [
                    pa.array(c, type=t) for c, t in zip(cols, arrow_types)
                ]
                return pa.RecordBatch.from_arrays(arrays, names=names)

            with open(partition.path, "rb") as fh:
                for raw in fh:
                    line = raw.rstrip(b"\n")
                    if not line or len(line) > max_bytes:
                        continue  # token-cap guard (client.go:17)
                    if line.startswith(b"ERR"):
                        continue  # tolerated error (client.go:261-267)
                    if not line.startswith(b'{"domain":'):
                        continue  # DDL → schema registry path, not rows
                    try:
                        obj = json.loads(line)
                    except ValueError as exc:
                        # uniform decode-error policy (see _read_typed)
                        if self.bad_records != "skip":
                            raise ValueError(
                                f"malformed CDC line in {partition.path}: "
                                f"{line[:120]!r}"
                            ) from exc
                        skipped += 1
                        continue
                    if self.table and obj.get("table_name") != self.table:
                        continue
                    if self.database and obj.get("table_schema") != self.database:
                        continue
                    pos = (
                        int(obj.get("domain", 0)),
                        int(obj.get("server_id", 0)),
                        int(obj.get("sequence", 0)),
                    )
                    if pos < start:
                        continue  # resume-from-GTID (client.go:122-126)
                    payload = {
                        k: v for k, v in obj.items() if k not in envelope_keys
                    }
                    for col, v in zip(
                        cols,
                        (
                            pos[0],
                            pos[1],
                            pos[2],
                            int(obj.get("event_number", 0)),
                            int(obj.get("timestamp", 0)),
                            obj.get("event_type"),
                            obj.get("table_name"),
                            obj.get("table_schema"),
                            json.dumps(payload, sort_keys=True),
                        ),
                    ):
                        col.append(v)
                    if len(cols[0]) >= batch_rows:
                        yield flush()
                        cols = [[] for _ in names]
            if skipped:
                _report_skipped(skipped, partition.path)
            if cols[0]:
                yield flush()

    def _discover_payload_ddl(path, database, table, version):
        """Scan the spool's DDL (non-DML, non-ERR) lines and build the
        payload DDL for the requested table — the reference's dynamic
        schema discovery (client.go:254-271) with its polymorphic
        field-type decode (event.go:58-137) reduced to the wire types
        the avrorouter emits.  Latest version wins unless pinned.
        Self-contained: the planner worker cannot import the package,
        so this mirrors (not imports) sources/schema_registry.py.  An
        `unsigned` union field widens as the registry's `decode_ddl`
        types it (`int` → bigint, `bigint` → decimal(20,0)), so the
        full value domain decodes exactly.  The other type differences
        with the registry stay: `decimal` reads as double (the wire
        JSON renders it as a number) and `date`/`datetime`/`bytes` as
        strings — pyarrow 16.1's JSON reader rejects a date string for
        a `date32` column."""
        import json
        import os

        best = None  # (version, fields)
        for fname in _spool_files(path):
            if best is not None and version is not None:
                break  # pinned version found — no need to scan further
            with open(os.path.join(path, fname), "rb") as fh:
                for raw in fh:
                    line = raw.strip()
                    if (
                        not line
                        or line.startswith(b"ERR")
                        or line.startswith(b'{"domain":')
                    ):
                        continue
                    try:
                        obj = json.loads(line)
                    except ValueError:
                        continue
                    if "fields" not in obj:
                        continue
                    if database and obj.get("database") != database:
                        continue
                    if table and obj.get("table") != table:
                        continue
                    v = int(obj.get("version", 1))
                    if version is not None and v != int(version):
                        continue
                    if best is None or v > best[0]:
                        best = (v, obj.get("fields", []))
                    if version is not None:
                        break
        if best is None:
            # failing loudly beats silently pinning the generic
            # string-payload schema for the query's lifetime: schemas
            # are fixed at stream construction, so a discovery that
            # raced the writer would never self-correct
            raise ValueError(
                f"schemaFromSpool: no DDL (schema) event found in {path!r}"
                + (f" for version {version}" if version is not None else "")
                + " — the spool has no schema yet (start the transport "
                "first, or pass payloadSchema explicitly)"
            )
        cols = []
        for f in best[1]:
            name = f.get("name", "")
            if not name or name in envelope_names:
                continue
            t = f.get("type")
            if isinstance(t, str):          # plain string type
                wire = t
            elif isinstance(t, list):       # Avro union array (nullable)
                non_null = [x for x in t if x != "null"]
                wire = f.get("real_type") or (
                    non_null[0] if non_null and isinstance(non_null[0], str) else "string"
                )
                if f.get("unsigned") and str(wire).lower() in unsigned_widen:
                    cols.append((name, unsigned_widen[str(wire).lower()]))
                    continue
            else:                           # enum object (or unknown)
                wire = "string"
            spark_ddl = wire_types.get(str(wire).lower(), ("string",))[0]
            cols.append((name, spark_ddl))
        return ", ".join(f"{n} {t}" for n, t in cols) or None

    def _normalize_spark_ddl(pairs):
        """(name, normalized type) pairs → Spark-parseable DDL.  Wire
        types Spark's DDL parser lacks ('double precision', 'text',
        'long', 'real') map to their Spark equivalents."""
        cols = []
        for name, typ in pairs:
            t = "".join(typ.split()) if typ.startswith(("decimal", "varchar")) else typ
            if "(" in t and t.startswith(("decimal", "varchar")):
                # parameterized forms are valid Spark DDL as-is
                cols.append(f"{name} {t}")
            else:
                # bare 'varchar' (no length) is NOT valid Spark DDL —
                # it maps to string like 'text' does
                cols.append(f"{name} {wire_types[typ][0]}")
        return ", ".join(cols)

    class CDCDataSource(DataSource):
        @classmethod
        def name(cls):
            return "maxscale_cdc"

        def _options(self):
            """The options with lower-case keys.  Spark hands a
            case-insensitive dict that already lower-cases them; a plain
            dict from a direct caller is lower-cased here, once."""
            return {k.lower(): v for k, v in self.options.items()}

        def _payload_ddl(self):
            opts = self._options()
            pds = opts.get("payloadschema")
            if pds:
                return pds
            if (opts.get("schemafromspool") or "").lower() in ("true", "1"):
                # cache: schema() and streamReader() both need this, and
                # discovery scans spool files on the driver
                if not hasattr(self, "_discovered_ddl"):
                    ver = opts.get("schemaversion")
                    self._discovered_ddl = _discover_payload_ddl(
                        opts["path"],
                        opts.get("database"),
                        opts.get("table"),
                        int(ver) if ver else None,
                    )
                return self._discovered_ddl
            return None

        def schema(self):
            pds = self._payload_ddl()
            if pds:
                return (
                    envelope_ddl
                    + ", "
                    + _normalize_spark_ddl(_parse_payload_ddl(pds))
                )
            return source_schema

        def streamReader(self, schema):
            opts = self._options()
            pds = self._payload_ddl()
            if pds:
                # pass the (possibly discovered) schema to the reader so
                # the typed Arrow fast path engages
                opts["payloadschema"] = pds
            return CDCStreamReader(opts)

    return CDCDataSource


def register(spark) -> None:
    """Idempotently register the source on the session: a second call
    replaces the first (Spark logs a WARN).  A failed class build or
    registration raises here, not later as an unknown format."""
    spark.dataSource.register(build_cdc_datasource())
