"""Live TCP transport for the MaxScale CDC protocol.

The reference's whole reason for existing is this layer: dial a MaxScale
avrorouter CDC listener, authenticate, register, request one table's
change stream, and pump newline-delimited JSON events (client.go:144-162,
184-216).  This module is the socket side of our engine; it feeds the
spool directory that the `maxscale_cdc` Python DataSource
(cdc_datasource.py) and the file-based streaming readers consume — so
Spark's scale model (partitioned spool, executor-parallel decode) stays
unchanged and the transport is a thin, testable edge.

Parity map (reference file:line):
  connect            client.go:184-194  dial with dial timeout
  authenticate       client.go:197-208  hex(user:sha1(pw)), ERR check
  register           client.go:211-216  REGISTER UUID=…, TYPE=JSON
  request_data       client.go:144-162  full handshake + command
  pump               client.go:219-287  blocking scan loop, 1 MiB cap,
                                        pre-schema ERR tolerance
  stop               client.go:166-181  close socket → unblock reader,
                                        join thread, ErrNotConnected
  deadline rules     client.go:371-404 (bounded handshake I/O) vs
                     client.go:232-234 (unbounded streaming read)

The three timeouts are independent — the reference's option-aliasing bug
(WithDialTimeout/WithWriteTimeout both writing readTimeout,
client.go:49-53,63-67) is deliberately NOT reproduced.
"""

from __future__ import annotations

import logging
import os
import re
import socket
import threading

from maxscale_cdc_spark.sources.avro_ocf import zigzag_encode
from maxscale_cdc_spark.sources.cdc_source import (
    TransportOptions,
    format_authentication_command,
    format_register_command,
    format_request_data_command,
)
from maxscale_cdc_spark.sources.envelope import MAX_EVENT_BYTES
from maxscale_cdc_spark.tmputil import land_atomic


def next_burst(spool_dir: str, ext: str) -> int:
    """The number after the highest existing `burst-NNNNNNNNN.<ext>`
    (0 for none).  A restarted transport (or a second one) against a
    non-empty spool must append, never os.replace() an existing burst —
    overwriting would replay different rows under a committed
    DataSource offset range."""
    existing = [
        int(m.group(1))
        for f in os.listdir(spool_dir)
        if (m := re.fullmatch(rf"burst-(\d{{9}})\.{ext}", f))
    ]
    return max(existing, default=-1) + 1


class NotConnectedError(RuntimeError):
    """Stop() before connect() — ErrNotConnected (client.go:20-23)."""


class AuthenticationError(ConnectionError):
    """Server answered ERR during the handshake (client.go:406-408)."""


class OversizeEventError(RuntimeError):
    """A line exceeded the 1 MiB token cap; like bufio.Scanner's
    ErrTooLong this terminates the pump (client.go:17, 256-257)."""


class MidStreamServerError(RuntimeError):
    """Server sent ERR after events had already flowed.  The reference
    tolerates ERR only before the schema is read (client.go:253-267);
    afterwards an ERR token is a decode error that ends the stream."""


class CDCTransport:
    """Socket client for the CDC protocol, pumping events to a spool.

    Usage::

        t = CDCTransport("host:4001", "user", "pw", uuid)
        t.request_data("db", "table", spool_dir=spool)   # handshake + pump thread
        ... consume spool via the maxscale_cdc DataSource ...
        t.stop()

    The pump appends bursts to ``spool_dir`` as lexicographically
    increasing file names (write-to-temp + atomic rename, so readers
    never observe a partial burst) — exactly the spool contract the
    DataSource documents.
    """

    def __init__(
        self,
        address: str,
        user: str,
        password: str,
        uuid: str,
        options: TransportOptions | None = None,
        logger: logging.Logger | None = None,
    ) -> None:
        self.address = address
        self.user = user
        self.password = password
        self.uuid = uuid
        self.options = options or TransportOptions()
        # WithLogger analogue (client.go:70-74): callers inject their
        # own logger; the default is the module logger, not silence
        self.log = logger or logging.getLogger("maxscale_cdc_spark.transport")
        self._sock: socket.socket | None = None
        self._rfile = None
        self._thread: threading.Thread | None = None
        self._pump_error: BaseException | None = None
        self._closing = False
        self.err_lines = 0  # tolerated pre-schema ERR count (client.go:261-267)
        self.events_pumped = 0

    # -- handshake steps (client.go:184-216) --------------------------------

    def connect(self) -> None:
        host, _, port = self.address.rpartition(":")
        if not host or not port.isdigit():
            raise ConnectionError(f"invalid address {self.address!r}")
        try:
            self._sock = socket.create_connection(
                (host, int(port)), timeout=self.options.dial_timeout_s
            )
        except OSError as exc:  # dial failure (client_test.go:19-27)
            raise ConnectionError(f"dial {self.address}: {exc}") from exc
        self._rfile = self._sock.makefile("rb")

    def _write(self, payload: bytes) -> None:
        # deadline-bounded write (client.go:371-381)
        assert self._sock is not None
        self._sock.settimeout(self.options.write_timeout_s)
        self._sock.sendall(payload)

    def _read_response(self) -> bytes:
        # one deadline-bounded line; ERR → error (client.go:383-404)
        assert self._sock is not None and self._rfile is not None
        self._sock.settimeout(self.options.read_timeout_s)
        line = self._rfile.readline(MAX_EVENT_BYTES).rstrip(b"\n")
        if line.startswith(b"ERR"):
            raise AuthenticationError(line.decode("utf-8", "replace"))
        return line

    def authenticate(self) -> None:
        self._write(format_authentication_command(self.user, self.password))
        self._read_response()

    def register(self, data_format: str = "JSON") -> None:
        self._write(format_register_command(self.uuid, data_format))
        self._read_response()

    # -- entry point (client.go:144-162) -------------------------------------

    def request_data(
        self,
        database: str,
        table: str,
        spool_dir: str,
        version: str | None = None,
        gtid: str | None = None,
        burst_lines: int = 6_000,
        data_format: str = "JSON",
    ) -> None:
        """connect → authenticate → register → REQUEST-DATA, then spawn
        the pump thread appending bursts to ``spool_dir``.  The JSON pump
        lands a file every ``burst_lines`` lines: 3 s at 2 000 ev/s.

        ``data_format="AVRO"`` registers for the avrorouter's NATIVE
        rendering: the server streams Avro OCF bytes and the pump
        re-blocks them into standalone ``burst-*.avro`` container
        files (see ``_pump_avro``)."""
        cmd = format_request_data_command(database, table, version, gtid)
        self.connect()
        self.authenticate()
        self.register(data_format)
        self._write(cmd)
        # streaming read blocks forever — deadline cleared (client.go:232-234)
        assert self._sock is not None
        self._sock.settimeout(None)
        os.makedirs(spool_dir, exist_ok=True)
        if data_format == "AVRO":
            target, args = self._pump_avro, (spool_dir,)
        else:
            target, args = self._pump, (spool_dir, burst_lines)
        self._thread = threading.Thread(target=target, args=args, daemon=True)
        self._thread.start()

    # -- pump (client.go:253-287) --------------------------------------------

    def _pump(self, spool_dir: str, burst_lines: int) -> None:
        buf: list[bytes] = []
        burst_no = next_burst(spool_dir, "jsonl")

        def flush() -> None:
            nonlocal burst_no, buf
            if not buf:
                return
            data = b"\n".join(buf) + b"\n"
            land_atomic(spool_dir, f"burst-{burst_no:09d}.jsonl", data)
            burst_no += 1
            buf = []

        try:
            assert self._rfile is not None
            while True:
                line = self._rfile.readline(MAX_EVENT_BYTES + 1)
                if not line:
                    break  # connection closed (Stop() or server gone)
                if not line.endswith(b"\n") and len(line) > MAX_EVENT_BYTES:
                    raise OversizeEventError(
                        f"event exceeds {MAX_EVENT_BYTES} bytes"
                    )
                line = line.rstrip(b"\n")
                if not line:
                    continue
                if line.startswith(b"ERR"):
                    if self.events_pumped == 0:
                        # tolerated ONLY before the first event — the
                        # table may not exist yet (client.go:253-267,
                        # 137-140); logged like the reference's slog
                        self.err_lines += 1
                        self.log.warning(
                            "pre-schema ERR tolerated (%d so far): %s",
                            self.err_lines,
                            line.decode("utf-8", "replace"),
                        )
                        continue
                    raise MidStreamServerError(line.decode("utf-8", "replace"))
                buf.append(line)
                self.events_pumped += 1
                if len(buf) >= burst_lines:
                    flush()
        except (OSError, ValueError) as exc:
            # a mid-stream reset is a truncated stream, NOT a clean end;
            # only stop() closing the socket under us is expected
            if not self._closing:
                self._pump_error = exc
                self.log.error("pump failed mid-stream: %s", exc)
        except BaseException as exc:  # decode/cap error ends the stream
            self._pump_error = exc
            self.log.error("pump terminated: %s", exc)
        finally:
            flush()

    # -- Avro pump: incremental OCF stream → standalone block files ----------

    def _pump_avro(self, spool_dir: str) -> None:
        """Consume a TYPE=AVRO stream: a concatenation of Avro Object
        Container Files (the avrorouter rotates files, so a new OCF
        header — magic "Obj\\x01" — may appear mid-stream; on rotation
        the header, schema and sync marker are re-read, which is also
        how in-band schema evolution arrives).  Each data BLOCK is
        re-emitted to the spool as a standalone OCF file (current
        header + block), atomically renamed — so bursts land as blocks
        arrive and every spool file is independently decodable by
        read_ocf / a future spark-avro swap, the exact contract of the
        file-based Avro lane.  The block is the burst unit.

        Disambiguation after a block's trailing sync: the next 4 bytes
        are either the OCF magic (rotation), a varint block count
        (same file continues), or EOF.  A 4-byte lookahead decides;
        negative (size-prefixed) block counts are not produced by any
        OCF writer this engine speaks and are rejected loudly.
        """
        burst_no = next_burst(spool_dir, "avro")
        rfile = self._rfile
        assert rfile is not None
        pending = b""  # lookahead pushback

        def read_exact(n: int) -> bytes:
            nonlocal pending
            out = pending[:n]
            pending = pending[len(out) :]
            while len(out) < n:
                chunk = rfile.read(n - len(out))
                if not chunk:
                    if out:
                        raise ValueError(
                            f"truncated OCF stream ({len(out)}/{n} bytes)"
                        )
                    raise EOFError
                out += chunk
            return out

        def read_zigzag() -> int:
            shift = val = 0
            while True:
                b = read_exact(1)[0]
                val |= (b & 0x7F) << shift
                if not b & 0x80:
                    return (val >> 1) ^ -(val & 1)
                shift += 7
                if shift > 70:
                    raise ValueError("varint too long in OCF stream")

        def read_header(magic: bytes) -> bytes:
            # magic already consumed by the caller's lookahead
            hdr = bytearray(magic)
            while True:
                count = read_zigzag()
                hdr += zigzag_encode(count)
                if count == 0:
                    break
                if count < 0:
                    size = read_zigzag()
                    hdr += zigzag_encode(size)
                    count = -count
                for _ in range(count):
                    for _field in range(2):  # key string, value bytes
                        ln = read_zigzag()
                        hdr += zigzag_encode(ln) + read_exact(ln)
            hdr += read_exact(16)  # sync marker
            return bytes(hdr)

        try:
            header: bytes | None = None
            while True:
                try:
                    look = read_exact(4)
                except EOFError:
                    break  # clean end of stream
                if look == b"Obj\x01" or header is None:
                    if look != b"Obj\x01":
                        if look.startswith(b"ERR") and header is None:
                            # pre-schema ERR tolerance, same rule as the
                            # JSON pump (client.go:253-267): the table
                            # may not exist yet; consume the line
                            rest = rfile.readline(MAX_EVENT_BYTES)
                            self.err_lines += 1
                            self.log.warning(
                                "pre-schema ERR tolerated on AVRO arm "
                                "(%d so far): %s",
                                self.err_lines,
                                (look + rest).decode("utf-8", "replace").strip(),
                            )
                            continue
                        raise ValueError(
                            f"expected OCF magic, got {look!r}"
                        )
                    header = read_header(look)
                    continue
                pending = look + pending  # not a rotation: varint bytes
                n_recs = read_zigzag()
                if n_recs < 0:
                    raise ValueError(
                        "size-prefixed (negative) block counts are not "
                        "supported on the TYPE=AVRO stream"
                    )
                size = read_zigzag()
                block = read_exact(size)
                sync = read_exact(16)
                if sync != header[-16:]:
                    raise ValueError("sync marker mismatch mid-stream")
                land_atomic(
                    spool_dir,
                    f"burst-{burst_no:09d}.avro",
                    header + zigzag_encode(n_recs) + zigzag_encode(size) + block + sync,
                )
                burst_no += 1
                self.events_pumped += n_recs
        except (OSError, ValueError) as exc:
            if not self._closing:
                self._pump_error = exc
                self.log.error("avro pump failed mid-stream: %s", exc)
        except BaseException as exc:
            self._pump_error = exc
            self.log.error("avro pump terminated: %s", exc)

    # -- graceful stop (client.go:166-181) ------------------------------------

    def stop(self) -> None:
        if self._sock is None:
            raise NotConnectedError("not connected")
        self._closing = True  # set BEFORE close: the pump's OSError is expected now
        try:
            self._sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self._sock.close()  # unblocks the reader like conn.Close()
        if self._thread is not None:
            self._thread.join(timeout=10)
            if self._thread.is_alive():
                # a hung flush would keep writing to the spool after we
                # report "stopped" — mirror drain()'s loud behavior
                raise TimeoutError(
                    f"pump still running 10s after stop() "
                    f"({self.events_pumped} events so far)"
                )
        if self._pump_error is not None:
            raise self._pump_error

    def drain(self, timeout_s: float = 30.0) -> None:
        """Wait for the pump thread to finish (server closed the stream).

        Raises TimeoutError if the pump is still running when the
        timeout expires — silently returning would let a caller stop()
        mid-stream and read a truncated spool as if it were complete."""
        if self._thread is not None:
            self._thread.join(timeout=timeout_s)
            if self._thread.is_alive():
                raise TimeoutError(
                    f"pump still draining after {timeout_s}s "
                    f"({self.events_pumped} events so far)"
                )
            if self._pump_error is not None:
                raise self._pump_error


class FakeMaxScaleServer:
    """In-process stand-in for the MaxScale avrorouter CDC listener —
    the docker fixture of the reference's integration tests
    (docker-compose.yml:33-44), shrunk to a thread.

    Speaks the server side of the handshake: validates the auth hex
    against hex(user:sha1(password)), validates REGISTER (non-empty
    UUID, TYPE=JSON), answers REQUEST-DATA by streaming its seeded
    lines.  Negative paths mirror client_test.go:19-66: bad credentials
    → "ERR access denied"; empty/None UUID → "ERR invalid uuid";
    unknown table → a burst of tolerated "ERR" lines first (the
    missing-table wait) followed by the stream once "created".
    """

    def __init__(
        self,
        user: str,
        password: str,
        tables: dict[str, list[str]] | None = None,
        pre_schema_errs: int = 0,
        file_tables: dict[str, str] | None = None,
        reset_after: int | None = None,
        avro_tables: dict[str, str] | None = None,
    ) -> None:
        """`tables` maps "db.table" → in-memory lines (small fixtures);
        `file_tables` maps "db.table" → a directory of line files which
        are STREAMED to the client file-by-file (bounded memory — the
        fixture analogue of the avrorouter reading the binlog).
        `reset_after=N` aborts the connection with a TCP RST (SO_LINGER
        0) after N lines — the mid-stream-failure fixture.
        `avro_tables` maps "db.table" → a directory of Avro OCF files
        served (sorted, chunk-streamed) to a REGISTER TYPE=AVRO client
        as one concatenated stream — the avrorouter's native rendering
        with file rotation appearing as in-band OCF headers."""
        self.user = user
        self.password = password
        self.tables = tables or {}
        self.file_tables = file_tables or {}
        self.avro_tables = avro_tables or {}
        self.pre_schema_errs = pre_schema_errs
        self.reset_after = reset_after
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        self.address = f"127.0.0.1:{self.port}"
        self._threads: list[threading.Thread] = []
        self._accept_thread = threading.Thread(target=self._accept, daemon=True)
        self._closing = False
        self._accept_thread.start()

    def _accept(self) -> None:
        while not self._closing:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _serve(self, conn: socket.socket) -> None:
        from maxscale_cdc_spark.sources.cdc_source import (
            format_authentication_command,
        )

        def recv_command(n_expected=None, complete=None):
            """Accumulate a command across TCP segments: the protocol
            frames nothing (the reference writes raw bytes), so read
            until the known length / completeness predicate is met, or
            a short quiet gap follows some data (REQUEST-DATA has no
            terminator)."""
            buf = b""
            conn.settimeout(5.0)
            while True:
                if n_expected is not None and len(buf) >= n_expected:
                    return buf
                if complete is not None and buf and complete(buf):
                    return buf
                if n_expected is None and complete is None and buf:
                    conn.settimeout(0.2)  # quiet-gap mode
                try:
                    chunk = conn.recv(4096)
                except TimeoutError:
                    return buf
                except OSError:
                    return buf
                if not chunk:
                    return buf
                buf += chunk

        rfile = conn.makefile("rb")
        try:
            # -- auth: one hex token, length known server-side
            expected = format_authentication_command(self.user, self.password)
            auth = recv_command(n_expected=len(expected))
            if auth != expected:
                conn.sendall(b"ERR access denied\n")
                return
            conn.sendall(b"OK\n")
            # -- REGISTER ... TYPE=<JSON|AVRO> (suffix marks completeness;
            # AVRO is the avrorouter's native rendering — the reference
            # client only ever sends JSON, client.go:211-216)
            reg = recv_command(
                # complete once a ≥4-char TYPE token is present (JSON
                # and AVRO are both 4; an unknown token of ≥4 chars
                # also completes and is rejected below)
                complete=lambda b: b"TYPE=" in b
                and len(b.rsplit(b"TYPE=", 1)[1]) >= 4
            ).decode("ascii", "replace")
            if not reg.startswith("REGISTER UUID=") or "TYPE=" not in reg:
                conn.sendall(b"ERR malformed REGISTER\n")
                return
            data_format = reg.rsplit("TYPE=", 1)[1].strip()
            if data_format not in ("JSON", "AVRO"):
                conn.sendall(b"ERR unsupported TYPE\n")
                return
            uuid = reg[len("REGISTER UUID=") :].split(",")[0].strip()
            if not uuid:
                conn.sendall(b"ERR invalid uuid\n")
                return
            conn.sendall(b"OK\n")
            # -- REQUEST-DATA db.table[.version] [gtid] → stream
            # (no terminator: quiet-gap accumulation)
            req = recv_command().decode("ascii", "replace")
            if not req.startswith("REQUEST-DATA "):
                conn.sendall(b"ERR malformed request\n")
                return
            target = req[len("REQUEST-DATA ") :].split(" ")[0]
            db_table = ".".join(target.split(".")[:2])
            for _ in range(self.pre_schema_errs):
                conn.sendall(b"ERR table not found yet\n")
            if data_format == "AVRO":
                d = self.avro_tables.get(db_table)
                if d is None:
                    conn.sendall(b"ERR no such table\n")
                    return
                # the native rendering: concatenated OCF files, sorted
                # (rotation order), chunk-streamed — bounded memory
                for fname in sorted(os.listdir(d)):
                    if fname.startswith(("_", ".")) or not fname.endswith(
                        ".avro"
                    ):
                        continue
                    with open(os.path.join(d, fname), "rb") as fh:
                        while chunk := fh.read(1 << 16):
                            conn.sendall(chunk)
                return
            if db_table in self.file_tables:
                # stream file-by-file in bounded chunks — never holds
                # the dataset in memory
                d = self.file_tables[db_table]
                for fname in sorted(os.listdir(d)):
                    if fname.startswith(("_", ".")):
                        continue
                    with open(os.path.join(d, fname), "rb") as fh:
                        while chunk := fh.read(1 << 16):
                            conn.sendall(chunk)
                return
            lines = self.tables.get(db_table)
            if lines is None:
                # missing table: reference waits on tolerated ERRs
                # (client.go:137-140); the fake just closes after them
                conn.sendall(b"ERR no such table\n")
                return
            if self.reset_after is not None:
                head = lines[: self.reset_after]
                conn.sendall(("\n".join(head) + "\n").encode("utf-8"))
                # RST, not FIN: linger-0 close aborts the connection so
                # the client sees ECONNRESET mid-stream, not a clean EOF
                import struct

                conn.setsockopt(
                    socket.SOL_SOCKET,
                    socket.SO_LINGER,
                    struct.pack("ii", 1, 0),
                )
                conn.close()
                return
            payload = ("\n".join(lines) + "\n").encode("utf-8")
            conn.sendall(payload)
        except OSError:
            pass
        finally:
            try:
                rfile.close()
                conn.close()
            except OSError:
                pass

    def close(self) -> None:
        self._closing = True
        try:
            self._srv.close()
        except OSError:
            pass
        for t in self._threads:
            t.join(timeout=5)


def serve_and_drain(
    spool_dir: str,
    file_tables: dict[str, str] | None = None,
    avro_tables: dict[str, str] | None = None,
) -> None:
    """One whole fixture session: a FakeMaxScaleServer serving the given
    directories, one CDCTransport that requests `app.events` (TYPE=AVRO
    iff `avro_tables`), drains it into `spool_dir` and stops; the
    server is closed whatever happens."""
    server = FakeMaxScaleServer(
        "cdcuser", "cdcpw", file_tables=file_tables, avro_tables=avro_tables
    )
    try:
        transport = CDCTransport(server.address, "cdcuser", "cdcpw", "engine-uuid")
        transport.request_data(
            "app",
            "events",
            spool_dir=spool_dir,
            burst_lines=10_000,
            data_format="AVRO" if avro_tables else "JSON",
        )
        transport.drain(timeout_s=120)
        transport.stop()
    finally:
        server.close()
