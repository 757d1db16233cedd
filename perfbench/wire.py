"""Benchmark-owned MaxScale CDC protocol endpoint.

Answers the client handshake (auth, REGISTER, REQUEST-DATA), sends its
`head` lines at once (the waiting backlog), then sends each `paced`
line at its due time on an open-loop schedule: a slow client is not
waited for, its socket buffer and the generator's lateness grow
instead.  The connection closes after the last line, which ends the
client's pump.  (The package's FakeMaxScaleServer sends its lines all at
once, so it cannot drive a tail at a fixed rate.)
"""

from __future__ import annotations

import socket
import threading
import time

from maxscale_cdc_spark.sources.cdc_source import (
    format_authentication_command,
    format_register_command,
    format_request_data_command,
)

USER, PASSWORD, CLIENT_UUID = "bench", "bench-pw", "perfbench-client"


class WireServer:
    def __init__(
        self,
        database: str,
        table: str,
        head: list[bytes],
        paced: list[bytes] = (),
        rate: float = 0.0,
    ) -> None:
        self.expected = [
            format_authentication_command(USER, PASSWORD),
            format_register_command(CLIENT_UUID),
            format_request_data_command(database, table),
        ]
        self.head = head
        self.paced = paced
        self.rate = rate
        self.t0: float | None = None  # wall-clock due time of paced[0]
        self.late_s: list[float] = []  # per send: now - due of its first line
        self.error: BaseException | None = None
        self._go = threading.Event()
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.address = f"127.0.0.1:{self._srv.getsockname()[1]}"
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def due(self, j: int) -> float:
        """Scheduled send time of paced line j."""
        return self.t0 + j / self.rate

    def begin(self, t0: float) -> None:
        """Start the paced schedule: paced line j is due at t0 + j/rate."""
        self.t0 = t0
        self._go.set()

    def _recv_exact(self, conn: socket.socket, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("client closed during handshake")
            buf += chunk
        return buf

    def _serve(self) -> None:
        try:
            conn, _ = self._srv.accept()
        except OSError:
            return  # closed before a client came
        try:
            with conn:
                conn.settimeout(30)
                for i, want in enumerate(self.expected):
                    got = self._recv_exact(conn, len(want))
                    if got != want:
                        conn.sendall(b"ERR unexpected command\n")
                        raise ConnectionError(f"handshake step {i}: {got!r}")
                    if i < 2:
                        conn.sendall(b"OK\n")
                conn.settimeout(None)
                conn.sendall(b"\n".join(self.head) + b"\n")
                if self.paced:
                    self._go.wait()
                    self._send_paced(conn)
        except BaseException as exc:  # reported by close()
            self.error = exc
        finally:
            self._srv.close()

    def _send_paced(self, conn: socket.socket) -> None:
        sent, n = 0, len(self.paced)
        while sent < n:
            now = time.time()
            upto = min(n, int((now - self.t0) * self.rate) + 1)
            if upto > sent:
                self.late_s.append(now - self.due(sent))
                conn.sendall(b"\n".join(self.paced[sent:upto]) + b"\n")
                sent = upto
            if sent < n:
                time.sleep(max(0.0, self.due(sent) - time.time()))

    def close(self, timeout_s: float = 60.0) -> None:
        """Wait for the send schedule to finish; raise what it hit.  A
        schedule never begun is dropped."""
        if self.t0 is None:
            self.paced = []
        self._go.set()
        self._thread.join(timeout_s)
        if self._thread.is_alive():
            self._srv.close()
            raise TimeoutError("wire server still sending")
        if self.error is not None:
            raise self.error
