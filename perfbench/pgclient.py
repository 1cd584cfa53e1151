"""Minimal PostgreSQL wire-protocol (v3) client: startup without
authentication and the simple-query flow, text-format results only.
Enough to drive the library's ``PgWireServer`` the way psql does."""

from __future__ import annotations

import socket
import struct


class PgError(RuntimeError):
    """The server answered a query with an ErrorResponse."""


class PgClient:
    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        params = b"user\x00bench\x00database\x00bench\x00\x00"
        body = struct.pack("!I", 196608) + params  # protocol 3.0
        self._sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, payload = self._recv()
            if tag == b"E":
                raise PgError(self._error_text(payload))
            if tag == b"Z":
                return

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def _recv(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return tag, self._recv_exact(length - 4)

    @staticmethod
    def _error_text(payload: bytes) -> str:
        fields = {}
        for part in payload.split(b"\x00"):
            if part:
                fields[part[:1]] = part[1:].decode(errors="replace")
        return fields.get(b"M", "error")

    def query(self, sql: str) -> tuple[list[str], list[tuple[str | None, ...]]]:
        """Run one statement; returns (column names, rows of text values)."""
        body = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        columns: list[str] = []
        rows: list[tuple[str | None, ...]] = []
        error = None
        while True:
            tag, payload = self._recv()
            if tag == b"T":
                (n,) = struct.unpack("!h", payload[:2])
                i = 2
                for _ in range(n):
                    j = payload.index(b"\x00", i)
                    columns.append(payload[i:j].decode())
                    i = j + 1 + 18  # oid, attnum, type oid, typlen, typmod, format
            elif tag == b"D":
                (n,) = struct.unpack("!h", payload[:2])
                i, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[i : i + 4])
                    i += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(payload[i : i + ln].decode())
                        i += ln
                rows.append(tuple(row))
            elif tag == b"E":
                error = self._error_text(payload)
            elif tag == b"Z":
                if error is not None:
                    raise PgError(error)
                return columns, rows

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!I", 4))
        except OSError:
            pass
        self._sock.close()
