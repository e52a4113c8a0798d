"""Minimal MySQL text-protocol client: handshake, COM_QUERY, and the
OK / ERR / text result-set responses. Enough to drive the engine's
MySQL front-end over a real socket and count the bytes it sends."""

from __future__ import annotations

import socket
import struct

_CAPS = 0x00000200 | 0x00008000 | 0x00080000  # PROTOCOL_41, SECURE_CONNECTION, PLUGIN_AUTH


class WireError(RuntimeError):
    pass


class MySQLClient:
    def __init__(self, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.bytes_in = 0  # payload bytes of every packet read
        self._handshake()

    def close(self) -> None:
        try:
            self._send(b"\x01", 0)  # COM_QUIT
        except OSError:
            pass
        self.sock.close()

    def _read_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise WireError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def _read(self) -> bytes:
        payload = b""
        while True:
            head = self._read_exact(4)
            n = head[0] | (head[1] << 8) | (head[2] << 16)
            payload += self._read_exact(n)
            self.bytes_in += 4 + n
            if n < 0xFFFFFF:
                return payload

    def _send(self, payload: bytes, seq: int) -> None:
        self.sock.sendall(struct.pack("<I", len(payload))[:3] + bytes([seq]) + payload)

    def _handshake(self) -> None:
        if self._read()[0] != 0x0A:
            raise WireError("server greeting is not protocol 10")
        resp = (
            struct.pack("<II", _CAPS, 1 << 24)
            + bytes([33])
            + b"\x00" * 23
            + b"root\x00\x00mysql_native_password\x00"
        )
        self._send(resp, 1)
        if self._read()[0] != 0x00:
            raise WireError("authentication refused")

    @staticmethod
    def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
        b0 = buf[pos]
        if b0 < 251:
            return b0, pos + 1
        if b0 == 0xFC:
            return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
        if b0 == 0xFD:
            return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9

    def query(self, sql: str):
        """Returns None for an OK packet, else (column names, rows of
        str | None). Raises WireError on an ERR packet."""
        self._send(b"\x03" + sql.encode(), 0)
        first = self._read()
        if first[0] == 0x00:
            return None
        if first[0] == 0xFF:
            raise WireError(first[9:].decode(errors="replace"))
        ncols, _ = self._lenenc(first, 0)
        names = []
        for _ in range(ncols):
            p, pos = self._read(), 0
            for _ in range(4):  # catalog, schema, table, org_table
                n, pos = self._lenenc(p, pos)
                pos += n
            n, pos = self._lenenc(p, pos)
            names.append(p[pos : pos + n].decode())
        if self._read()[0] != 0xFE:
            raise WireError("missing EOF after column definitions")
        rows = []
        while True:
            p = self._read()
            if p[0] == 0xFE and len(p) < 9:
                return names, rows
            row, pos = [], 0
            for _ in range(ncols):
                if p[pos] == 0xFB:
                    row.append(None)
                    pos += 1
                else:
                    n, pos = self._lenenc(p, pos)
                    row.append(p[pos : pos + n].decode())
                    pos += n
            rows.append(row)
