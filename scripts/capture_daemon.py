"""Live MySQL binlog capture daemon: TCP + handshake v10 + auth +
COM_BINLOG_DUMP → engine segment store.

This is the network half of docs/CAPTURE.md §1 — the part the reference
implements natively (src/mysql/conn.zig:44-408 handshake/response,
src/mysql/auth.zig:11-26 scrambles, src/binlog_reader.zig:100-146 dump
framing, src/connection.zig:25-62 socket lifecycle).  Everything here is
public MySQL client/server protocol; the segment splitter is reused from
scripts/capture_stub.py and the store writer is the engine's
``sources.segments.write_segments``.

Usage:
    python scripts/capture_daemon.py --host H --port P --user U \
        [--password PW] [--server-id N] [--binlog-file F] [--binlog-pos N] \
        [--gtids "uuid:1-5,..."] [--ssl] OUT_DIR

Auth support: mysql_native_password and caching_sha2_password — fast path
always; full path over TLS (cleartext-password exchange, safe on the
encrypted channel) AND over plaintext sockets via the server-public-key
RSA-OAEP exchange (request byte 0x02 → PEM public key → XOR-scrambled
password encrypted with RSA-OAEP/SHA-1, RFC 8017 §7.1.1 implemented on
hashlib — the same algorithm OpenSSL's RSA_PKCS1_OAEP_PADDING runs for a
real server; reference src/mysql/auth.zig:84-136).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import socket
import ssl as _ssl
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from capture_stub import (  # noqa: E402
    CaptureError,
    iter_segments,
    write_gtids,
)

from myzql_binlog_connector_spark.sources.segments import write_segments  # noqa: E402

MAX_PAYLOAD = 0xFFFFFF

# capability flags (public protocol constants)
CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_LONG_FLAG = 0x00000004
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SSL = 0x00000800
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000

COM_QUERY = 0x03
COM_REGISTER_SLAVE = 0x15
COM_BINLOG_DUMP = 0x12
COM_BINLOG_DUMP_GTID = 0x1E


# ---------------------------------------------------------------------------
# auth scrambles (src/mysql/auth.zig:11-26 parity)
# ---------------------------------------------------------------------------


def scramble_native(password: bytes, nonce: bytes) -> bytes:
    """mysql_native_password: SHA1(pw) XOR SHA1(nonce + SHA1(SHA1(pw)))."""
    if not password:
        return b""
    h1 = hashlib.sha1(password).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(nonce + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


# ---------------------------------------------------------------------------
# caching_sha2 full auth without TLS: server-public-key RSA-OAEP exchange
# (reference src/mysql/auth.zig:84-136).  All public algorithms: PEM/DER
# SubjectPublicKeyInfo parse (RFC 5280), EME-OAEP with SHA-1/MGF1-SHA-1
# (RFC 8017 §7.1.1 — OpenSSL's RSA_PKCS1_OAEP_PADDING defaults, which is
# what mysqld uses for this exchange).
# ---------------------------------------------------------------------------


def _der_read_tlv(buf: memoryview, pos: int) -> tuple[int, memoryview, int]:
    """One DER TLV: returns (tag, value, next_pos)."""
    tag = buf[pos]
    ln = buf[pos + 1]
    pos += 2
    if ln & 0x80:
        nb = ln & 0x7F
        ln = int.from_bytes(buf[pos : pos + nb], "big")
        pos += nb
    return tag, buf[pos : pos + ln], pos + ln


def parse_rsa_public_pem(pem: bytes) -> tuple[int, int]:
    """(n, e) from a PEM SubjectPublicKeyInfo (the blob mysqld sends)."""
    import base64

    body = b"".join(
        line for line in pem.splitlines() if line and not line.startswith(b"-----")
    )
    der = memoryview(base64.b64decode(body))
    tag, spki, _ = _der_read_tlv(der, 0)            # SEQUENCE (SPKI)
    if tag != 0x30:
        raise CaptureError(f"bad public key DER: outer tag {tag:#x}")
    tag, _alg, pos = _der_read_tlv(spki, 0)          # SEQUENCE (algorithm)
    tag, bits, _ = _der_read_tlv(spki, pos)          # BIT STRING (key)
    if tag != 0x03 or bits[0] != 0:
        raise CaptureError("bad public key DER: expected primitive BIT STRING")
    tag, rsakey, _ = _der_read_tlv(bits, 1)          # SEQUENCE (RSAPublicKey)
    tag, n_bytes, pos = _der_read_tlv(rsakey, 0)     # INTEGER n
    tag2, e_bytes, _ = _der_read_tlv(rsakey, pos)    # INTEGER e
    if tag != 0x02 or tag2 != 0x02:
        raise CaptureError("bad public key DER: expected INTEGER n, e")
    return int.from_bytes(n_bytes, "big"), int.from_bytes(e_bytes, "big")


def _mgf1(seed: bytes, length: int) -> bytes:
    out = b""
    for i in range((length + 19) // 20):
        out += hashlib.sha1(seed + i.to_bytes(4, "big")).digest()
    return out[:length]


def rsa_oaep_encrypt(n: int, e: int, msg: bytes, rand=os.urandom) -> bytes:
    """RSAES-OAEP-ENCRYPT (RFC 8017 §7.1.1) with SHA-1 and an empty label."""
    k = (n.bit_length() + 7) // 8
    h_len = 20
    if len(msg) > k - 2 * h_len - 2:
        raise CaptureError(f"message too long for {k * 8}-bit RSA-OAEP")
    l_hash = hashlib.sha1(b"").digest()
    ps = b"\x00" * (k - len(msg) - 2 * h_len - 2)
    db = l_hash + ps + b"\x01" + msg
    seed = rand(h_len)
    masked_db = bytes(a ^ b for a, b in zip(db, _mgf1(seed, k - h_len - 1)))
    masked_seed = bytes(a ^ b for a, b in zip(seed, _mgf1(masked_db, h_len)))
    em = b"\x00" + masked_seed + masked_db
    return pow(int.from_bytes(em, "big"), e, n).to_bytes(k, "big")


def xor_password_scramble(password: bytes, nonce: bytes) -> bytes:
    """(password + NUL) XOR nonce-cycled — the plaintext mysqld expects
    INSIDE the RSA envelope (auth.zig:120-127)."""
    pw = password + b"\x00"
    return bytes(c ^ nonce[i % len(nonce)] for i, c in enumerate(pw))


def scramble_caching_sha2(password: bytes, nonce: bytes) -> bytes:
    """caching_sha2_password fast path:
    SHA256(pw) XOR SHA256(SHA256(SHA256(pw)) + nonce)."""
    if not password:
        return b""
    p1 = hashlib.sha256(password).digest()
    p2 = hashlib.sha256(p1).digest()
    p3 = hashlib.sha256(p2 + nonce).digest()
    return bytes(a ^ b for a, b in zip(p1, p3))


_SCRAMBLERS = {
    "mysql_native_password": scramble_native,
    "caching_sha2_password": scramble_caching_sha2,
}


# ---------------------------------------------------------------------------
# greeting / packet plumbing
# ---------------------------------------------------------------------------


class Greeting:
    """Parsed handshake-v10 server greeting."""

    __slots__ = ("server_version", "thread_id", "nonce", "capabilities",
                 "charset", "status", "auth_plugin")

    def __init__(self, payload: bytes):
        if payload and payload[0] == 0xFF:
            raise CaptureError(_err_text(payload))
        if not payload or payload[0] != 10:
            raise CaptureError(f"unsupported handshake protocol {payload[:1]!r}")
        try:
            self._parse(payload)
        except (ValueError, IndexError) as e:
            # malformed greeting bytes must fail structured, never leak a
            # bare index/parse error to the daemon loop
            raise CaptureError(f"malformed handshake greeting: {e}") from e

    def _parse(self, payload: bytes) -> None:
        pos = 1
        end = payload.index(0, pos)
        self.server_version = payload[pos:end].decode("utf-8", "replace")
        pos = end + 1
        self.thread_id = int.from_bytes(payload[pos:pos + 4], "little")
        pos += 4
        part1 = payload[pos:pos + 8]
        pos += 8 + 1  # + filler
        cap_lo = int.from_bytes(payload[pos:pos + 2], "little")
        pos += 2
        self.charset = payload[pos]
        pos += 1
        self.status = int.from_bytes(payload[pos:pos + 2], "little")
        pos += 2
        cap_hi = int.from_bytes(payload[pos:pos + 2], "little")
        pos += 2
        self.capabilities = cap_lo | (cap_hi << 16)
        auth_len = payload[pos]
        pos += 1 + 10  # + reserved
        part2 = b""
        if self.capabilities & CLIENT_SECURE_CONNECTION:
            n2 = max(13, auth_len - 8)
            part2 = payload[pos:pos + n2]
            pos += n2
        # nonce = part1 + part2 minus the trailing NUL
        self.nonce = (part1 + part2).rstrip(b"\x00")[:20]
        self.auth_plugin = "mysql_native_password"
        if self.capabilities & CLIENT_PLUGIN_AUTH and pos < len(payload):
            end = payload.index(0, pos) if 0 in payload[pos:] else len(payload)
            self.auth_plugin = payload[pos:end].decode("utf-8", "replace")


def _err_text(payload: bytes) -> str:
    code = int.from_bytes(payload[1:3], "little")
    msg = payload[3:].decode("utf-8", "replace")
    return f"server ERR {code}: {msg[:200]}"


class MySQLBinlogClient:
    """Minimal replication client: handshake, auth, checksum setup, dump.

    Owns one socket; not thread-safe.  ``dump()`` yields raw event payloads
    (OK byte + header + body + CRC) exactly as ``packets_to_segments``
    expects them."""

    def __init__(
        self,
        host: str,
        port: int = 3306,
        user: str = "repl",
        password: str = "",
        server_id: int = 41112,
        timeout: float = 30.0,
        use_ssl: bool = False,
        ssl_context: "_ssl.SSLContext | None" = None,
        server_public_key: "str | bytes | None" = None,
    ):
        self.host, self.port = host, port
        self.user, self.password = user, password.encode()
        self.server_id = server_id
        self.timeout = timeout
        self.use_ssl = use_ssl
        self.ssl_context = ssl_context
        # Pinned server RSA public key for the plaintext caching_sha2 full
        # auth (the --server-public-key-path mitigation real clients offer,
        # mysql(1) "--server-public-key-path"): without it, the key arrives
        # over the unauthenticated wire, so an active MITM can substitute
        # its own key and — the XOR nonce also being on the wire — recover
        # the cleartext password.  Accepts a PEM file path or PEM bytes.
        # When pinned, the client never requests the key from the server.
        if isinstance(server_public_key, str):
            with open(server_public_key, "rb") as fh:
                server_public_key = fh.read()
        self.server_public_key = server_public_key
        self.sock: socket.socket | None = None
        self.greeting: Greeting | None = None
        self._seq = 0

    # -- packet layer ------------------------------------------------------

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise CaptureError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def _read_packet(self) -> bytes:
        """One logical payload (reassembles 16MB-split packets)."""
        out = bytearray()
        while True:
            hdr = self._recv_exact(4)
            ln = hdr[0] | (hdr[1] << 8) | (hdr[2] << 16)
            self._seq = (hdr[3] + 1) & 0xFF
            out += self._recv_exact(ln)
            if ln < MAX_PAYLOAD:
                return bytes(out)

    def _send_packet(self, payload: bytes, seq: int | None = None) -> None:
        if seq is None:
            seq = self._seq
        self.sock.sendall(
            len(payload).to_bytes(3, "little") + bytes([seq & 0xFF]) + payload
        )
        self._seq = (seq + 1) & 0xFF

    def _send_command(self, payload: bytes) -> None:
        self._send_packet(payload, seq=0)  # each command restarts seq

    # -- session -----------------------------------------------------------

    def connect(self) -> None:
        self.sock = socket.create_connection((self.host, self.port), self.timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.greeting = Greeting(self._read_packet())
        self._authenticate()

    def _client_capabilities(self) -> int:
        return (
            CLIENT_LONG_PASSWORD
            | CLIENT_LONG_FLAG
            | CLIENT_PROTOCOL_41
            | CLIENT_SECURE_CONNECTION
            | CLIENT_PLUGIN_AUTH
        )

    def _handshake_response(self, plugin: str, auth: bytes) -> bytes:
        caps = self._client_capabilities()
        return (
            struct.pack("<IIB23x", caps, MAX_PAYLOAD, 0x21)
            + self.user.encode() + b"\x00"
            + bytes([len(auth)]) + auth
            + plugin.encode() + b"\x00"
        )

    def _authenticate(self) -> None:
        g = self.greeting
        plugin = g.auth_plugin if g.auth_plugin in _SCRAMBLERS else "mysql_native_password"
        if self.use_ssl:
            # SSLRequest: same prelude as HandshakeResponse41, CLIENT_SSL set
            caps = self._client_capabilities() | CLIENT_SSL
            self._send_packet(struct.pack("<IIB23x", caps, MAX_PAYLOAD, 0x21))
            ctx = self.ssl_context or _ssl.create_default_context()
            self.sock = ctx.wrap_socket(self.sock, server_hostname=self.host)
        auth = _SCRAMBLERS[plugin](self.password, g.nonce)
        self._send_packet(self._handshake_response(plugin, auth))
        self._auth_result(plugin)

    def _auth_result(self, plugin: str) -> None:
        while True:
            p = self._read_packet()
            first = p[0] if p else None
            if first == 0x00:
                return  # OK
            if first == 0xFF:
                raise CaptureError(_err_text(p))
            if first == 0xFE:
                # AuthSwitchRequest: plugin NUL nonce
                end = p.index(0, 1)
                plugin = p[1:end].decode()
                nonce = p[end + 1:].rstrip(b"\x00")[:20]
                if plugin not in _SCRAMBLERS:
                    raise CaptureError(f"unsupported auth plugin {plugin!r}")
                self._send_packet(_SCRAMBLERS[plugin](self.password, nonce))
                continue
            if first == 0x01 and plugin == "caching_sha2_password":
                # AuthMoreData: 3 = fast-auth success (OK follows),
                # 4 = full auth needed
                status = p[1] if len(p) > 1 else None
                if status == 3:
                    continue
                if status == 4:
                    if isinstance(self.sock, _ssl.SSLSocket):
                        # over TLS the cleartext password is the protocol
                        self._send_packet(self.password + b"\x00")
                        continue
                    # plaintext socket: encrypt the XOR-scrambled password
                    # under RSA-OAEP with the server public key — pinned
                    # locally when configured (MITM-safe, like
                    # --server-public-key-path), else requested over the
                    # wire (0x02), which trusts the unauthenticated peer
                    if self.server_public_key is not None:
                        pub_n, pub_e = parse_rsa_public_pem(
                            self.server_public_key
                        )
                    else:
                        self._send_packet(b"\x02")
                        kp = self._read_packet()
                        if not kp or kp[0] != 0x01:
                            raise CaptureError(
                                f"expected AuthMoreData public key, got "
                                f"{kp[:1]!r}"
                            )
                        pub_n, pub_e = parse_rsa_public_pem(bytes(kp[1:]))
                    self._send_packet(
                        rsa_oaep_encrypt(
                            pub_n, pub_e,
                            xor_password_scramble(self.password, self.greeting.nonce),
                        )
                    )
                    continue
            raise CaptureError(f"unexpected auth packet first byte {first!r}")

    def query_ok(self, sql: str) -> None:
        """COM_QUERY that must return OK (SET statements)."""
        self._send_command(bytes([COM_QUERY]) + sql.encode())
        p = self._read_packet()
        if not p or p[0] == 0xFF:
            raise CaptureError(_err_text(p) if p else "empty response")
        if p[0] != 0x00:
            raise CaptureError(f"expected OK for {sql!r}, got {p[0]:#x}")

    def setup_session(self, heartbeat_s: float | None = None) -> None:
        """docs/CAPTURE.md §1.4: CRC32 framing is required by the engine."""
        self.query_ok("SET @master_binlog_checksum = 'CRC32'")
        if heartbeat_s:
            ns = int(heartbeat_s * 1e9)
            self.query_ok(f"SET @source_heartbeat_period = {ns}")

    # -- dump --------------------------------------------------------------

    def dump(self, binlog_file: str = "", binlog_pos: int = 4):
        """COM_BINLOG_DUMP; yields event payloads until EOF."""
        cmd = (
            bytes([COM_BINLOG_DUMP])
            + struct.pack("<IHI", binlog_pos, 0, self.server_id)
            + binlog_file.encode()
        )
        self._send_command(cmd)
        yield from self._event_stream()

    def dump_gtid(self, gtid_set) -> "object":
        """COM_BINLOG_DUMP_GTID with an executed-GTID set (GtidSet)."""
        sid_data = gtid_set.to_payload()
        cmd = (
            bytes([COM_BINLOG_DUMP_GTID])
            + struct.pack("<HI", 0, self.server_id)
            + struct.pack("<I", 0)  # binlog-filename len (GTID resume)
            + struct.pack("<Q", 4)  # binlog-pos
            + struct.pack("<I", len(sid_data))
            + sid_data
        )
        self._send_command(cmd)
        return self._event_stream()

    def _event_stream(self):
        while True:
            p = self._read_packet()
            first = p[0] if p else None
            if first == 0xFE and len(p) < 9:
                return  # EOF: clean end of dump
            if first == 0xFF:
                raise CaptureError(_err_text(p))
            if first != 0x00:
                raise CaptureError(f"unclassifiable packet first byte {first!r}")
            yield p

    def close(self) -> None:
        if self.sock is not None:
            try:
                self.sock.close()
            finally:
                self.sock = None


# ---------------------------------------------------------------------------
# capture loop: dump stream → incremental segment store
# ---------------------------------------------------------------------------


def capture_live(
    client: MySQLBinlogClient,
    out_dir: str,
    binlog_file: str = "",
    binlog_pos: int = 4,
    start_file_seq: int = 1,
    gtid_set=None,
) -> list[str]:
    """Connect, set up the session, dump, and write the segment store.

    ``gtid_set`` (a GtidSet) switches the dump to COM_BINLOG_DUMP_GTID —
    the server resumes from the first transaction NOT in the set (§4 GTID
    resume; a file/pos resume is the fallback).  Segments are flushed to
    parquet as each real ROTATE closes them (incremental — a crash loses
    at most the open segment, and §4 resume re-fetches it idempotently);
    `_resume.json` records the last ROTATE's next_file/next_pos after
    every flush."""
    client.connect()
    client.setup_session()
    if gtid_set is not None:
        payloads = client.dump_gtid(gtid_set)
    else:
        payloads = client.dump(binlog_file, binlog_pos)
    return store_stream(payloads, out_dir, start_file_seq)


def store_stream(payloads, out_dir: str, start_file_seq: int = 1) -> list[str]:
    """Incremental store writer: flush each segment as its ROTATE closes it
    (``capture_stub.iter_segments`` carries the splitter/stamping logic)."""
    written: list[str] = []
    state: dict = {}
    for fs, rows, resume in iter_segments(payloads, start_file_seq, state):
        written.extend(write_segments([(fs, rows)], out_dir))
        write_gtids(out_dir, state["executed"])
        if resume is not None:
            with open(os.path.join(out_dir, "_resume.json"), "w") as f:
                json.dump(resume, f)
    return written


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("out_dir")
    ap.add_argument("--host", required=True)
    ap.add_argument("--port", type=int, default=3306)
    ap.add_argument("--user", required=True)
    ap.add_argument("--password", default=os.environ.get("MYSQL_PWD", ""))
    ap.add_argument("--server-id", type=int, default=41112)
    ap.add_argument("--binlog-file", default="")
    ap.add_argument("--binlog-pos", type=int, default=4)
    ap.add_argument("--start-file-seq", type=int, default=1)
    ap.add_argument("--ssl", action="store_true")
    ap.add_argument(
        "--gtids",
        default="",
        help="executed-GTID set text for COM_BINLOG_DUMP_GTID resume "
        "(default: the store's _gtids.json when present)",
    )
    args = ap.parse_args(argv)

    # resume from a previous run's checkpoints when present (§4): the
    # executed-GTID set wins (server picks the exact resume point);
    # file/pos is the fallback
    gtid_set = None
    gtids_text = args.gtids
    gtids_path = os.path.join(args.out_dir, "_gtids.json")
    if not gtids_text and not args.binlog_file and os.path.exists(gtids_path):
        with open(gtids_path) as f:
            gtids_text = json.load(f).get("executed_gtid_set", "")
    if gtids_text:
        from myzql_binlog_connector_spark.binlog.gtid_set import GtidSet

        gtid_set = GtidSet.from_text(gtids_text)
    resume_path = os.path.join(args.out_dir, "_resume.json")
    binlog_file, binlog_pos = args.binlog_file, args.binlog_pos
    start_file_seq = args.start_file_seq
    resume = None
    if os.path.exists(resume_path):
        with open(resume_path) as f:
            resume = json.load(f)
    if gtid_set is None and not binlog_file and resume is not None:
        binlog_file, binlog_pos = resume["binlog_file"], resume["binlog_pos"]
    # restore segment numbering on BOTH resume paths (file/pos and GTID):
    # without this a restart re-writes segment-000001.parquet over already
    # captured segments; an explicit --start-file-seq still wins
    if resume is not None and start_file_seq == 1:
        start_file_seq = int(resume.get("next_file_seq", start_file_seq))

    client = MySQLBinlogClient(
        args.host, args.port, args.user, args.password,
        server_id=args.server_id, use_ssl=args.ssl,
    )
    try:
        paths = capture_live(
            client, args.out_dir, binlog_file, binlog_pos,
            start_file_seq, gtid_set=gtid_set,
        )
    finally:
        client.close()
    print(f"wrote {len(paths)} segment files to {args.out_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
