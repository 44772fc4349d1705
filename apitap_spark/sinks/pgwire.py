"""Minimal pure-stdlib PostgreSQL client (frontend/backend protocol v3).

A dependency-free DB-API-ish driver for JdbcMergeWriter so the live
Postgres integration tests can run in environments that ship Postgres
but no psycopg (this container). Implements exactly the surface the
sink uses: connect → cursor → execute(sql, params) with ``%s``
placeholders → fetchone/fetchall → commit/rollback/close, with
psycopg-style implicit BEGIN.

Protocol (public spec: postgresql.org/docs/current/protocol.html):
startup + trust/cleartext/md5/SCRAM-SHA-256 auth (RFC 5802/7677 SASL,
the default password_encryption since PostgreSQL 14), TLS via the
SSLRequest dance (``sslmode=prefer|require|verify-ca|verify-full`` in
the DSN) including SCRAM-SHA-256-PLUS channel binding
(tls-server-end-point, RFC 5929), extended query
protocol (Parse/Bind/Describe/Execute/Sync) with all parameters and
results in text format, typed decode of the common OIDs, and
protocol-level COPY in both directions via ``Cursor.copy_expert`` —
COPY IN is how ``PostgresDialect.load`` writes every sink batch (into
the target on append, into the temp stage on merge); COPY OUT feeds the
apitap_postgres DataSource's per-stride bulk read.
Not implemented: binary format — the sink does not need it.
Every extended query Parses into the unnamed statement, so no
server-side statement outlives the query that made it: the pipeline
runs each statement once per connection, and the one repeat (a MERGE
partition over ``STAGE_BATCH_ROWS``) re-Parses a MERGE and a TRUNCATE
per chunk, microseconds against the chunk's COPY.
"""

from __future__ import annotations

import base64
import datetime as _dt
import hashlib
import hmac
import os
import socket
import struct
from decimal import Decimal


class PgError(Exception):
    """Server-reported error (SQLSTATE in .sqlstate)."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        self.sqlstate = fields.get("C", "")
        super().__init__(f"{fields.get('S', 'ERROR')}: {fields.get('M', '?')}")


def _parse_dsn(dsn: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for part in dsn.split():
        k, _, v = part.partition("=")
        out[k.strip()] = v.strip().strip("'")
    return out


def _encode_param(v) -> bytes | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return b"\\x" + bytes(v).hex().encode()
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return (
            v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
        ).encode()
    if isinstance(v, (int, float, Decimal)):
        return repr(v).encode() if isinstance(v, float) else str(v).encode()
    return str(v).encode()


def _decode_field(raw: bytes | None, oid: int):
    if raw is None:
        return None
    s = raw.decode("utf-8")
    if oid == 16:
        return s == "t"
    if oid in (20, 21, 23, 26, 28):
        return int(s)
    if oid in (700, 701):
        return float(s)
    if oid == 1700:
        return Decimal(s)
    if oid == 17 and s.startswith("\\x"):
        return bytes.fromhex(s[2:])
    if oid == 1082:
        return _dt.date.fromisoformat(s)
    if oid in (1114, 1184):
        try:
            return _dt.datetime.fromisoformat(s)
        except ValueError:
            return s
    return s


def _format_to_dollar(sql: str) -> str:
    """``%s`` placeholders → ``$1..$n`` (``%%`` unescapes to ``%``)."""
    out = []
    i = 0
    n = 1
    while i < len(sql):
        c = sql[i]
        if c == "%" and i + 1 < len(sql):
            nxt = sql[i + 1]
            if nxt == "s":
                out.append(f"${n}")
                n += 1
                i += 2
                continue
            if nxt == "%":
                out.append("%")
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


class Cursor:
    def __init__(self, conn: "Connection"):
        self._conn = conn
        self.description = None
        self.rowcount = -1
        self._rows: list[tuple] = []
        self._pos = 0

    def execute(self, sql: str, params=None):
        self._conn._ensure_txn()
        desc, rows, tag = self._conn._extended_query(
            _format_to_dollar(sql), list(params or ())
        )
        self.description = desc
        self._rows = rows
        self._pos = 0
        parts = (tag or "").split()
        self.rowcount = int(parts[-1]) if parts and parts[-1].isdigit() else -1
        return self

    def fetchone(self):
        if self._pos >= len(self._rows):
            return None
        row = self._rows[self._pos]
        self._pos += 1
        return row

    def fetchall(self):
        rows = self._rows[self._pos :]
        self._pos = len(self._rows)
        return rows

    def close(self):
        self._rows = []

    def copy_expert(self, sql: str, file) -> None:
        """COPY in either direction (psycopg2's copy_expert surface).

        ``COPY ... FROM STDIN``: data read from ``file`` and streamed as
        chunked CopyData frames — how JdbcMergeWriter loads every
        Postgres batch.

        ``COPY ... TO STDOUT``: CopyData frames written to ``file`` as
        they arrive (CopyOutResponse 'H' path) — the bulk read-back
        used by the apitap_postgres DataSource's per-stride COPY
        reader. Text/CSV payloads only; frames are written verbatim
        (bytes-mode file preferred; str-mode files get UTF-8 decodes).
        """
        conn = self._conn
        conn._ensure_txn()
        conn._send(b"Q", sql.encode() + b"\x00")
        direction = None
        while True:
            mtype, body = conn._recv_msg()
            if mtype == b"G":  # CopyInResponse
                direction = "in"
                break
            if mtype == b"H":  # CopyOutResponse
                direction = "out"
                break
            if mtype == b"E":
                conn._drain_to_ready(PgError(conn._err_fields(body)))
            # 'N'/'S' notices: skip
        if direction == "in":
            # Chunked read: never materialize the whole payload (a
            # caller may stream a multi-GB file; per-partition sink
            # batches are small either way). str-mode files encode per
            # chunk.
            while True:
                data = file.read(65536)
                if not data:
                    break
                if isinstance(data, str):
                    data = data.encode("utf-8")
                conn._send(b"d", data)
            conn._send(b"c", b"")
            conn._drain_to_ready()
            return
        # COPY OUT: stream server frames into `file` until CopyDone.
        text_mode = False
        while True:
            mtype, body = conn._recv_msg()
            if mtype == b"d":  # CopyData
                if text_mode:
                    file.write(body.decode("utf-8"))
                else:
                    try:
                        file.write(body)
                    except TypeError:  # str-mode file
                        text_mode = True
                        file.write(body.decode("utf-8"))
            elif mtype == b"c":  # CopyDone — CommandComplete follows
                conn._drain_to_ready()
                return
            elif mtype == b"E":
                conn._drain_to_ready(PgError(conn._err_fields(body)))
            # 'N'/'S' notices: skip


def _der_tlv(buf: bytes, i: int) -> tuple[int, int, int, int]:
    """One DER TLV: (tag, content_start, content_end, next_sibling)."""
    tag = buf[i]
    i += 1
    ln = buf[i]
    i += 1
    if ln & 0x80:
        n = ln & 0x7F
        ln = int.from_bytes(buf[i : i + n], "big")
        i += n
    return tag, i, i + ln, i + ln


def _der_oid(content: bytes) -> str:
    """Decode OID content bytes to dotted-decimal."""
    out = [str(content[0] // 40), str(content[0] % 40)]
    v = 0
    for b in content[1:]:
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            out.append(str(v))
            v = 0
    return ".".join(out)


# signatureAlgorithm OID -> digest for RFC 5929 tls-server-end-point.
# MD5/SHA-1 upgrade to SHA-256 per the RFC (so they map to sha256 here);
# absent entries fall back to SHA-256, matching libpq's conservative
# default for unrecognized algorithms (auth then fails closed).
_SIG_OID_HASH = {
    "1.2.840.113549.1.1.4": "sha256",   # md5WithRSAEncryption (upgrade)
    "1.2.840.113549.1.1.5": "sha256",   # sha1WithRSAEncryption (upgrade)
    "1.2.840.113549.1.1.11": "sha256",  # sha256WithRSAEncryption
    "1.2.840.113549.1.1.12": "sha384",  # sha384WithRSAEncryption
    "1.2.840.113549.1.1.13": "sha512",  # sha512WithRSAEncryption
    "1.2.840.10045.4.1": "sha256",      # ecdsa-with-SHA1 (upgrade)
    "1.2.840.10045.4.3.2": "sha256",    # ecdsa-with-SHA256
    "1.2.840.10045.4.3.3": "sha384",    # ecdsa-with-SHA384
    "1.2.840.10045.4.3.4": "sha512",    # ecdsa-with-SHA512
}
_PSS_HASH_OID = {
    "1.3.14.3.2.26": "sha256",          # sha1 (upgrade)
    "2.16.840.1.101.3.4.2.1": "sha256",
    "2.16.840.1.101.3.4.2.2": "sha384",
    "2.16.840.1.101.3.4.2.3": "sha512",
}
_OID_RSASSA_PSS = "1.2.840.113549.1.1.10"


def _cert_sig_hash(der: bytes) -> bytes:
    """RFC 5929 tls-server-end-point channel-binding data: the server
    certificate's DER hashed with its signature hash algorithm (MD5 and
    SHA-1 upgrade to SHA-256 per the RFC).

    The algorithm comes from a structural DER walk — Certificate ::=
    SEQUENCE { tbsCertificate, signatureAlgorithm AlgorithmIdentifier,
    signatureValue } — never a whole-DER byte sniff, so a coincidental
    OID byte pattern inside an extension cannot pick the wrong hash,
    and RSA-PSS resolves via the hashAlgorithm in its parameters
    (round-8 ADVICE #1). Unknown/malformed structures fall back to
    SHA-256 (libpq's default; a mismatch fails authentication closed).
    """
    algo = "sha256"
    try:
        _, cert_s, _cert_e, _ = _der_tlv(der, 0)        # Certificate
        _, _, _, after_tbs = _der_tlv(der, cert_s)      # skip tbsCertificate
        _, alg_s, alg_e, _ = _der_tlv(der, after_tbs)   # signatureAlgorithm
        oid_tag, oid_s, oid_e, after_oid = _der_tlv(der, alg_s)
        if oid_tag == 0x06:
            oid = _der_oid(der[oid_s:oid_e])
            if oid == _OID_RSASSA_PSS:
                # RSASSA-PSS-params ::= SEQUENCE { [0] hashAlgorithm ... };
                # an absent hashAlgorithm defaults to SHA-1 -> sha256
                if after_oid < alg_e:
                    _, ps, pe, _ = _der_tlv(der, after_oid)
                    i = ps
                    while i < pe:
                        t, cs, _ce, nxt = _der_tlv(der, i)
                        if t == 0xA0:  # [0] EXPLICIT hashAlgorithm
                            _, hs, _he, _ = _der_tlv(der, cs)
                            _, hos, hoe, _ = _der_tlv(der, hs)
                            algo = _PSS_HASH_OID.get(
                                _der_oid(der[hos:hoe]), "sha256"
                            )
                            break
                        i = nxt
            else:
                algo = _SIG_OID_HASH.get(oid, "sha256")
    except (IndexError, ValueError):
        algo = "sha256"
    return hashlib.new(algo, der).digest()


_SSLREQUEST = struct.pack(">ii", 8, 80877103)


class Connection:
    def __init__(self, dsn: str):
        p = _parse_dsn(dsn)
        self._sock = socket.create_connection(
            (p.get("host", "127.0.0.1"), int(p.get("port", "5432"))), timeout=30
        )
        # An extended query is five small sendall()s (Parse/Bind/Describe/
        # Execute/Sync); with Nagle on, the tail waits for the server's
        # delayed ACK — ~44 ms per statement measured on loopback, against
        # ~0.1 ms without. TLS wraps this same socket, so it covers both.
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = b""
        self._in_txn = False
        self.closed = False
        self._tls_cert_hash: bytes | None = None
        self.auth_mechanism: str | None = None  # e.g. "SCRAM-SHA-256-PLUS"
        sslmode = p.get("sslmode", "disable")
        if sslmode in ("prefer", "require", "verify-ca", "verify-full"):
            self._negotiate_tls(p, sslmode)
        user = p.get("user", "postgres")
        db = p.get("dbname", p.get("database", user))
        parts = [
            struct.pack(">i", 196608),
            b"user\x00", user.encode(), b"\x00",
            b"database\x00", db.encode(), b"\x00",
            b"client_encoding\x00UTF8\x00",
        ]
        # Session GUCs settable in the startup packet (protocol §53.2.1
        # run-time parameters) — the same knobs libpq exposes via
        # options=-c. Whitelisted: arbitrary pass-through would let a
        # typo'd DSN key silently become a rejected startup parameter.
        for guc in ("application_name", "timezone", "search_path",
                    "datestyle", "statement_timeout"):
            if p.get(guc):
                parts += [guc.encode(), b"\x00", p[guc].encode(), b"\x00"]
        parts.append(b"\x00")
        body = b"".join(parts)
        self._sock.sendall(struct.pack(">i", len(body) + 4) + body)
        self._auth(user, p.get("password", ""))
        # The 30s timeout guards connect + handshake only. Statements
        # get no implicit deadline (psycopg2 semantics — a MERGE batch
        # waiting on a lock or a TRUNCATE waiting on ACCESS EXCLUSIVE
        # may legitimately exceed any fixed recv timeout).
        self._sock.settimeout(None)

    def _negotiate_tls(self, p: dict[str, str], sslmode: str) -> None:
        """SSLRequest dance (public protocol §55.2.10): 8-byte request
        before the startup packet; 'S' upgrades the socket, 'N' means
        the server has no SSL (fatal for require/verify, plaintext for
        prefer). verify-ca/verify-full check against ``sslrootcert``;
        require encrypts without verification (libpq semantics). The
        peer certificate's RFC 5929 hash is kept for SCRAM channel
        binding."""
        import ssl

        self._sock.sendall(_SSLREQUEST)
        resp = self._sock.recv(1)
        if resp == b"N":
            if sslmode != "prefer":
                raise PgError(
                    {"S": "FATAL",
                     "M": f"server does not support SSL (sslmode={sslmode})"}
                )
            return
        if resp != b"S":
            raise PgError(
                {"S": "FATAL", "M": f"unexpected SSLRequest reply {resp!r}"}
            )
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        if sslmode in ("verify-ca", "verify-full"):
            root = p.get("sslrootcert")
            if not root:
                raise PgError(
                    {"S": "FATAL",
                     "M": f"sslmode={sslmode} requires sslrootcert"}
                )
            ctx.load_verify_locations(root)
            ctx.check_hostname = sslmode == "verify-full"
        else:
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        self._sock = ctx.wrap_socket(
            self._sock, server_hostname=p.get("host", "127.0.0.1")
        )
        der = self._sock.getpeercert(binary_form=True)
        if der:
            self._tls_cert_hash = _cert_sig_hash(der)

    # -- wire helpers -------------------------------------------------------
    def _recv_msg(self) -> tuple[bytes, bytes]:
        while len(self._buf) < 5:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError({"S": "FATAL", "M": "connection closed by server"})
            self._buf += chunk
        mtype = self._buf[:1]
        (mlen,) = struct.unpack(">i", self._buf[1:5])
        while len(self._buf) < 1 + mlen:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError({"S": "FATAL", "M": "connection closed by server"})
            self._buf += chunk
        body = self._buf[5 : 1 + mlen]
        self._buf = self._buf[1 + mlen :]
        return mtype, body

    def _send(self, mtype: bytes, body: bytes) -> None:
        self._sock.sendall(mtype + struct.pack(">i", len(body) + 4) + body)

    @staticmethod
    def _err_fields(body: bytes) -> dict[str, str]:
        fields = {}
        for part in body.split(b"\x00"):
            if part:
                fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
        return fields

    def _auth(self, user: str, password: str) -> None:
        scram: dict[str, bytes] | None = None
        while True:
            mtype, body = self._recv_msg()
            if mtype == b"R":
                (code,) = struct.unpack(">i", body[:4])
                if code == 0:
                    continue
                if code == 3:  # cleartext
                    self._send(b"p", password.encode() + b"\x00")
                elif code == 5:  # md5
                    salt = body[4:8]
                    inner = hashlib.md5(
                        password.encode() + user.encode()
                    ).hexdigest()
                    digest = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send(b"p", b"md5" + digest.encode() + b"\x00")
                elif code == 10:  # AuthenticationSASL: mechanism list
                    mechs = [m for m in body[4:].split(b"\x00") if m]
                    use_plus = (
                        b"SCRAM-SHA-256-PLUS" in mechs
                        and self._tls_cert_hash is not None
                    )
                    if not use_plus and b"SCRAM-SHA-256" not in mechs:
                        raise PgError(
                            {"S": "FATAL",
                             "M": f"no supported SASL mechanism in {mechs}"}
                        )
                    scram = self._scram_first(use_plus)
                elif code == 11:  # AuthenticationSASLContinue
                    if scram is None:
                        raise PgError(
                            {"S": "FATAL", "M": "SASLContinue before SASL"}
                        )
                    self._scram_final(scram, body[4:], password)
                elif code == 12:  # AuthenticationSASLFinal: verify server sig
                    if scram is None or not self._scram_verify(scram, body[4:]):
                        raise PgError(
                            {"S": "FATAL",
                             "M": "SCRAM server signature verification failed"}
                        )
                else:
                    raise PgError(
                        {"S": "FATAL", "M": f"auth method {code} not supported"}
                    )
            elif mtype == b"E":
                raise PgError(self._err_fields(body))
            elif mtype == b"Z":
                return
            # 'S' ParameterStatus / 'K' BackendKeyData / 'N' notices: skip

    # -- SCRAM-SHA-256[-PLUS] (RFC 5802/7677/5929) --------------------------
    def _scram_first(self, use_plus: bool = False) -> dict[str, bytes]:
        """Send SASLInitialResponse; return the exchange state. The
        username in client-first is empty by PostgreSQL convention (the
        startup-packet user wins; SASLprep of the name is sidestepped).

        gs2 header: ``p=tls-server-end-point`` with the cert hash as
        channel-binding data when the server offered -PLUS over TLS;
        ``y`` when we are on TLS but the server lacks -PLUS (lets the
        server detect a stripped mechanism list); plain ``n`` off TLS.
        """
        nonce = base64.b64encode(os.urandom(18))
        bare = b"n=,r=" + nonce
        if use_plus:
            gs2 = b"p=tls-server-end-point,,"
            mech = b"SCRAM-SHA-256-PLUS"
            cbind = base64.b64encode(gs2 + (self._tls_cert_hash or b""))
        elif self._tls_cert_hash is not None:
            gs2 = b"y,,"
            mech = b"SCRAM-SHA-256"
            cbind = base64.b64encode(gs2)
        else:
            gs2 = b"n,,"
            mech = b"SCRAM-SHA-256"
            cbind = b"biws"  # b64("n,,")
        self.auth_mechanism = mech.decode()
        initial = gs2 + bare
        msg = mech + b"\x00" + struct.pack(">i", len(initial)) + initial
        self._send(b"p", msg)
        return {"nonce": nonce, "bare": bare, "cbind": cbind}

    def _scram_final(
        self, st: dict[str, bytes], server_first: bytes, password: str
    ) -> None:
        attrs = dict(
            p.split(b"=", 1) for p in server_first.split(b",") if b"=" in p
        )
        r, s, i = attrs[b"r"], attrs[b"s"], int(attrs[b"i"])
        if not r.startswith(st["nonce"]):
            raise PgError(
                {"S": "FATAL", "M": "SCRAM server nonce does not extend ours"}
            )
        # Password is used UTF-8 verbatim (SASLprep is identity for the
        # ASCII passwords this sink configures; RFC 5802 permits this).
        salted = hashlib.pbkdf2_hmac(
            "sha256", password.encode("utf-8"), base64.b64decode(s), i
        )
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        without_proof = b"c=" + st["cbind"] + b",r=" + r
        auth_msg = st["bare"] + b"," + server_first + b"," + without_proof
        sig = hmac.new(stored_key, auth_msg, hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, sig))
        self._send(b"p", without_proof + b",p=" + base64.b64encode(proof))
        server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        st["server_sig"] = hmac.new(
            server_key, auth_msg, hashlib.sha256
        ).digest()

    @staticmethod
    def _scram_verify(st: dict[str, bytes], server_final: bytes) -> bool:
        attrs = dict(
            p.split(b"=", 1) for p in server_final.split(b",") if b"=" in p
        )
        v = attrs.get(b"v")
        return v is not None and hmac.compare_digest(
            base64.b64decode(v), st.get("server_sig", b"")
        )

    def _drain_to_ready(self, first_error: PgError | None = None):
        """Consume until ReadyForQuery; re-raise the first error seen."""
        err = first_error
        while True:
            mtype, body = self._recv_msg()
            if mtype == b"E" and err is None:
                err = PgError(self._err_fields(body))
            if mtype == b"Z":
                self._in_txn = body != b"I"
                if err:
                    raise err
                return

    # -- query execution ------------------------------------------------------
    @staticmethod
    def _param_oid(v) -> int:
        """Parse-time type OID per Python type: a typed parameter gives a
        typed result column (``SELECT %s`` of an int decodes as an int,
        not text) and a typed comparison where PostgreSQL cannot infer
        one from context (an untyped parameter defaults to text, and
        ``bigint = text`` fails). Strings stay OID 0 (unknown) so they
        coerce to any target type."""
        if isinstance(v, bool):
            return 16
        if isinstance(v, int):
            return 20
        if isinstance(v, float):
            return 701
        if isinstance(v, Decimal):
            return 1700
        if isinstance(v, (bytes, bytearray, memoryview)):
            return 17
        if isinstance(v, _dt.datetime):
            return 1114
        if isinstance(v, _dt.date):
            return 1082
        return 0

    def _extended_query(self, sql: str, params: list):
        parse = b"\x00" + sql.encode() + b"\x00" + struct.pack(">h", len(params))
        for v in params:
            parse += struct.pack(">i", self._param_oid(v))
        self._send(b"P", parse)  # the unnamed statement
        bind = [b"\x00\x00", struct.pack(">h", 0)]  # text params
        bind.append(struct.pack(">h", len(params)))
        for v in params:
            enc = _encode_param(v)
            if enc is None:
                bind.append(struct.pack(">i", -1))
            else:
                bind.append(struct.pack(">i", len(enc)) + enc)
        bind.append(struct.pack(">h", 0))  # text results
        self._send(b"B", b"".join(bind))
        self._send(b"D", b"P\x00")
        self._send(b"E", b"\x00" + struct.pack(">i", 0))
        self._send(b"S", b"")
        desc = None
        oids: list[int] = []
        rows: list[tuple] = []
        tag = ""
        err: PgError | None = None
        while True:
            mtype, body = self._recv_msg()
            if mtype == b"T":
                (nf,) = struct.unpack(">h", body[:2])
                pos = 2
                desc = []
                oids = []
                for _ in range(nf):
                    zero = body.index(b"\x00", pos)
                    name = body[pos:zero].decode()
                    (oid,) = struct.unpack(">i", body[zero + 7 : zero + 11])
                    desc.append((name, oid, None, None, None, None, None))
                    oids.append(oid)
                    pos = zero + 19
            elif mtype == b"D":
                (nf,) = struct.unpack(">h", body[:2])
                pos = 2
                vals = []
                for f in range(nf):
                    (ln,) = struct.unpack(">i", body[pos : pos + 4])
                    pos += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(_decode_field(body[pos : pos + ln], oids[f]))
                        pos += ln
                rows.append(tuple(vals))
            elif mtype == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif mtype == b"E":
                if err is None:
                    err = PgError(self._err_fields(body))
            elif mtype == b"Z":
                self._in_txn = body != b"I"
                if err:
                    raise err
                return desc, rows, tag
            # '1' ParseComplete, '2' BindComplete, 'n' NoData,
            # 'N' notices, 'S' parameter status: skip

    def _simple(self, sql: str) -> None:
        self._send(b"Q", sql.encode() + b"\x00")
        self._drain_to_ready()

    def _ensure_txn(self) -> None:
        if not self._in_txn:
            self._simple("BEGIN")

    # -- DB-API surface -------------------------------------------------------
    def cursor(self) -> Cursor:
        return Cursor(self)

    def commit(self) -> None:
        if self._in_txn:
            self._simple("COMMIT")

    def rollback(self) -> None:
        if self._in_txn:
            self._simple("ROLLBACK")

    def close(self) -> None:
        if not self.closed:
            try:
                self._sock.sendall(b"X" + struct.pack(">i", 4))
            except OSError:
                pass
            self._sock.close()
            self.closed = True


def connect(dsn: str) -> Connection:
    """psycopg-style ``connect("host=... port=... user=... dbname=...")``."""
    return Connection(dsn)
