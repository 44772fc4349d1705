"""pgwire unit surface that needs no server: placeholder rewriting,
parameter encoding, OID decoding, DSN parsing — plus property tests
(the live integration lives in test_sink_postgres.py)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from hypothesis import given
from hypothesis import strategies as st

from apitap_spark.sinks.pgwire import (
    _decode_field,
    _encode_param,
    _format_to_dollar,
    _parse_dsn,
)


def test_format_to_dollar_basic():
    assert _format_to_dollar("SELECT %s, %s") == "SELECT $1, $2"
    assert _format_to_dollar("LIKE '10%%' AND x = %s") == "LIKE '10%' AND x = $1"
    assert _format_to_dollar("no params") == "no params"
    # trailing lone % survives
    assert _format_to_dollar("x % y") == "x % y"


@given(st.lists(st.sampled_from(["%s", "%%", "a", "'t'", " "]), max_size=30))
def test_format_to_dollar_numbers_sequentially(parts):
    sql = "".join(parts)
    out = _format_to_dollar(sql)
    n = parts.count("%s")
    for i in range(1, n + 1):
        assert f"${i}" in out
    assert "%s" not in out


def test_param_encoding_covers_sink_types():
    assert _encode_param(None) is None
    assert _encode_param(True) == b"t" and _encode_param(False) == b"f"
    assert _encode_param(42) == b"42"
    assert _encode_param(2.5) == b"2.5"
    assert _encode_param(Decimal("1.10")) == b"1.10"
    assert _encode_param(b"\x00\xff") == b"\\x00ff"
    assert _encode_param("snow ❄") == "snow ❄".encode()
    assert (
        _encode_param(dt.datetime(2026, 8, 15, 10, 30, 0, 123456))
        == b"2026-08-15 10:30:00.123456"
    )
    assert _encode_param(dt.date(2026, 8, 15)) == b"2026-08-15"


@given(st.floats(allow_nan=False, allow_infinity=False))
def test_float_roundtrip_via_repr(x):
    # repr() is shortest-roundtrip in py3: decode(encode(x)) == x exactly
    assert _decode_field(_encode_param(x), 701) == x


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_int_roundtrip(x):
    assert _decode_field(_encode_param(x), 20) == x


def test_oid_decode_table():
    assert _decode_field(b"t", 16) is True
    assert _decode_field(b"f", 16) is False
    assert _decode_field(None, 20) is None
    assert _decode_field(b"1.5", 1700) == Decimal("1.5")
    assert _decode_field(b"\\x00ff", 17) == b"\x00\xff"
    assert _decode_field(b"2026-08-15", 1082) == dt.date(2026, 8, 15)
    assert _decode_field(b"2026-08-15 10:30:00", 1114) == dt.datetime(
        2026, 8, 15, 10, 30
    )
    assert _decode_field(b"plain", 25) == "plain"


def test_dsn_parse():
    p = _parse_dsn("host=127.0.0.1 port=54329 user=postgres dbname=postgres")
    assert p == {
        "host": "127.0.0.1",
        "port": "54329",
        "user": "postgres",
        "dbname": "postgres",
    }


# --- SCRAM-SHA-256 against the RFC 7677 §3 test vector ----------------------


class _ScramCapture:
    """Stand-in for Connection: records what _scram_final sends."""

    _send = None
    sent: list[tuple[bytes, bytes]]

    def __init__(self):
        self.sent = []

    def _send(self, mtype, body):  # noqa: F811 - shadow the placeholder
        self.sent.append((mtype, body))


def test_scram_final_matches_rfc7677_vector():
    """Drive _scram_final/_scram_verify with RFC 7677 §3's exchange
    (user 'user', password 'pencil'): the client-final message and the
    accepted server signature must be byte-identical to the RFC."""
    from apitap_spark.sinks.pgwire import Connection

    cap = _ScramCapture()
    st_ = {
        "nonce": b"rOprNGfwEbeRWgbNEkqO",
        "bare": b"n=user,r=rOprNGfwEbeRWgbNEkqO",
        "cbind": b"biws",  # no channel binding in the RFC vector
    }
    server_first = (
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    Connection._scram_final(cap, st_, server_first, "pencil")
    assert cap.sent == [(
        b"p",
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=",
    )]
    assert Connection._scram_verify(
        st_, b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="
    )
    # a forged signature is rejected
    assert not Connection._scram_verify(
        st_, b"v=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA="
    )


def test_scram_final_rejects_nonce_truncation():
    """A server echoing a nonce that does not EXTEND the client nonce is
    a MITM downgrade attempt; the client must abort."""
    import pytest

    from apitap_spark.sinks.pgwire import Connection, PgError

    cap = _ScramCapture()
    st_ = {"nonce": b"clientnonce", "bare": b"n=,r=clientnonce", "cbind": b"biws"}
    with pytest.raises(PgError):
        Connection._scram_final(
            cap, st_, b"r=other,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096", "pw"
        )


# --- RFC 5929 certificate signature-hash selection (DER walk) -------------


def _tlv(tag: int, content: bytes) -> bytes:
    n = len(content)
    if n < 0x80:
        ln = bytes([n])
    else:
        b = n.to_bytes((n.bit_length() + 7) // 8, "big")
        ln = bytes([0x80 | len(b)]) + b
    return bytes([tag]) + ln + content


def _oid(dotted: str) -> bytes:
    parts = [int(x) for x in dotted.split(".")]
    body = bytearray([parts[0] * 40 + parts[1]])
    for v in parts[2:]:
        enc = bytearray([v & 0x7F])
        v >>= 7
        while v:
            enc.insert(0, 0x80 | (v & 0x7F))
            v >>= 7
        body += enc
    return _tlv(0x06, bytes(body))


def _fake_cert(sig_alg: bytes, tbs_extra: bytes = b"") -> bytes:
    tbs = _tlv(0x30, b"\x02\x01\x01" + tbs_extra)  # INTEGER 1 + filler
    sig_value = _tlv(0x03, b"\x00" + b"\xAB" * 16)  # BIT STRING
    return _tlv(0x30, tbs + sig_alg + sig_value)


def _alg(oid_dotted: str, params: bytes = b"\x05\x00") -> bytes:
    return _tlv(0x30, _oid(oid_dotted) + params)


def _pss_alg(hash_oid: str) -> bytes:
    hash_alg = _tlv(0x30, _oid(hash_oid) + b"\x05\x00")
    params = _tlv(0x30, _tlv(0xA0, hash_alg))
    return _tlv(0x30, _oid("1.2.840.113549.1.1.10") + params)


def test_cert_sig_hash_structural_walk():
    import hashlib

    from apitap_spark.sinks.pgwire import _cert_sig_hash

    cases = [
        (_alg("1.2.840.113549.1.1.11"), "sha256"),
        (_alg("1.2.840.113549.1.1.12"), "sha384"),
        (_alg("1.2.840.113549.1.1.13"), "sha512"),
        (_alg("1.2.840.10045.4.3.3"), "sha384"),   # ecdsa-with-SHA384
        (_alg("1.2.840.113549.1.1.5"), "sha256"),  # sha1 upgrades
        (_pss_alg("2.16.840.1.101.3.4.2.2"), "sha384"),  # RSA-PSS/SHA-384
        (_pss_alg("2.16.840.1.101.3.4.2.3"), "sha512"),  # RSA-PSS/SHA-512
    ]
    for alg, want in cases:
        der = _fake_cert(alg)
        assert _cert_sig_hash(der) == hashlib.new(want, der).digest(), want


def test_cert_sig_hash_ignores_decoy_oid_in_tbs():
    """A sha512WithRSAEncryption OID embedded in an EXTENSION must not
    flip the hash — the round-8 byte-sniff would have matched it."""
    import hashlib

    from apitap_spark.sinks.pgwire import _cert_sig_hash

    decoy = _alg("1.2.840.113549.1.1.13")  # whole AlgorithmIdentifier
    der = _fake_cert(_alg("1.2.840.113549.1.1.11"), tbs_extra=decoy)
    assert _cert_sig_hash(der) == hashlib.sha256(der).digest()


def test_cert_sig_hash_malformed_falls_back_sha256():
    import hashlib

    from apitap_spark.sinks.pgwire import _cert_sig_hash

    for der in (b"", b"\x30\x03\x02\x01", b"\xff" * 8):
        assert _cert_sig_hash(der) == hashlib.sha256(der).digest()


@given(st.binary(max_size=96))
def test_cert_sig_hash_total_on_arbitrary_bytes(junk):
    """The DER walk must be total: any byte soup falls back to SHA-256
    of the input, never an exception (a malformed certificate should
    fail the SCRAM proof, not crash the handshake)."""
    import hashlib

    from apitap_spark.sinks.pgwire import _cert_sig_hash

    out = _cert_sig_hash(junk)
    assert len(out) in (32, 48, 64)
    if len(out) == 32 and out == hashlib.sha256(junk).digest():
        return  # the overwhelmingly common fallback path
    # otherwise the walk genuinely parsed a signature algorithm; the
    # digest must be of the whole input under one of the table's algos
    assert out in {
        hashlib.new(a, junk).digest() for a in ("sha256", "sha384", "sha512")
    }


def _recv_exact(sock, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("client closed")
        buf += chunk
    return buf


def test_connection_sets_tcp_nodelay():
    """Every connection turns Nagle off: an extended query is five small
    writes, and with Nagle on the last ones wait for the server's delayed
    ACK (~44 ms a statement on loopback). An in-process server answers the
    startup packet with AuthenticationOk + ReadyForQuery."""
    import socket
    import struct
    import threading

    from apitap_spark.sinks.pgwire import Connection

    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]

    def serve():
        peer, _ = srv.accept()
        with peer:
            (n,) = struct.unpack(">i", _recv_exact(peer, 4))
            _recv_exact(peer, n - 4)  # startup packet
            peer.sendall(
                b"R" + struct.pack(">ii", 8, 0) + b"Z" + struct.pack(">i", 5) + b"I"
            )
            peer.recv(5)  # Terminate

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    conn = Connection(f"host=127.0.0.1 port={port} user=u")
    try:
        assert conn._sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
    finally:
        conn.close()
        t.join(5)
        srv.close()
    assert not t.is_alive()


def test_every_execute_parses_the_unnamed_statement():
    """Each execute Parses its SQL into the unnamed statement and Binds
    the unnamed portal to it: eight executes of one SQL string send eight
    Parse messages and no Close, and so do eight more after an
    ErrorResponse and a ``rollback()``. A scripted in-process server
    answers every message and records what the client sent."""
    import socket
    import struct
    import threading

    import pytest

    from apitap_spark.sinks.pgwire import Connection, PgError

    def msg(mtype: bytes, body: bytes = b"") -> bytes:
        return mtype + struct.pack(">i", len(body) + 4) + body

    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    sent: list[tuple[bytes, bytes]] = []

    def serve():
        peer, _ = srv.accept()
        with peer:
            (n,) = struct.unpack(">i", _recv_exact(peer, 4))
            _recv_exact(peer, n - 4)  # startup packet
            peer.sendall(msg(b"R", struct.pack(">i", 0)) + msg(b"Z", b"I"))
            status, failing = b"I", False
            while True:
                mtype = _recv_exact(peer, 1)
                (n,) = struct.unpack(">i", _recv_exact(peer, 4))
                body = _recv_exact(peer, n - 4)
                sent.append((mtype, body))
                if mtype == b"X":  # Terminate
                    return
                if mtype == b"Q":  # BEGIN / ROLLBACK
                    status = b"T" if body.startswith(b"BEGIN") else b"I"
                    peer.sendall(msg(b"C", body) + msg(b"Z", status))
                elif mtype == b"P":
                    failing = b"boom" in body
                elif mtype == b"S":  # answer the whole pipeline at Sync
                    if failing:
                        status = b"E"
                        reply = msg(b"E", b"SERROR\x00C42703\x00Mboom\x00\x00")
                    else:
                        reply = (
                            msg(b"1") + msg(b"2") + msg(b"n")
                            + msg(b"C", b"SELECT 0\x00")
                        )
                    peer.sendall(reply + msg(b"Z", status))

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    conn = Connection(f"host=127.0.0.1 port={port} user=u")
    try:
        cur = conn.cursor()
        for i in range(8):
            cur.execute("SELECT %s", (i,))
        with pytest.raises(PgError, match="boom"):
            cur.execute("SELECT boom")
        conn.rollback()
        for i in range(8):
            cur.execute("SELECT %s", (i,))
    finally:
        conn.close()
        t.join(5)
        srv.close()
    assert not t.is_alive()
    # Parse: unnamed statement, SQL, one parameter of OID 20 (int8)
    parse = b"\x00SELECT $1\x00" + struct.pack(">hi", 1, 20)
    parses = [body for mtype, body in sent if mtype == b"P"]
    assert parses == [parse] * 8 + [b"\x00SELECT boom\x00\x00\x00"] + [parse] * 8
    binds = [body for mtype, body in sent if mtype == b"B"]
    assert len(binds) == 17
    assert all(body.startswith(b"\x00\x00") for body in binds)  # portal, statement
    assert b"C" not in {mtype for mtype, _ in sent}  # no Close
    assert [body for mtype, body in sent if mtype == b"Q"] == [
        b"BEGIN\x00", b"ROLLBACK\x00", b"BEGIN\x00"
    ]
