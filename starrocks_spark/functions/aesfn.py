"""__sr_aes_encrypt / __sr_aes_decrypt — MySQL/StarRocks AES.

Port of the reference's AES surface (be/src/base/crypto/aes_util.cpp,
be/src/exprs/encryption_functions.cpp):
- the key is XOR-FOLDED onto the mode's key size (aes_create_key:128
  — MySQL semantics: a 32-char key still drives AES-128 by default);
- default mode AES_128_ECB; the 4/5-arg form names a mode
  AES_{128,192,256}_{ECB,CBC,CFB,CFB1,CFB8,CFB128,OFB,CTR,GCM};
- the IV buffer is zero-filled, then min(len, iv_len) bytes of the
  given IV are copied in; an EMPTY IV falls back to the literal
  default "STARROCKS_16BYTE" (aes_util.h:70); a NULL IV is NULL for
  iv-taking modes and ignored for ECB;
- block modes pad PKCS7, stream modes don't; GCM output is
  [IV(12)][ciphertext][TAG(16)] (do_gcm_encrypt:222);
- any failure (bad padding, bad tag, bad data) decrypts to NULL.

CFB1 is not exposed by the `cryptography` package, so it runs as a
bit-by-bit loop over the raw block cipher — fine for the
statement-gated acceptance surface.
"""
from __future__ import annotations

DEFAULT_IV = b"STARROCKS_16BYTE"
_GCM_TAG = 16


def _fold_key(key: bytes, size: int) -> bytes:
    out = bytearray(size)
    for i, b in enumerate(key):
        out[i % size] ^= b
    return bytes(out)


def _parse_mode(mode: str):
    m = (mode or "AES_128_ECB").strip().upper()
    parts = m.split("_")
    if len(parts) != 3 or parts[0] != "AES" \
            or parts[1] not in ("128", "192", "256"):
        return None
    return int(parts[1]) // 8, parts[2]


def _iv_len(alg: str) -> int:
    if alg == "ECB":
        return 0
    if alg == "GCM":
        return 12
    return 16


def _mk_iv(iv, n: int):
    if n == 0:
        return b""
    if iv is None:
        return None
    src = iv if iv else DEFAULT_IV
    buf = bytearray(n)
    buf[:min(len(src), n)] = src[:min(len(src), n)]
    return bytes(buf)


def _cipher(alg: str, key: bytes, iv: bytes):
    from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                        algorithms,
                                                        modes)
    a = algorithms.AES(key)
    if alg == "ECB":
        return Cipher(a, modes.ECB())
    if alg == "CBC":
        return Cipher(a, modes.CBC(iv))
    if alg in ("CFB", "CFB128"):
        return Cipher(a, modes.CFB(iv))
    if alg == "CFB8":
        return Cipher(a, modes.CFB8(iv))
    if alg == "OFB":
        return Cipher(a, modes.OFB(iv))
    if alg == "CTR":
        return Cipher(a, modes.CTR(iv))
    return None


def _cfb1(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                        algorithms,
                                                        modes)
    enc = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
    sr = int.from_bytes(iv, "big")
    out = bytearray()
    cur = 0
    for byte in data:
        for bit in range(7, -1, -1):
            ks = enc.update(sr.to_bytes(16, "big"))[0] >> 7
            p = (byte >> bit) & 1
            c = p ^ ks
            fb = c if encrypt else p
            sr = ((sr << 1) | fb) & ((1 << 128) - 1)
            cur = (cur << 1) | c
        out.append(cur & 0xFF)
        cur = 0
    return bytes(out)


def aes_apply(data, key, iv, mode, aad, encrypt: bool):
    if data is None or key is None:
        return None
    parsed = _parse_mode(mode)
    if parsed is None:
        return None
    ksize, alg = parsed
    k = _fold_key(key, ksize)
    n = _iv_len(alg)
    ivb = _mk_iv(iv, n)
    if n and ivb is None:
        return None  # NULL IV with an iv-taking mode
    try:
        if alg == "GCM":
            from cryptography.hazmat.primitives.ciphers.aead import \
                AESGCM
            g = AESGCM(k)
            if encrypt:
                return ivb + g.encrypt(ivb, data, aad)
            if len(data) < n + _GCM_TAG:
                return None
            return g.decrypt(data[:n], data[n:], aad)
        if aad:  # AAD is GCM-only (analyzer-gated; defense in depth)
            return None
        if alg == "CFB1":
            return _cfb1(k, ivb, data, encrypt)
        c = _cipher(alg, k, ivb)
        if c is None:
            return None
        if alg in ("ECB", "CBC"):
            if encrypt:
                pad = 16 - len(data) % 16
                data = data + bytes([pad]) * pad
                e = c.encryptor()
                return e.update(data) + e.finalize()
            if not data or len(data) % 16:
                return None
            d = c.decryptor()
            out = d.update(data) + d.finalize()
            pad = out[-1] if out else 0
            if not (1 <= pad <= 16) or out[-pad:] != bytes([pad]) * pad:
                return None
            return out[:-pad]
        op = c.encryptor() if encrypt else c.decryptor()
        return op.update(data) + op.finalize()
    except Exception:  # noqa: BLE001 — bad data decrypts to NULL
        return None


def register(spark) -> None:
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _mk(encrypt):
        def _fn(datas, keys, ivs, modes_, aads):
            out = []
            for d, k, i, m, a in zip(datas.to_pylist(),
                                     keys.to_pylist(),
                                     ivs.to_pylist(),
                                     modes_.to_pylist(),
                                     aads.to_pylist()):
                out.append(aes_apply(d, k, i, m, a, encrypt))
            return pa.array(out, pa.binary())
        return _fn

    spark.udf.register("__sr_aes_encrypt",
                       arrow_udf(_mk(True), "binary"))
    spark.udf.register("__sr_aes_decrypt",
                       arrow_udf(_mk(False), "binary"))
