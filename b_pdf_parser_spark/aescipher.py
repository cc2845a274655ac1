"""Pure-Python AES-CBC (FIPS-197 / SP 800-38A) for PDF standard-security
decryption (PDF 1.7/2.0 §7.6.3: /AESV2 = AES-128-CBC, /AESV3 = AES-256-CBC,
each string/stream carrying a 16-byte IV prefix and PKCS#7 padding).

No crypto library exists in the runtime, so the cipher is implemented from
the public spec. The S-box is *generated* (GF(2^8) inverse + affine map)
rather than pasted, and the implementation is validated against the FIPS-197
appendix C known-answer vectors in ``tests/test_pdfmodel.py``.

Performance: this is a per-byte-table Python implementation (~0.5 MB/s) —
three orders slower than hardware AES, but encrypted-PDF streams are a few
KB and a small corpus fraction; the cost is bounded and measured in
BENCH/BASELINE.md. Speed was deliberately traded for an auditable,
dependency-free implementation.
"""

from __future__ import annotations

from typing import List

__all__ = ["aes_cbc_decrypt", "aes_cbc_encrypt", "aes_cbc_nopad_encrypt"]


# -- S-box generation (GF(2^8) inverse + affine transform, FIPS-197 §5.1.1) --

def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _make_sbox() -> tuple:
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gmul(x, y) == 1:
                inv[x] = y
                break
    sbox = [0] * 256
    for x in range(256):
        b = inv[x]
        s = 0
        for i in range(8):
            bit = (
                (b >> i) ^ (b >> ((i + 4) % 8)) ^ (b >> ((i + 5) % 8))
                ^ (b >> ((i + 6) % 8)) ^ (b >> ((i + 7) % 8)) ^ (0x63 >> i)
            ) & 1
            s |= bit << i
        sbox[x] = s
    isbox = [0] * 256
    for x, s in enumerate(sbox):
        isbox[s] = x
    return tuple(sbox), tuple(isbox)


_SBOX, _ISBOX = _make_sbox()
_RCON = [1]
for _ in range(13):
    _RCON.append(_gmul(_RCON[-1], 2))

# per-byte multiplication tables for MixColumns / InvMixColumns
_M2 = tuple(_gmul(x, 2) for x in range(256))
_M3 = tuple(_gmul(x, 3) for x in range(256))
_M9 = tuple(_gmul(x, 9) for x in range(256))
_M11 = tuple(_gmul(x, 11) for x in range(256))
_M13 = tuple(_gmul(x, 13) for x in range(256))
_M14 = tuple(_gmul(x, 14) for x in range(256))

# 32-bit T-tables (the classic software-AES construction: one round =
# 16 table lookups + xors on packed columns). ~5× the per-byte form in
# CPython — this matters because the R6 KDF (Algorithm 2.B) runs ≥64
# CBC passes over a multi-KB buffer per document.
_TE = tuple(
    tuple(
        (_M2[s] << 24) | (s << 16) | (s << 8) | _M3[s]
        for s in (_SBOX[x] for x in range(256))
    )
    for _ in (0,)
)[0]
_TE0 = _TE
_TE1 = tuple(((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TE0)
_TE2 = tuple(((t >> 16) | ((t & 0xFFFF) << 16)) & 0xFFFFFFFF for t in _TE0)
_TE3 = tuple(((t >> 24) | ((t & 0xFFFFFF) << 8)) & 0xFFFFFFFF for t in _TE0)
_TD = tuple(
    (_M14[x] << 24) | (_M9[x] << 16) | (_M13[x] << 8) | _M11[x] for x in range(256)
)
_TD0 = tuple(_TD[_ISBOX[x]] for x in range(256))
_TD1 = tuple(((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TD0)
_TD2 = tuple(((t >> 16) | ((t & 0xFFFF) << 16)) & 0xFFFFFFFF for t in _TD0)
_TD3 = tuple(((t >> 24) | ((t & 0xFFFFFF) << 8)) & 0xFFFFFFFF for t in _TD0)


def _expand_key(key: bytes) -> List[List[int]]:
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError("AES key must be 16/24/32 bytes")
    nr = nk + 6
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(words[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        words.append([a ^ b for a, b in zip(words[i - nk], t)])
    # group into 16-byte round keys
    return [sum(words[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _enc_words(rk: List[List[int]]) -> List[List[int]]:
    """Per-round big-endian 32-bit words of the expanded key."""
    return [
        [int.from_bytes(bytes(r[4 * i : 4 * i + 4]), "big") for i in range(4)]
        for r in rk
    ]


def _dec_words(rk: List[List[int]]) -> List[List[int]]:
    """Equivalent-inverse-cipher round keys: InvMixColumns applied to the
    middle round keys (word form)."""
    out = []
    nr = len(rk) - 1
    for rnd, r in enumerate(rk):
        if rnd in (0, nr):
            out.append(
                [int.from_bytes(bytes(r[4 * i : 4 * i + 4]), "big") for i in range(4)]
            )
            continue
        words = []
        for i in range(4):
            a, b, c, d = r[4 * i : 4 * i + 4]
            words.append(
                ((_M14[a] ^ _M11[b] ^ _M13[c] ^ _M9[d]) << 24)
                | ((_M9[a] ^ _M14[b] ^ _M11[c] ^ _M13[d]) << 16)
                | ((_M13[a] ^ _M9[b] ^ _M14[c] ^ _M11[d]) << 8)
                | (_M11[a] ^ _M13[b] ^ _M9[c] ^ _M14[d])
            )
        out.append(words)
    return out


def _encrypt_block_w(kw: List[List[int]], block: bytes) -> bytes:
    k = kw[0]
    s0 = int.from_bytes(block[0:4], "big") ^ k[0]
    s1 = int.from_bytes(block[4:8], "big") ^ k[1]
    s2 = int.from_bytes(block[8:12], "big") ^ k[2]
    s3 = int.from_bytes(block[12:16], "big") ^ k[3]
    nr = len(kw) - 1
    T0, T1, T2, T3 = _TE0, _TE1, _TE2, _TE3
    for rnd in range(1, nr):
        k = kw[rnd]
        t0 = T0[s0 >> 24] ^ T1[(s1 >> 16) & 255] ^ T2[(s2 >> 8) & 255] ^ T3[s3 & 255] ^ k[0]
        t1 = T0[s1 >> 24] ^ T1[(s2 >> 16) & 255] ^ T2[(s3 >> 8) & 255] ^ T3[s0 & 255] ^ k[1]
        t2 = T0[s2 >> 24] ^ T1[(s3 >> 16) & 255] ^ T2[(s0 >> 8) & 255] ^ T3[s1 & 255] ^ k[2]
        t3 = T0[s3 >> 24] ^ T1[(s0 >> 16) & 255] ^ T2[(s1 >> 8) & 255] ^ T3[s2 & 255] ^ k[3]
        s0, s1, s2, s3 = t0, t1, t2, t3
    k = kw[nr]
    S = _SBOX
    o0 = ((S[s0 >> 24] << 24) | (S[(s1 >> 16) & 255] << 16)
          | (S[(s2 >> 8) & 255] << 8) | S[s3 & 255]) ^ k[0]
    o1 = ((S[s1 >> 24] << 24) | (S[(s2 >> 16) & 255] << 16)
          | (S[(s3 >> 8) & 255] << 8) | S[s0 & 255]) ^ k[1]
    o2 = ((S[s2 >> 24] << 24) | (S[(s3 >> 16) & 255] << 16)
          | (S[(s0 >> 8) & 255] << 8) | S[s1 & 255]) ^ k[2]
    o3 = ((S[s3 >> 24] << 24) | (S[(s0 >> 16) & 255] << 16)
          | (S[(s1 >> 8) & 255] << 8) | S[s2 & 255]) ^ k[3]
    return (
        o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
        + o2.to_bytes(4, "big") + o3.to_bytes(4, "big")
    )


def _decrypt_block_w(kw: List[List[int]], block: bytes) -> bytes:
    nr = len(kw) - 1
    k = kw[nr]
    s0 = int.from_bytes(block[0:4], "big") ^ k[0]
    s1 = int.from_bytes(block[4:8], "big") ^ k[1]
    s2 = int.from_bytes(block[8:12], "big") ^ k[2]
    s3 = int.from_bytes(block[12:16], "big") ^ k[3]
    T0, T1, T2, T3 = _TD0, _TD1, _TD2, _TD3
    for rnd in range(nr - 1, 0, -1):
        k = kw[rnd]
        t0 = T0[s0 >> 24] ^ T1[(s3 >> 16) & 255] ^ T2[(s2 >> 8) & 255] ^ T3[s1 & 255] ^ k[0]
        t1 = T0[s1 >> 24] ^ T1[(s0 >> 16) & 255] ^ T2[(s3 >> 8) & 255] ^ T3[s2 & 255] ^ k[1]
        t2 = T0[s2 >> 24] ^ T1[(s1 >> 16) & 255] ^ T2[(s0 >> 8) & 255] ^ T3[s3 & 255] ^ k[2]
        t3 = T0[s3 >> 24] ^ T1[(s2 >> 16) & 255] ^ T2[(s1 >> 8) & 255] ^ T3[s0 & 255] ^ k[3]
        s0, s1, s2, s3 = t0, t1, t2, t3
    k = kw[0]
    S = _ISBOX
    o0 = ((S[s0 >> 24] << 24) | (S[(s3 >> 16) & 255] << 16)
          | (S[(s2 >> 8) & 255] << 8) | S[s1 & 255]) ^ k[0]
    o1 = ((S[s1 >> 24] << 24) | (S[(s0 >> 16) & 255] << 16)
          | (S[(s3 >> 8) & 255] << 8) | S[s2 & 255]) ^ k[1]
    o2 = ((S[s2 >> 24] << 24) | (S[(s1 >> 16) & 255] << 16)
          | (S[(s0 >> 8) & 255] << 8) | S[s3 & 255]) ^ k[2]
    o3 = ((S[s3 >> 24] << 24) | (S[(s2 >> 16) & 255] << 16)
          | (S[(s1 >> 8) & 255] << 8) | S[s0 & 255]) ^ k[3]
    return (
        o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
        + o2.to_bytes(4, "big") + o3.to_bytes(4, "big")
    )


_NP_TD = None


def _np_tables():
    """The decrypt T-tables as numpy uint32 arrays (built once)."""
    global _NP_TD
    if _NP_TD is None:
        import numpy as np

        _NP_TD = (
            np.array(_TD0, dtype=np.uint32),
            np.array(_TD1, dtype=np.uint32),
            np.array(_TD2, dtype=np.uint32),
            np.array(_TD3, dtype=np.uint32),
            np.array(_ISBOX, dtype=np.uint32),
        )
    return _NP_TD


def _decrypt_blocks_np(kw: List[List[int]], blocks: bytes) -> bytes:
    """ECB-decrypt every 16-byte block of ``blocks`` AT ONCE: the same
    equivalent-inverse-cipher rounds as :func:`_decrypt_block_w`, but each
    T-table lookup is a vectorized numpy gather over all blocks — CBC
    *decryption* is block-parallel (P_i = D(C_i) XOR C_{i-1}), so a
    document's whole stream decrypts in ~10 numpy passes instead of a
    Python loop per block (measured ~7x on multi-KB streams). Bit
    equality with the scalar path is pinned by tests."""
    import numpy as np

    T0, T1, T2, T3, IS = _np_tables()
    n = len(blocks) // 16
    w = np.frombuffer(blocks, dtype=">u4").reshape(n, 4).astype(np.uint32)
    nr = len(kw) - 1
    k = kw[nr]
    s0 = w[:, 0] ^ np.uint32(k[0])
    s1 = w[:, 1] ^ np.uint32(k[1])
    s2 = w[:, 2] ^ np.uint32(k[2])
    s3 = w[:, 3] ^ np.uint32(k[3])
    for rnd in range(nr - 1, 0, -1):
        k = kw[rnd]
        t0 = T0[s0 >> 24] ^ T1[(s3 >> 16) & 255] ^ T2[(s2 >> 8) & 255] ^ T3[s1 & 255] ^ np.uint32(k[0])
        t1 = T0[s1 >> 24] ^ T1[(s0 >> 16) & 255] ^ T2[(s3 >> 8) & 255] ^ T3[s2 & 255] ^ np.uint32(k[1])
        t2 = T0[s2 >> 24] ^ T1[(s1 >> 16) & 255] ^ T2[(s0 >> 8) & 255] ^ T3[s3 & 255] ^ np.uint32(k[2])
        t3 = T0[s3 >> 24] ^ T1[(s2 >> 16) & 255] ^ T2[(s1 >> 8) & 255] ^ T3[s0 & 255] ^ np.uint32(k[3])
        s0, s1, s2, s3 = t0, t1, t2, t3
    k = kw[0]
    o0 = ((IS[s0 >> 24] << 24) | (IS[(s3 >> 16) & 255] << 16)
          | (IS[(s2 >> 8) & 255] << 8) | IS[s1 & 255]) ^ np.uint32(k[0])
    o1 = ((IS[s1 >> 24] << 24) | (IS[(s0 >> 16) & 255] << 16)
          | (IS[(s3 >> 8) & 255] << 8) | IS[s2 & 255]) ^ np.uint32(k[1])
    o2 = ((IS[s2 >> 24] << 24) | (IS[(s1 >> 16) & 255] << 16)
          | (IS[(s0 >> 8) & 255] << 8) | IS[s3 & 255]) ^ np.uint32(k[2])
    o3 = ((IS[s3 >> 24] << 24) | (IS[(s2 >> 16) & 255] << 16)
          | (IS[(s1 >> 8) & 255] << 8) | IS[s0 & 255]) ^ np.uint32(k[3])
    out = np.empty((n, 4), dtype=">u4")
    out[:, 0] = o0
    out[:, 1] = o1
    out[:, 2] = o2
    out[:, 3] = o3
    return out.tobytes()


def aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    return _encrypt_block_w(_enc_words(_expand_key(key)), block)


def aes_cbc_nopad_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC without padding (exact multiple of 16 — the §7.6.4.3.4 KDF uses
    this shape).

    Round-7: the round loop is inlined with the CBC chain kept as four
    32-bit words — the per-block form paid a function call plus four
    128-bit int↔bytes conversions per block, which profiled as the whole
    cost of writing the AES-encrypted corpus strata (the R6 KDF runs ≥ 64
    CBC passes over a multi-KB buffer per document). Identical bytes: the
    chain XOR folds into AddRoundKey word-wise (XOR is associative), and
    the rounds are the same T-table lookups ``_encrypt_block_w`` does.
    """
    if len(data) % 16:
        raise ValueError("nopad CBC needs a 16-byte multiple")
    import struct

    kw = _enc_words(_expand_key(key))
    n = len(data)
    out = bytearray(n)
    c0, c1, c2, c3 = struct.unpack(">4L", iv)
    T0, T1, T2, T3 = _TE0, _TE1, _TE2, _TE3
    S = _SBOX
    nr = len(kw) - 1
    k0 = kw[0]
    k00, k01, k02, k03 = k0
    klast = kw[nr]
    mid = kw[1:nr]
    unpack_from = struct.unpack_from
    pack_into = struct.pack_into
    for i in range(0, n, 16):
        p0, p1, p2, p3 = unpack_from(">4L", data, i)
        s0 = p0 ^ c0 ^ k00
        s1 = p1 ^ c1 ^ k01
        s2 = p2 ^ c2 ^ k02
        s3 = p3 ^ c3 ^ k03
        for k in mid:
            t0 = T0[s0 >> 24] ^ T1[(s1 >> 16) & 255] ^ T2[(s2 >> 8) & 255] ^ T3[s3 & 255] ^ k[0]
            t1 = T0[s1 >> 24] ^ T1[(s2 >> 16) & 255] ^ T2[(s3 >> 8) & 255] ^ T3[s0 & 255] ^ k[1]
            t2 = T0[s2 >> 24] ^ T1[(s3 >> 16) & 255] ^ T2[(s0 >> 8) & 255] ^ T3[s1 & 255] ^ k[2]
            t3 = T0[s3 >> 24] ^ T1[(s0 >> 16) & 255] ^ T2[(s1 >> 8) & 255] ^ T3[s2 & 255] ^ k[3]
            s0, s1, s2, s3 = t0, t1, t2, t3
        c0 = ((S[s0 >> 24] << 24) | (S[(s1 >> 16) & 255] << 16)
              | (S[(s2 >> 8) & 255] << 8) | S[s3 & 255]) ^ klast[0]
        c1 = ((S[s1 >> 24] << 24) | (S[(s2 >> 16) & 255] << 16)
              | (S[(s3 >> 8) & 255] << 8) | S[s0 & 255]) ^ klast[1]
        c2 = ((S[s2 >> 24] << 24) | (S[(s3 >> 16) & 255] << 16)
              | (S[(s0 >> 8) & 255] << 8) | S[s1 & 255]) ^ klast[2]
        c3 = ((S[s3 >> 24] << 24) | (S[(s0 >> 16) & 255] << 16)
              | (S[(s1 >> 8) & 255] << 8) | S[s2 & 255]) ^ klast[3]
        pack_into(">4L", out, i, c0, c1, c2, c3)
    return bytes(out)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PDF string/stream encryption: PKCS#7 pad, CBC, IV prepended."""
    pad = 16 - len(data) % 16
    return iv + aes_cbc_nopad_encrypt(key, iv, data + bytes([pad]) * pad)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF string/stream decryption: leading 16-byte IV, PKCS#7 unpad.

    An empty payload (exactly the IV, or nothing) is legal and yields
    ``b""`` — PDF writers emit zero-length encrypted strings. Anything
    else — a mid-IV truncation (1-15 bytes), a non-block-aligned tail, or
    PKCS#7 pad bytes that do not all match — raises ``ValueError`` so a
    corrupted AES stream surfaces as an error row (matching the RC4/flate
    PdfError contract) instead of silently passing as truncated/empty
    text."""
    if len(data) in (0, 16):
        return b""
    if len(data) < 16:
        raise ValueError("AES-CBC payload truncated inside the IV")
    if (len(data) - 16) % 16:
        raise ValueError("AES-CBC payload is not a 16-byte multiple")
    kw = _dec_words(_expand_key(key))
    if len(data) >= 16 * 5:  # vectorized path pays off past a few blocks
        import numpy as np

        dec = np.frombuffer(_decrypt_blocks_np(kw, data[16:]), dtype=np.uint8)
        # CBC chain: P_i = D(C_i) ^ C_{i-1}; data[:-16] is exactly the
        # IV + all-but-last ciphertext blocks, aligned with dec
        prev_np = np.frombuffer(data[:-16], dtype=np.uint8)
        out = bytearray((dec ^ prev_np).tobytes())
    else:
        out = bytearray()
        prev = int.from_bytes(data[:16], "big")
        for i in range(16, len(data), 16):
            blk = data[i : i + 16]
            cur = int.from_bytes(blk, "big")
            out += (
                int.from_bytes(_decrypt_block_w(kw, blk), "big") ^ prev
            ).to_bytes(16, "big")
            prev = cur
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad PKCS#7 padding in AES stream")
    return bytes(out[:-pad])
