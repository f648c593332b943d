"""AES-128/256 (FIPS-197) + CBC mode — pure stdlib, tables computed.

Exists for PDF's ``AESV2`` (V4/R4, AES-128) and ``AESV3`` (V5/R6,
AES-256) crypt filters.  Every table is DERIVED at import time from
the public algebraic definitions — the S-box as the affine transform
of the GF(2^8) multiplicative inverse, Rcon by doubling — so there is
no hand-transcribed constant to get wrong; correctness is pinned by
the FIPS-197 Appendix C known-answer tests (both key sizes) and the
NIST SP 800-38A CBC vector in ``tests/test_pdfcrypt.py``.

Scope: AES-128/256 block ops + CBC with optional PKCS#7 padding,
which is exactly what the PDF crypt filters need.  Not a general
crypto library.
"""
from __future__ import annotations

__all__ = ["aes_cbc_encrypt", "aes_cbc_decrypt"]


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x11B) & 0xFF if a & 0x100 else a


def _gf_mul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a = _xtime(a)
        b >>= 1
    return r


def _build_tables():
    # multiplicative inverse in GF(2^8) via exhaustive products
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gf_mul(x, y) == 1:
                inv[x] = y
                break
    sbox = [0] * 256
    for x in range(256):
        s = inv[x]
        r = s
        for sh in (1, 2, 3, 4):
            r ^= ((s << sh) | (s >> (8 - sh))) & 0xFF
        sbox[x] = r ^ 0x63
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    rcon = [1]
    for _ in range(9):
        rcon.append(_xtime(rcon[-1]))
    return sbox, inv_sbox, rcon


_SBOX, _INV_SBOX, _RCON = _build_tables()


def _expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 key schedule for AES-128 (11 round keys) or AES-256
    (15 round keys, with the extra SubWord at ``i % Nk == 4``)."""
    if len(key) not in (16, 32):
        raise ValueError("AES needs a 16- or 32-byte key")
    nk = len(key) // 4
    nr = 10 if nk == 4 else 14
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [
        [b for word in w[r : r + 4] for b in word]
        for r in range(0, 4 * (nr + 1), 4)
    ]


def _add_rk(s: list[int], rk: list[int]) -> None:
    for i in range(16):
        s[i] ^= rk[i]


_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(block: bytes, rks: list[list[int]]) -> bytes:
    nr = len(rks) - 1
    s = list(block)
    _add_rk(s, rks[0])
    for rnd in range(1, nr + 1):
        s = [_SBOX[b] for b in s]
        s = [s[_SHIFT[i]] for i in range(16)]
        if rnd < nr:
            t = []
            for c in range(0, 16, 4):
                a = s[c : c + 4]
                t += [
                    _gf_mul(a[0], 2) ^ _gf_mul(a[1], 3) ^ a[2] ^ a[3],
                    a[0] ^ _gf_mul(a[1], 2) ^ _gf_mul(a[2], 3) ^ a[3],
                    a[0] ^ a[1] ^ _gf_mul(a[2], 2) ^ _gf_mul(a[3], 3),
                    _gf_mul(a[0], 3) ^ a[1] ^ a[2] ^ _gf_mul(a[3], 2),
                ]
            s = t
        _add_rk(s, rks[rnd])
    return bytes(s)


def _decrypt_block(block: bytes, rks: list[list[int]]) -> bytes:
    nr = len(rks) - 1
    s = list(block)
    _add_rk(s, rks[nr])
    for rnd in range(nr - 1, -1, -1):
        s = [s[_INV_SHIFT[i]] for i in range(16)]
        s = [_INV_SBOX[b] for b in s]
        _add_rk(s, rks[rnd])
        if rnd > 0:
            t = []
            for c in range(0, 16, 4):
                a = s[c : c + 4]
                t += [
                    _gf_mul(a[0], 14) ^ _gf_mul(a[1], 11)
                    ^ _gf_mul(a[2], 13) ^ _gf_mul(a[3], 9),
                    _gf_mul(a[0], 9) ^ _gf_mul(a[1], 14)
                    ^ _gf_mul(a[2], 11) ^ _gf_mul(a[3], 13),
                    _gf_mul(a[0], 13) ^ _gf_mul(a[1], 9)
                    ^ _gf_mul(a[2], 14) ^ _gf_mul(a[3], 11),
                    _gf_mul(a[0], 11) ^ _gf_mul(a[1], 13)
                    ^ _gf_mul(a[2], 9) ^ _gf_mul(a[3], 14),
                ]
            s = t
    return bytes(s)


def aes_cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes,
                    pad: bool = True) -> bytes:
    """CBC encrypt, PKCS#7-padded by default (``pad=False`` for
    block-aligned raw mode, e.g. the AESV3 file-key wrap and the
    hardened-hash loop); returns ciphertext WITHOUT the IV prepended
    (the PDF layer frames iv + ciphertext itself)."""
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    rks = _expand_key(key)
    if pad:
        n = 16 - len(plaintext) % 16
        data = plaintext + bytes([n]) * n
    else:
        if len(plaintext) % 16:
            raise ValueError("unpadded CBC needs block-aligned input")
        data = plaintext
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _encrypt_block(blk, rks)
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, ciphertext: bytes,
                    pad: bool = True) -> bytes:
    """CBC decrypt (+ PKCS#7 unpad unless ``pad=False``).  Raises
    ``ValueError`` on ragged input or corrupt padding
    (contained-error semantics upstream)."""
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    if not ciphertext or len(ciphertext) % 16:
        raise ValueError("AES-CBC ciphertext not block-aligned")
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(ciphertext), 16):
        c = ciphertext[i : i + 16]
        out += bytes(
            a ^ b for a, b in zip(_decrypt_block(c, rks), prev)
        )
        prev = c
    if not pad:
        return bytes(out)
    n = out[-1]
    if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
        raise ValueError("bad AES-CBC padding")
    return bytes(out[:-n])
