"""Pure-stdlib primitives for PDF standard-security-handler decryption:
RC4 and AES-128-CBC (FIPS-197 / PDF 32000-1 §7.6.2-3).

No third-party crypto libraries exist in this container, and the goal is
READING encrypted-but-open documents (empty user password — common in the
wild, readable by the reference via PyMuPDF), so a compact from-scratch
implementation is appropriate. The AES tables are generated from the
GF(2^8) arithmetic rather than transcribed, and the FIPS-197 appendix C
vector is pinned in tests/test_pdf_crypt.py.
"""

from __future__ import annotations

# -- RC4 ------------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    # the key repeated out to the 256 schedule steps: no modulo per step
    for i, k in zip(range(256), key * (256 // len(key) + 1)):
        si = S[i]
        j = (j + si + k) & 0xFF
        S[i] = S[j]
        S[j] = si
    ks = bytearray(len(data))
    i = j = 0
    for n in range(len(data)):
        i = (i + 1) & 0xFF
        si = S[i]
        j = (j + si) & 0xFF
        sj = S[i] = S[j]
        S[j] = si
        ks[n] = S[(si + sj) & 0xFF]
    # XOR the whole keystream in as one big-int step
    return (int.from_bytes(data, "big") ^ int.from_bytes(ks, "big")).to_bytes(
        len(data), "big"
    )


# -- AES-128 --------------------------------------------------------------------------
# tables generated from GF(2^8) with the AES polynomial 0x11B

_EXP = [0] * 510
_LOG = [0] * 256
_x = 1
for _i in range(255):
    _EXP[_i] = _EXP[_i + 255] = _x
    _LOG[_x] = _i
    _x ^= (_x << 1) ^ (0x11B if _x & 0x80 else 0)  # multiply by 3 (generator)


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _rotl8(b: int, n: int) -> int:
    return ((b << n) | (b >> (8 - n))) & 0xFF


_SBOX = [0] * 256
_INV_SBOX = [0] * 256
for _a in range(256):
    _inv = _EXP[255 - _LOG[_a]] if _a else 0
    _s = _inv ^ _rotl8(_inv, 1) ^ _rotl8(_inv, 2) ^ _rotl8(_inv, 3) ^ _rotl8(_inv, 4) ^ 0x63
    _SBOX[_a] = _s
    _INV_SBOX[_s] = _a

_RCON = [0x01]
for _i in range(9):
    _RCON.append(_gmul(_RCON[-1], 2))


def _expand_key(key: bytes) -> list[list[int]]:
    """AES-128 key schedule → 11 round keys of 16 bytes (column-major words)."""
    w = [list(key[i : i + 4]) for i in range(0, 16, 4)]
    for i in range(4, 44):
        t = list(w[i - 1])
        if i % 4 == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // 4 - 1]
        w.append([a ^ b for a, b in zip(w[i - 4], t)])
    return [sum(w[r * 4 : r * 4 + 4], []) for r in range(11)]


# numpy-vectorized inverse round primitives: state is a (n_blocks, 16)
# uint8 array, column-major within a block (s[c*4 + r]). CBC DECRYPTION is
# block-parallel (each plaintext block = D(C_i) ^ C_{i-1}), so decrypting a
# whole stream is ~40 numpy ops total instead of ~100 µs of scalar Python
# per block — this sits in the extraction hot path for encrypted documents.
import numpy as _np

_INV_SBOX_NP = _np.array(_INV_SBOX, dtype=_np.uint8)
_MULT_NP = {
    m: _np.array([_gmul(x, m) for x in range(256)], dtype=_np.uint8)
    for m in (9, 11, 13, 14)
}
# inverse ShiftRows rotates row r right by r: new[c*4+r] = old[((c-r)%4)*4+r]
_INV_SHIFT_IDX = _np.array([((i // 4 - i % 4) % 4) * 4 + i % 4 for i in range(16)])
_INV_MIX = (14, 11, 13, 9)


def _inv_mix_columns_np(st: "_np.ndarray") -> "_np.ndarray":
    v = st.reshape(-1, 4, 4)  # (n, column, row)
    cols = [v[:, :, j] for j in range(4)]
    out = _np.empty_like(v)
    for r in range(4):
        acc = _MULT_NP[_INV_MIX[-r % 4]][cols[0]]
        for j in range(1, 4):
            acc = acc ^ _MULT_NP[_INV_MIX[(j - r) % 4]][cols[j]]
        out[:, :, r] = acc
    return out.reshape(-1, 16)


def _decrypt_states(rk: "_np.ndarray", st: "_np.ndarray") -> "_np.ndarray":
    """AES-128 inverse cipher on every block of ``st`` under the round keys
    ``rk`` (11, 16)."""
    st = st ^ rk[10]
    for rnd in range(9, 0, -1):
        st = _INV_SBOX_NP[st[:, _INV_SHIFT_IDX]] ^ rk[rnd]
        st = _inv_mix_columns_np(st)
    return _INV_SBOX_NP[st[:, _INV_SHIFT_IDX]] ^ rk[0]


# scalar per-block encrypt for the serial CBC chain: one block at a time,
# where numpy's per-op overhead LOSES to plain lists (~2x). Precomputed
# xtime tables keep the MixColumns inner loop free of function calls.
_M2 = [_gmul(x, 2) for x in range(256)]
_M3 = [_gmul(x, 3) for x in range(256)]


def _encrypt_block_list(rk: list[list[int]], s: list[int]) -> list[int]:
    r0 = rk[0]
    s = [s[i] ^ r0[i] for i in range(16)]
    for rnd in range(1, 10):
        b = [_SBOX[x] for x in s]
        # fused ShiftRows(+MixColumns): source byte of (c, r) is row r of
        # column (c + r) % 4
        r_k = rk[rnd]
        t = []
        for c in range(4):
            a0 = b[(c % 4) * 4]
            a1 = b[((c + 1) % 4) * 4 + 1]
            a2 = b[((c + 2) % 4) * 4 + 2]
            a3 = b[((c + 3) % 4) * 4 + 3]
            k = c * 4
            t.append(_M2[a0] ^ _M3[a1] ^ a2 ^ a3 ^ r_k[k])
            t.append(a0 ^ _M2[a1] ^ _M3[a2] ^ a3 ^ r_k[k + 1])
            t.append(a0 ^ a1 ^ _M2[a2] ^ _M3[a3] ^ r_k[k + 2])
            t.append(_M3[a0] ^ a1 ^ a2 ^ _M2[a3] ^ r_k[k + 3])
        s = t
    b = [_SBOX[x] for x in s]
    r10 = rk[10]
    return [
        b[((i // 4 + i % 4) % 4) * 4 + i % 4] ^ r10[i] for i in range(16)
    ]


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#5-padded CBC encrypt; returns iv + ciphertext (the PDF layout).
    The chain is inherently serial across blocks (C_i feeds block i+1), so
    this uses the scalar block path."""
    if len(key) != 16:
        raise ValueError("AES-128 key must be 16 bytes")
    rk = _expand_key(key)
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = list(iv)
    for i in range(0, len(data), 16):
        block = [data[i + j] ^ prev[j] for j in range(16)]
        prev = _encrypt_block_list(rk, block)
        out += bytes(prev)
    return bytes(out)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of :func:`aes_cbc_encrypt`: data is iv + ciphertext —
    block-PARALLEL (one vectorized pass over all blocks). Raises ValueError
    on malformed length or padding."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("bad CBC data length")
    if len(key) != 16:
        raise ValueError("AES-128 key must be 16 bytes")
    rk = _np.array(_expand_key(key), dtype=_np.uint8)
    ct = _np.frombuffer(data, dtype=_np.uint8).reshape(-1, 16)
    out = (_decrypt_states(rk, ct[1:]) ^ ct[:-1]).tobytes()
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad CBC padding")
    return out[:-pad]
