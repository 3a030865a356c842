"""Baseline + progressive JPEG (JFIF) codec from scratch — numpy + stdlib.

Closes the round-1 "jpeg codec unavailable" stub honestly: a real encoder
and decoder for baseline sequential DCT (SOF0) AND progressive DCT (SOF2,
spectral selection + successive approximation per T.81 Annex G — DC/AC
first and refinement scans, EOB runs, per-scan optimal Huffman tables),
8-bit, with 4:4:4 / 4:2:2 / 4:2:0 chroma subsampling (decode handles
arbitrary sampling factors, interleaved and non-interleaved scans) and
restart intervals, standard JPEG Annex-K quantization and Huffman tables,
quality-scaled with the classic libjpeg percent formula. Self-contained:
SOI/APP0/DQT/SOF0/SOF2/DHT/DRI/SOS/RSTn/EOI markers, canonical Huffman
coding with byte stuffing, zigzag, level shift, exact 8x8 DCT/IDCT via the
orthonormal DCT matrix (functions/imagefn._dct_matrix pattern).

Fidelity contract (BASELINE.json input_hint: "PSNR>=40dB for lossy"):
round-trips at the default quality measure >= 40 dB across arbitrary
shapes and content including uniform noise (property-tested in
tests/test_jpeg.py).

Reference parity note: the reference validates/open-passes JPEG bytes via
Pillow (validator.py:511-517 accepted image types); this module supplies
the decode capability the sandbox lacks, same surface as the PNG codec.
"""

from __future__ import annotations

import re
import struct

import numpy as np

# --- constants -------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# Annex K.1 / K.2 base quantization tables (natural order via zigzag below)
STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 standard Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct8() -> np.ndarray:
    n = 8
    d = np.zeros((n, n))
    for k in range(n):
        for i in range(n):
            d[k, i] = np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    d *= np.sqrt(2.0 / n)
    d[0, :] /= np.sqrt(2.0)
    return d


_D8 = _dct8()


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg percent scaling of the Annex-K base tables."""
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (STD_LUMA_Q, STD_CHROMA_Q):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


# --- Huffman ---------------------------------------------------------------


def _build_codes(bits, vals):
    """Canonical Huffman (JPEG C.2): symbol -> (code, length)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_table(bits, vals):
    """(length, code) -> symbol for the decoder."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        # truncate the accumulator to the pending bits — without this it
        # grows into an unbounded big-int and every shift goes quadratic
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0
                self.nbits += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                # stuffed zero follows; markers shouldn't appear mid-scan here
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1
                else:
                    # marker (e.g. EOI) — treat as end of data
                    self.pos = len(self.data)
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        # truncate consumed history — unbounded big-int otherwise (same
        # quadratic-growth hazard as the writer accumulator)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_symbol(self, table) -> int:
        # peek a 16-bit window once and test prefixes — one fill + one
        # consume per symbol instead of a read(1) call per bit
        self._fill()
        window = (
            (self.acc << (16 - self.nbits))
            if self.nbits < 16
            else (self.acc >> (self.nbits - 16))
        ) & 0xFFFF
        for length in range(1, 17):
            code = window >> (16 - length)
            sym = table.get((length, code))
            if sym is not None:
                self.nbits -= length
                self.acc &= (1 << self.nbits) - 1
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def _encode_magnitude(v: int, ssss: int) -> int:
    return v if v >= 0 else v + (1 << ssss) - 1


def _decode_magnitude(bits: int, ssss: int) -> int:
    if ssss == 0:
        return 0
    if bits < (1 << (ssss - 1)):
        return bits - (1 << ssss) + 1
    return bits


# --- color transforms ------------------------------------------------------


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(px: np.ndarray) -> np.ndarray:
    y = px[..., 0]
    cb = px[..., 1] - 128.0
    cr = px[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


# --- encoder ---------------------------------------------------------------


def _code_luts(tab: dict) -> tuple[np.ndarray, np.ndarray]:
    """symbol -> (code, length) dict as dense int64 LUT arrays."""
    size = max(tab) + 1
    codes = np.zeros(size, dtype=np.int64)
    lens = np.zeros(size, dtype=np.int64)
    for sym, (code, length) in tab.items():
        codes[sym] = code
        lens[sym] = length
    return codes, lens


_BITLEN_LUT = np.concatenate(
    ([0], np.floor(np.log2(np.arange(1, 1 << 13))).astype(np.int64) + 1)
)


def _scan_luts(luma_tabs, chroma_tabs):
    """Padded (2, m) code/length LUTs for DC and AC, luma row 0 / chroma
    row 1 — built once per scan table set (restart chunks reuse them)."""
    dcC_l, dcL_l = _code_luts(luma_tabs[0])
    acC_l, acL_l = _code_luts(luma_tabs[1])
    dcC_c, dcL_c = _code_luts(chroma_tabs[0])
    acC_c, acL_c = _code_luts(chroma_tabs[1])
    m = max(len(dcC_l), len(dcC_c))
    dcC = np.zeros((2, m), np.int64)
    dcL = np.zeros((2, m), np.int64)
    dcC[0, : len(dcC_l)], dcL[0, : len(dcL_l)] = dcC_l, dcL_l
    dcC[1, : len(dcC_c)], dcL[1, : len(dcL_c)] = dcC_c, dcL_c
    m = max(len(acC_l), len(acC_c))
    acC = np.zeros((2, m), np.int64)
    acL = np.zeros((2, m), np.int64)
    acC[0, : len(acC_l)], acL[0, : len(acL_l)] = acC_l, acL_l
    acC[1, : len(acC_c)], acL[1, : len(acL_c)] = acC_c, acL_c
    return dcC, dcL, acC, acL


def _entropy_encode_scan(
    zz: np.ndarray, comp: np.ndarray, luma_tabs, chroma_tabs, luts=None
) -> bytes:
    """Baseline-JPEG entropy coding of the zigzagged blocks, vectorized.

    ``zz`` is (units, 64) in SCAN ORDER (MCU-interleaved when subsampled);
    ``comp`` gives each unit's component index (0 = luma tables, >0 =
    chroma tables; DC prediction chains per distinct component id).

    The sequential form (per-coefficient Python ``bw.write`` calls) was 90%
    of encode time (~60ms per 96x80 image). Here every token of the scan —
    DC symbol/magnitude, ZRL runs, AC (run,size) symbols, magnitudes, EOBs
    — is built as (code, length) numpy arrays, ordered by a single lexsort
    on (unit, within-unit position), then OR-ed into the output buffer one
    bit-LAYER per pass (MSB-first within bytes per the JPEG spec; 0xFF
    byte stuffing and the 1-padded final byte applied as numpy
    post-passes). Magnitude bits ride the same packer because JPEG writes
    them MSB-first like the codes."""
    units = zz.shape[0]
    is_chroma = comp > 0

    dcC, dcL, acC, acL = luts if luts is not None else _scan_luts(luma_tabs, chroma_tabs)

    t = is_chroma.astype(np.int64)

    # DC: differences chain per component in scan order
    dc = zz[:, 0]
    diff = np.empty(units, np.int64)
    for c in np.unique(comp):
        sel = np.flatnonzero(comp == c)
        d = dc[sel]
        diff[sel] = d - np.concatenate(([0], d[:-1]))
    ssss_dc = _BITLEN_LUT[np.abs(diff)]
    mag_dc = np.where(diff >= 0, diff, diff + (1 << ssss_dc) - 1)

    # AC nonzeros: (unit, col) sorted row-major by np.nonzero
    ac = zz[:, 1:]
    rws, cls = np.nonzero(ac)
    vals = ac[rws, cls]
    nnz = len(rws)
    first = np.ones(nnz, dtype=bool)
    if nnz:
        first[1:] = rws[1:] != rws[:-1]
    prevcol = np.empty(nnz, np.int64)
    if nnz:
        prevcol[0] = -1
        prevcol[1:] = np.where(first[1:], -1, cls[:-1])
    run = cls - prevcol - 1
    nzrl = run >> 4  # ZRL (16-zero-run) symbols before this coefficient
    rem = run & 15
    ssss_ac = _BITLEN_LUT[np.abs(vals)]
    sym_ac = (rem << 4) | ssss_ac
    mag_ac = np.where(vals >= 0, vals, vals + (1 << ssss_ac) - 1)

    last_col = np.full(units, -1, np.int64)
    if nnz:
        last_col[rws] = cls  # row-major order: last write per row wins
    eob_units = np.flatnonzero(last_col != 62)

    # within-unit sequence numbers: DC sym=0, DC mag=1, AC tokens from 2 in
    # nonzero order (each nonzero takes nzrl + 2 slots), EOB last
    tok3 = nzrl + 2
    if nnz:
        c = np.cumsum(tok3)
        start = c - tok3  # global token count before this nonzero
        grp = np.cumsum(first) - 1
        row_base = start[np.flatnonzero(first)][grp]
        within = start - row_base  # tokens before this nz within its unit
    else:
        within = np.zeros(0, np.int64)
    # direct position scatter (no sort): per-unit token count = DC sym
    # [+ DC mag] + AC tokens + [EOB]; global base offsets by cumsum
    dc_ntok = 1 + (ssss_dc > 0).astype(np.int64)
    ac_per_unit = (
        np.bincount(rws, weights=tok3, minlength=units).astype(np.int64)
        if nnz
        else np.zeros(units, np.int64)
    )
    eob_flag = np.zeros(units, np.int64)
    eob_flag[eob_units] = 1
    unit_ntok = dc_ntok + ac_per_unit + eob_flag
    unit_base = np.concatenate(([0], np.cumsum(unit_ntok)))[:-1]
    total_tok = int(unit_ntok.sum())
    C = np.zeros(total_tok, np.int64)
    L = np.zeros(total_tok, np.int64)

    # the dense LUTs return (0, 0) for symbols outside the Huffman tables —
    # fail LOUDLY like the old dict lookups did, never emit a 0-bit token
    # (e.g. a magnitude category beyond the baseline tables' range)
    if not (dcL[t, ssss_dc] > 0).all():
        raise ValueError("DC magnitude category outside the Huffman table")
    if nnz and not (acL[t[rws], sym_ac] > 0).all():
        raise ValueError("AC (run,size) symbol outside the Huffman table")

    C[unit_base] = dcC[t, ssss_dc]
    L[unit_base] = dcL[t, ssss_dc]
    has_mag = np.flatnonzero(ssss_dc > 0)
    C[unit_base[has_mag] + 1] = mag_dc[has_mag]
    L[unit_base[has_mag] + 1] = ssss_dc[has_mag]
    if nnz:
        tA = t[rws]
        ac_pos0 = unit_base[rws] + dc_ntok[rws] + within  # first ZRL slot
        total_zrl = int(nzrl.sum())
        if total_zrl:
            zpos = np.repeat(ac_pos0, nzrl) + (
                np.arange(total_zrl) - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
            )
            tz = np.repeat(tA, nzrl)
            C[zpos] = acC[tz, 0xF0]
            L[zpos] = acL[tz, 0xF0]
        C[ac_pos0 + nzrl] = acC[tA, sym_ac]
        L[ac_pos0 + nzrl] = acL[tA, sym_ac]
        C[ac_pos0 + nzrl + 1] = mag_ac
        L[ac_pos0 + nzrl + 1] = ssss_ac
    epos = unit_base[eob_units] + unit_ntok[eob_units] - 1
    tE = t[eob_units]
    C[epos] = acC[tE, 0x00]
    L[epos] = acL[tE, 0x00]

    total_bits = int(L.sum())
    offs = np.concatenate(([0], np.cumsum(L)))[:-1]
    nbytes = (total_bits + 7) // 8
    buf = np.zeros(nbytes, dtype=np.uint8)
    maxlen = int(L.max()) if len(L) else 0
    for j in range(maxlen):
        sel = L > j
        if not sel.any():
            break
        pos = offs[sel] + j
        bits = ((C[sel] >> (L[sel] - 1 - j)) & 1).astype(np.uint8)
        # JPEG packs MSB-first within each byte
        np.bitwise_or.at(buf, pos >> 3, bits << (7 - (pos & 7)).astype(np.uint8))
    # pad the final partial byte with 1s (spec F.1.2.3)
    pad = (-total_bits) % 8
    if pad:
        buf[-1] |= (1 << pad) - 1
    # byte stuffing: every 0xFF in the scan is followed by 0x00
    ff = np.flatnonzero(buf == 0xFF)
    if len(ff):
        buf = np.insert(buf, ff + 1, 0)
    return buf.tobytes()


_SAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _plane_blocks_zz(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(H, W) level-shifted plane (H, W multiples of 8) -> (by, bx, 64)
    quantized zigzagged blocks, fully vectorized."""
    H, W = plane.shape
    by, bx = H // 8, W // 8
    blocks = plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) - 128.0
    coef = _D8 @ blocks @ _D8.T
    qcoef = np.round(coef / qtab).astype(np.int64)
    return qcoef.reshape(by, bx, 64)[:, :, ZIGZAG]


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 99,
    subsampling: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """uint8 RGB (h, w, 3) or grayscale (h, w) -> baseline JFIF bytes.

    Default quality 99: property-tested >= 40 dB round-trip PSNR across
    arbitrary shapes AND uniform random noise (the worst case for DCT
    coding — quality 97 measured ~34 dB on some small noisy shapes, below
    the input_hint's lossy bar). quality=100 approaches the transform's
    numeric floor (~53 dB on noise).

    subsampling: "444" (1x1, default — luma-exact contract above), "422"
    (2x1) or "420" (2x2) with box-averaged chroma — the dominant real-web
    baseline shapes; luma is never subsampled, so gray content keeps the
    444 fidelity. restart_interval > 0 emits a DRI segment and RSTn
    markers every that-many MCUs (DC predictors reset; decoded pixels are
    bit-identical to the unrestarted stream — framing, not data).
    progressive=True emits a 10-scan SOF2 stream (libjpeg's standard scan
    script; per-scan optimal Huffman tables); the quantized coefficients
    are IDENTICAL to the baseline stream's, so decoded pixels match the
    baseline encode bit-for-bit."""
    if progressive and restart_interval:
        raise ValueError("progressive + restart_interval not supported together")
    px = np.asarray(pixels)
    gray = px.ndim == 2
    if gray:
        px = np.stack([px] * 3, axis=-1)
    if px.dtype != np.uint8 or px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg expects uint8 RGB (h, w, 3) or (h, w)")
    if subsampling not in _SAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SAMPLING)}")
    hs, vs = _SAMPLING[subsampling]
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ycc = _rgb_to_ycbcr(px)
    # pad to full MCUs (8*vs rows, 8*hs cols) with edge replication
    ph, pw = -(-h // (8 * vs)) * 8 * vs, -(-w // (8 * hs)) * 8 * hs
    padded = np.empty((ph, pw, 3))
    padded[:h, :w] = ycc
    padded[h:, :w] = ycc[h - 1 : h, :]  # edge replicate
    padded[:, w:] = padded[:, w - 1 : w]

    lq, cq = _quality_tables(quality)
    lq2, cq2 = lq.reshape(8, 8), cq.reshape(8, 8)
    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    # vectorized transform: every 8x8 block of every component DCT'd,
    # quantized, and zigzagged in a handful of numpy ops; only the entropy
    # coding stays a per-coefficient python loop (bounded by the NONZERO
    # count thanks to np.nonzero, not 64 per block)
    yzz = _plane_blocks_zz(padded[:, :, 0], lq2)  # (nby, nbx, 64)
    cb = padded[:, :, 1].reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
    cr = padded[:, :, 2].reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
    cbzz = _plane_blocks_zz(cb, cq2)  # (mcuy, mcux, 64)
    crzz = _plane_blocks_zz(cr, cq2)
    if progressive:
        return _encode_progressive(h, w, hs, vs, (yzz, cbzz, crzz), lq, cq)
    mcuy, mcux = cbzz.shape[:2]
    # scan order: per MCU, vs x hs luma blocks raster-wise, then Cb, Cr
    y_units = (
        yzz.reshape(mcuy, vs, mcux, hs, 64)
        .transpose(0, 2, 1, 3, 4)
        .reshape(mcuy * mcux, vs * hs, 64)
    )
    zz_units = np.concatenate(
        [y_units, cbzz.reshape(-1, 1, 64), crzz.reshape(-1, 1, 64)], axis=1
    ).reshape(-1, 64)
    per_mcu = vs * hs + 2
    comp = np.tile(
        np.concatenate([np.zeros(vs * hs, np.int64), np.array([1, 2])]),
        mcuy * mcux,
    )

    if restart_interval:
        # independent entropy chunks (DC predictors reset per chunk),
        # joined by RST0..RST7 markers cycling per spec
        chunks = []
        step = restart_interval * per_mcu
        luts = _scan_luts((dc_l, ac_l), (dc_c, ac_c))  # build once, not per chunk
        for i in range(0, len(zz_units), step):
            chunks.append(
                _entropy_encode_scan(
                    zz_units[i : i + step], comp[i : i + step],
                    (dc_l, ac_l), (dc_c, ac_c), luts=luts,
                )
            )
        scan = b"".join(
            c + (b"\xff" + bytes([0xD0 + (i & 7)]) if i < len(chunks) - 1 else b"")
            for i, c in enumerate(chunks)
        )
    else:
        scan = _entropy_encode_scan(zz_units, comp, (dc_l, ac_l), (dc_c, ac_c))

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    # APP0 JFIF: version 1.1, no density units, 1x1 density, no thumbnail
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00"
        + b"\x01\x01"
        + b"\x00"
        + b"\x00\x01\x00\x01"
        + b"\x00\x00"
    )
    # DQT (two tables, zigzag order)
    for tid, tbl in ((0, lq), (1, cq)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid])
        out += bytes(int(tbl.reshape(8, 8).reshape(64)[ZIGZAG][i]) for i in range(64))
    # SOF0: 8-bit, 3 components; luma carries the sampling factors
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, hv, tq in ((1, (hs << 4) | vs, 0), (2, 0x11, 1), (3, 0x11, 1)):
        out += bytes([cid, hv, tq])
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # DHT x4
    for tc_th, bits, vals in (
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
        (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
        out += bytes([tc_th]) + bytes(bits) + bytes(vals)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3)
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tabs])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder -----------------------------------------------------

# libjpeg's standard 10-scan script for YCbCr (jcparam.c): DC first at Al=1,
# spectral bands for each component, then one refinement pass per band.
# Exercises all four scan kinds (DC/AC x first/refine) in the decoder.
_PROG_SCRIPT = (
    # (comp indexes, Ss, Se, Ah, Al)
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((1,), 1, 63, 0, 1),
    ((2,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
)


class _ProgEmitter:
    """Two-pass progressive entropy emitter: pass 1 (codes=None) counts
    symbol frequencies per table key; pass 2 writes Huffman codes and raw
    bits through a _BitWriter (stuffing applied by the writer)."""

    def __init__(self):
        self.freq: dict = {}
        self.codes = None  # pass 2: {tabkey: {sym: (code, len)}}
        self.bw = None

    def sym(self, key, s):
        if self.codes is None:
            tab = self.freq.setdefault(key, {})
            tab[s] = tab.get(s, 0) + 1
        else:
            code, length = self.codes[key][s]
            self.bw.write(code, length)

    def bits(self, v, n):
        if self.codes is not None and n:
            self.bw.write(v & ((1 << n) - 1), n)


class _ProgEncState:
    __slots__ = ("eobrun", "bebits")

    def __init__(self):
        self.eobrun = 0
        self.bebits: list[int] = []


def _flush_eobrun(emit: _ProgEmitter, key, st: _ProgEncState):
    """Emit the pending EOBn symbol (+ its extension bits) and the buffered
    correction bits that ride behind it (T.81 G.1.2.2 / libjpeg
    emit_eobrun)."""
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        emit.sym(key, nbits << 4)
        if nbits:
            emit.bits(st.eobrun, nbits)
        st.eobrun = 0
        for b in st.bebits:
            emit.bits(b, 1)
        st.bebits = []


def _enc_dc_scan(blocks, al, ah, emit, key_of):
    """DC scan: first pass codes diffs of the point-transformed values
    (arithmetic shift keeps the refinement bits exact for negatives);
    refinement emits one raw bit per block."""
    prev: dict[int, int] = {}
    for ci, zz in blocks:
        if ah == 0:
            t = int(zz[0]) >> al
            diff = t - prev.get(ci, 0)
            prev[ci] = t
            ssss = abs(diff).bit_length()
            emit.sym(key_of[ci], ssss)
            if ssss:
                emit.bits(_encode_magnitude(diff, ssss), ssss)
        else:
            emit.bits((int(zz[0]) >> al) & 1, 1)


def _enc_ac_first(blocks, key, ss, se, al, emit, st: _ProgEncState):
    for _ci, zz in blocks:
        r = 0
        for k in range(ss, se + 1):
            t = int(zz[k])
            if t < 0:
                t = (-t) >> al
                t2 = ~t  # low bits = the JPEG negative-magnitude encoding
            else:
                t >>= al
                t2 = t
            if t == 0:
                r += 1
                continue
            _flush_eobrun(emit, key, st)
            while r > 15:
                emit.sym(key, 0xF0)
                r -= 16
            nbits = t.bit_length()
            emit.sym(key, (r << 4) | nbits)
            emit.bits(t2, nbits)
            r = 0
        if r:
            st.eobrun += 1
            if st.eobrun == 0x7FFF:
                _flush_eobrun(emit, key, st)


def _enc_ac_refine(blocks, key, ss, se, al, emit, st: _ProgEncState):
    """AC refinement per T.81 G.1.2.3 (the libjpeg encode_mcu_AC_refine
    structure): newly-nonzero coefficients carry a sign bit; every
    already-nonzero coefficient crossed contributes a buffered correction
    bit emitted after the next symbol (or after the EOBn that closes the
    run)."""
    for _ci, zz in blocks:
        absv = [0] * (se + 1)
        eob = ss - 1
        for k in range(ss, se + 1):
            t = abs(int(zz[k])) >> al
            absv[k] = t
            if t == 1:
                eob = k  # last NEWLY-nonzero coefficient
        r = 0
        corr: list[int] = []
        for k in range(ss, se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                _flush_eobrun(emit, key, st)
                emit.sym(key, 0xF0)
                r -= 16
                for b in corr:
                    emit.bits(b, 1)
                corr = []
            if t > 1:
                # history-nonzero coefficient: one buffered correction bit
                corr.append(t & 1)
                continue
            _flush_eobrun(emit, key, st)
            emit.sym(key, (r << 4) | 1)
            emit.bits(1 if int(zz[k]) >= 0 else 0, 1)
            for b in corr:
                emit.bits(b, 1)
            corr = []
            r = 0
        if r > 0 or corr:
            st.eobrun += 1
            st.bebits.extend(corr)
            if st.eobrun == 0x7FFF or len(st.bebits) > 900:
                _flush_eobrun(emit, key, st)


def _optimal_jpeg_table(freq: dict) -> tuple[list[int], list[int], dict]:
    """Per-scan optimal Huffman table: (BITS counts, HUFFVAL, {sym: (code,
    len)}). Real frequencies are doubled and a dummy symbol 256 with weight
    1 is added — strictly minimum, so it merges first and lands on a
    maximum-length code; ordered last among its length class it takes the
    all-ones code the spec reserves, then gets dropped (libjpeg's
    jpeg_gen_optimal_table device)."""
    from .webpfn import _limited_huffman

    items = [(2 * c, s) for s, c in freq.items()] + [(1, 256)]
    lengths = _limited_huffman(items, 16)
    by_len: dict[int, list[int]] = {}
    for sym, ln in lengths.items():
        by_len.setdefault(ln, []).append(sym)
    bits_all = [0] * 16
    vals_all: list[int] = []
    for ln in sorted(by_len):
        for sym in sorted(by_len[ln]):  # dummy 256 sorts last in its class
            bits_all[ln - 1] += 1
            vals_all.append(sym)
    codes = _build_codes(bits_all, vals_all)
    max_len = max(lengths.values())
    assert lengths[256] == max_len and codes[256][0] == (1 << max_len) - 1
    del codes[256]
    bits = list(bits_all)
    bits[max_len - 1] -= 1
    vals = [v for v in vals_all if v != 256]
    return bits, vals, codes


def _encode_progressive(h, w, hs, vs, comp_zz, lq, cq) -> bytes:
    """Emit a 10-scan SOF2 progressive stream over the already-quantized
    per-component zigzag grids (luma (mcuy*vs, mcux*hs, 64), chroma
    (mcuy, mcux, 64) each)."""
    yzz, cbzz, crzz = comp_zz
    mcuy, mcux = cbzz.shape[:2]
    grids = [yzz, cbzz, crzz]
    # non-interleaved per-component block extents (T.81 A.2.2)
    bw_y, bh_y = -(-w // 8), -(-h // 8)
    extents = [(bh_y, bw_y), (mcuy, mcux), (mcuy, mcux)]

    def scan_blocks(comps_in_scan):
        if len(comps_in_scan) > 1:  # interleaved MCU order
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in comps_in_scan:
                        if ci == 0:
                            for v in range(vs):
                                for u in range(hs):
                                    yield ci, yzz[my * vs + v, mx * hs + u]
                        else:
                            yield ci, grids[ci][my, mx]
        else:
            ci = comps_in_scan[0]
            bh, bw = extents[ci]
            g = grids[ci]
            for row in range(bh):
                for col in range(bw):
                    yield ci, g[row, col]

    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x01\x01"
        + b"\x00" + b"\x00\x01\x00\x01" + b"\x00\x00"
    )
    for tid, tbl in ((0, lq), (1, cq)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid])
        out += bytes(int(tbl.reshape(64)[ZIGZAG][i]) for i in range(64))
    out += b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, h, w, 3)  # SOF2
    for cid, hv, tq in ((1, (hs << 4) | vs, 0), (2, 0x11, 1), (3, 0x11, 1)):
        out += bytes([cid, hv, tq])

    for comps_in_scan, ss, se, ah, al in _PROG_SCRIPT:
        # key per (class, luma-vs-chroma): DC scans may interleave both
        key_of = {ci: ("dc", 0 if ci == 0 else 1) for ci in comps_in_scan}
        ac_key = ("ac", 0 if comps_in_scan[0] == 0 else 1)

        def run_scan(emit):
            if ss == 0:
                _enc_dc_scan(scan_blocks(comps_in_scan), al, ah, emit, key_of)
            else:
                st = _ProgEncState()
                if ah == 0:
                    _enc_ac_first(scan_blocks(comps_in_scan), ac_key, ss, se, al, emit, st)
                else:
                    _enc_ac_refine(scan_blocks(comps_in_scan), ac_key, ss, se, al, emit, st)
                _flush_eobrun(emit, ac_key, st)

        emit = _ProgEmitter()
        run_scan(emit)  # pass 1: frequencies
        emit.codes = {}
        for key, freq in emit.freq.items():
            if not freq:
                continue
            bits, vals, codes = _optimal_jpeg_table(freq)
            emit.codes[key] = codes
            tc = 0x00 if key[0] == "dc" else 0x10
            out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
            out += bytes([tc | key[1]]) + bytes(bits) + bytes(vals)
        ns = len(comps_in_scan)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for ci in comps_in_scan:
            tid = 0 if ci == 0 else 1
            out += bytes([ci + 1, (tid << 4) | tid])
        out += bytes([ss, se, (ah << 4) | al])
        emit.bw = _BitWriter()
        run_scan(emit)  # pass 2: emission
        emit.bw.flush()
        out += bytes(emit.bw.out)
    out += b"\xff\xd9"
    return bytes(out)


# --- decoder ---------------------------------------------------------------


def is_jpeg(data: bytes) -> bool:
    return len(data) > 3 and data[:2] == b"\xff\xd8"


# all 100 IJG-scaled luma tables, row i = quality 100 - i (natural order),
# built once: estimate_jpeg_quality runs per image row at funnel scale
_IJG_LUMA_CANDIDATES = np.stack(
    [
        _quality_tables(q)[0].reshape(-1).astype(np.int64)
        for q in range(100, 0, -1)
    ]
)


def estimate_jpeg_quality(data: bytes) -> tuple[int | None, bool]:
    """Invert the libjpeg/IJG quality scaling from the file's luma DQT —
    the standard curation signal (drop re-encoded low-quality images;
    LAION-style funnels threshold on it). Header-only: walks segments up
    to SOS (0xFF fill bytes skipped per T.81 B.1.1.2), never touches
    entropy data.

    Returns (quality, exact): scanning q = 100 down to 1, the first q
    whose Annex-K-scaled table equals the file's table exactly gives
    (q, True) — exact for every IJG-formula encoder including ours. A
    custom table falls back to the nearest q by L1 distance (highest q on
    ties — deterministic) with exact=False. (None, False) when the stream
    has no luma DQT (not a JPEG / truncated / 16-bit precision tables are
    still read, natural for q<8 scalings that overflow 255)."""
    if not is_jpeg(data):
        return None, False
    pos = 2
    n = len(data)
    tbl = None
    while pos + 4 <= n and tbl is None:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xD9, 0xDA):
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                width = 128 if pq else 64
                if p + width > len(seg):
                    break
                if tq == 0:
                    if pq:
                        tbl = np.frombuffer(
                            seg[p : p + 128], dtype=">u2"
                        ).astype(np.int64)
                    else:
                        tbl = np.frombuffer(
                            seg[p : p + 64], dtype=np.uint8
                        ).astype(np.int64)
                    break
                p += width
        pos += seglen
    if tbl is None:
        return None, False
    # DQT is zigzag order; compare in the natural domain against the
    # precomputed (100, 64) candidate matrix: one vectorized L1 per call,
    # d == 0 <=> exact table match, ties resolve to the HIGHEST quality
    nat = np.zeros(64, dtype=np.int64)
    nat[ZIGZAG] = tbl
    dists = np.abs(_IJG_LUMA_CANDIDATES - nat).sum(axis=1)
    i = int(np.argmin(dists))  # rows ordered q=100..1; argmin takes first
    return 100 - i, bool(dists[i] == 0)


def _find_scan_end(data: bytes, pos: int) -> int:
    """First marker byte pair after ``pos`` that is neither a stuffed 0xFF00
    nor an RSTn — i.e. the end of the current scan's entropy data."""
    i = pos
    n = len(data)
    while i < n:
        i = data.find(b"\xff", i)
        if i < 0 or i + 1 >= n:
            return n
        m = data[i + 1]
        if m == 0x00 or 0xD0 <= m <= 0xD7 or m == 0xFF:
            i += 2 if m != 0xFF else 1
            continue
        return i
    return n


class _ScanState:
    """Entropy state shared across blocks of one scan segment: per-component
    DC predictors and the progressive end-of-band run counter."""

    __slots__ = ("prev_dc", "eobrun")

    def __init__(self, nc: int):
        self.prev_dc = [0] * nc
        self.eobrun = 0


def _decode_block(br, zz, idx, ss, se, ah, al, dc_tab, ac_tab, st: _ScanState):
    """Decode one block's contribution for the current scan (T.81 F.2 for
    sequential, Annex G.1.2 / the libjpeg successive-approximation decode
    semantics for progressive). ``zz`` is the persistent zigzag-order
    coefficient row (a view into the component store); progressive scans
    accumulate into it."""
    if ss == 0:
        if ah == 0:  # DC first (or the sequential DC half)
            ssss = br.read_symbol(dc_tab)
            diff = _decode_magnitude(br.read(ssss), ssss)
            st.prev_dc[idx] += diff
            zz[0] = st.prev_dc[idx] << al
        else:  # DC refinement: one raw bit, OR'd into the two's complement
            if br.read(1):
                zz[0] |= 1 << al
    if se == 0:
        return
    k = max(ss, 1)
    if ah == 0:  # AC first scans (al=0 + EOB0-only == sequential AC)
        if st.eobrun > 0:
            st.eobrun -= 1
            return
        while k <= se:
            sym = br.read_symbol(ac_tab)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                st.eobrun = (1 << r) - 1  # run counts SUBSEQUENT blocks
                if r:
                    st.eobrun += br.read(r)
                break
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            zz[k] = _decode_magnitude(br.read(s), s) << al
            k += 1
        return
    # AC refinement scan
    p1 = 1 << al
    m1 = -p1
    if st.eobrun == 0:
        while k <= se:
            sym = br.read_symbol(ac_tab)
            r, s = sym >> 4, sym & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("AC refinement size must be 1")
                newval = p1 if br.read(1) else m1
            elif r != 15:
                st.eobrun = 1 << r
                if r:
                    st.eobrun += br.read(r)
                break  # the tail correction loop below finishes the block
            # advance past r zero-history coefficients, emitting correction
            # bits for every nonzero-history coefficient crossed
            while k <= se:
                c = int(zz[k])
                if c != 0:
                    if br.read(1) and (c & p1) == 0:
                        zz[k] = c + (p1 if c >= 0 else m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement run past end of band")
                zz[k] = newval
            k += 1
    if st.eobrun > 0:
        while k <= se:
            c = int(zz[k])
            if c != 0 and br.read(1) and (c & p1) == 0:
                zz[k] = c + (p1 if c >= 0 else m1)
            k += 1
        st.eobrun -= 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes -> uint8 RGB (h, w, 3). Supports the real-web decode
    surface: baseline sequential (SOF0, single- or multi-scan) AND
    progressive (SOF2: spectral selection + successive approximation, DC/AC
    first + refinement scans, EOB runs), 8-bit, 1 or 3 components,
    arbitrary sampling factors (4:4:4 / 4:2:2 / 4:2:0 / ...), restart
    intervals. Lossless/arithmetic/12-bit variants stay labeled
    NotImplementedError."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[int, dict] = {}
    comps = []  # (cid, h, v, tq)
    scans = []  # (scan_comps, ss, se, ah, al, entropy bytes, ri, huff snapshot)
    h = w = 0
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2: optional 0xFF fill bytes pad markers
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                nat = np.zeros(64, dtype=np.int32)
                nat[ZIGZAG] = tbl
                qtables[tq] = nat.reshape(8, 8)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("only SOF0 baseline / SOF2 progressive supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                huff[tc_th] = _build_decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            end = _find_scan_end(data, pos + seglen)
            scans.append(
                (scan_comps, ss, se, ahal >> 4, ahal & 0xF,
                 data[pos + seglen : end], restart_interval, dict(huff))
            )
            pos = end
            continue
        pos += seglen
    if not scans or not comps:
        raise ValueError("truncated JPEG (no scan)")

    nc = len(comps)
    factors = [(ch, cv) for _cid, ch, cv, _tq in comps]
    if nc == 1:
        # a single-component frame is always non-interleaved: its dims ARE
        # the frame dims regardless of declared factors (T.81 A.2.2)
        factors = [(1, 1)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    comp_by_id = {cid: idx for idx, (cid, _h, _v, _tq) in enumerate(comps)}
    # per-component block grids (padded to full MCUs)
    grid_w = [mcux * factors[i][0] for i in range(nc)]
    grid_h = [mcuy * factors[i][1] for i in range(nc)]
    zz_store = [np.zeros((grid_h[i] * grid_w[i], 64), np.int64) for i in range(nc)]

    for scan_comps, ss, se, ah, al, entropy, ri, tabs in scans:
        # restart markers are byte-aligned and unambiguous (every in-scan
        # 0xFF is stuffed), so the entropy stream splits exactly on them;
        # each segment restarts the bit phase, DC predictors and EOB run
        segments = re.split(b"\xff[\xd0-\xd7]", entropy) if ri else [entropy]
        seg_i = 0
        br = _BitReader(segments[0])
        st = _ScanState(nc)
        interleaved = len(scan_comps) > 1
        if interleaved:
            n_units = mcuy * mcux
        else:
            cid0 = scan_comps[0][0]
            idx0 = comp_by_id[cid0]
            ch0, cv0 = factors[idx0]
            # non-interleaved scans cover only the component's own blocks
            # (ceil of its true dims), not the MCU-padded grid (A.2.2)
            cw0 = -(-(w * ch0) // hmax)
            cv_h0 = -(-(h * cv0) // vmax)
            bw0 = -(-cw0 // 8)
            bh0 = -(-cv_h0 // 8)
            n_units = bw0 * bh0
        for unit in range(n_units):
            if ri and unit and unit % ri == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("missing JPEG restart marker")
                br = _BitReader(segments[seg_i])
                st = _ScanState(nc)
            if interleaved:
                my, mx = divmod(unit, mcux)
                for cid, td, ta in scan_comps:
                    idx = comp_by_id[cid]
                    ch, cv = factors[idx]
                    dc_tab = tabs.get(td) if ss == 0 and ah == 0 else None
                    ac_tab = tabs.get(0x10 | ta) if se > 0 else None
                    for v in range(cv):
                        for u in range(ch):
                            row = my * cv + v
                            col = mx * ch + u
                            zz = zz_store[idx][row * grid_w[idx] + col]
                            _decode_block(br, zz, idx, ss, se, ah, al,
                                          dc_tab, ac_tab, st)
            else:
                cid, td, ta = scan_comps[0]
                row, col = divmod(unit, bw0)
                zz = zz_store[idx0][row * grid_w[idx0] + col]
                _decode_block(
                    br, zz, idx0, ss, se, ah, al,
                    tabs.get(td) if ss == 0 and ah == 0 else None,
                    tabs.get(0x10 | ta) if se > 0 else None, st,
                )

    # batched dequantize + IDCT per component, then nearest-neighbor
    # upsample to full resolution via index maps
    planes = []
    ys = np.arange(h)
    xs = np.arange(w)
    for idx, (_cid, _h, _v, tq) in enumerate(comps):
        ch, cv = factors[idx]
        blk = np.zeros((zz_store[idx].shape[0], 64), np.float64)
        blk[:, ZIGZAG] = zz_store[idx]
        coef = blk.reshape(-1, 8, 8) * qtables[tq]
        pix = _D8.T @ coef @ _D8 + 128.0
        gh, gw = grid_h[idx], grid_w[idx]
        plane = pix.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)
        planes.append(plane[(ys * cv) // vmax][:, (xs * ch) // hmax])
    if nc == 1:
        y = np.clip(planes[0], 0, 255)
        return np.round(np.stack([y] * 3, axis=-1)).astype(np.uint8)
    ycc = np.stack([planes[0], planes[1], planes[2]], axis=-1)
    return np.round(_ycbcr_to_rgb(ycc)).astype(np.uint8)
