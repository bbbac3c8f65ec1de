"""JPEG codec in pure numpy + stdlib (no Pillow, no native libs): every
frame process of ITU-T T.81 — sequential, progressive, lossless and
hierarchical — with both Huffman and arithmetic entropy coding.

The codec is split along T.81's own seam between frame processes and
entropy coding:

* **Entropy coders.** ``_Huffman`` (bit writer/reader, the frame's code
  tables, the progressive EOB-run state; Annex C/F.1.2/G.1.2) and
  ``_Arith`` (the QM coder, its statistics areas and DC conditioning
  contexts; the coder and the Annex F/G.2/H models live in
  ``jpeg_arith.py``). Both derive from ``_Coder`` and run either
  direction: built without segments they encode, built over a scan's
  unstuffed restart segments they decode. Every scan is expressed in
  the same per-block operations — DC difference, DC refine bit, AC
  first band, AC refine band, lossless difference — plus restart and
  finish.
* **Scan walkers.** ``_Frame`` holds one frame's process flags (decoded from
  its SOF marker), geometry and per-component stores: coefficient rows
  (zigzag order when encoding, natural order when decoding) or, in
  lossless frames, sample planes. ``_Frame.code_scan`` runs one scan over either
  coder in either direction: the MCU/block walk of every DCT scan kind
  (``_code_scan``) or the Annex H predictor loop (``_code_lossless``).
  Restart intervals and differential (zero) DC prediction are handled
  there once.
* **Frame writer.** ``_write_jpeg`` emits SOI, APP0, DQT, SOF, DHT or
  DAC, DRI, then SOS + entropy data for each scan of a script; the
  hierarchical encoder reuses its SOF/table/scan pieces per pyramid
  stage. The 10-scan successive-approximation script (SOF2/SOF10) and
  the four-scan differential script (SOF6/SOF14) are data.
* **Decoder.** ``decode_jpeg`` walks marker segments once (``_Tables``
  reads DQT/DHT/DAC/DRI, with every segment's length checked), builds a
  ``_Frame`` per SOF and hands each SOS to the same scan walker.
  Hierarchical streams (DHP/EXP, Annex J) finish each frame into the
  running reference: sequential, progressive and lossless differential
  frames in both codings, single-component 8-bit pyramids. Quantization
  and Huffman tables come from the stream, so third-party JPEGs decode
  with their own tables; 12-bit and 2-16-bit lossless samples reduce to
  8-bit output (scale 255/(2^P-1)). Malformed or truncated streams raise
  ``ValueError`` (``NotImplementedError`` for legal but unsupported
  frames); differential frames outside a pyramid raise.

Encoders (fixture generators for the media lane; all deterministic):
``encode_jpeg`` (baseline, Annex K tables, IJG quality scaling, 4:4:4
or 4:2:0, restart intervals), ``encode_jpeg12`` (SOF1),
``encode_jpeg_progressive`` (SOF2), ``encode_jpeg_arith`` and
``encode_jpeg_arith_progressive`` (SOF9/SOF10, DAC conditioning),
``encode_jpeg_lossless`` and ``encode_jpeg_lossless_arith`` (SOF3/SOF11,
predictors 1-7, point transform) and ``encode_jpeg_hierarchical`` (DHP
pyramids with SOF5/6/7 or SOF13/14/15 stages). The 8-bit DCT encoders
share one quantization pipeline, so all four of their lanes decode one
image to identical pixels.

Determinism: all directions are pure functions of their inputs — no
dithering, no platform-dependent IDCT variant — so oracle runs
reproduce bit-exactly anywhere. Entropy coding is per-symbol Python:
this is the correctness-complete fallback kernel for the ``mapInPandas``
media path, fine for fixtures and thumbnails.

Verification (tests/test_jpeg*.py): the DCT against a direct O(N^4)
transcription of T.81, quantization against the published worked
example, golden encoder bytes per lane, pixel parity across entropy
codings and processes, and byte-exact interop with libjpeg-turbo.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg_arith import (
    ArithDecoder,
    ArithEncoder,
    conditioning_for,
    decode_ac_arith,
    decode_ac_refine_arith,
    decode_dc_arith,
    encode_ac_arith,
    encode_ac_refine_arith,
    encode_dc_arith,
    lossless_context,
    new_ac_stats,
    new_dc_stats,
    new_fixed_stats,
    new_lossless_stats,
)

__all__ = [
    "encode_jpeg",
    "encode_jpeg_progressive",
    "encode_jpeg_lossless",
    "decode_jpeg",
    "QUANT_LUMA",
    "QUANT_CHROMA",
]

# ---------------------------------------------------------------------------
# constants: zigzag (generated, not transcribed), Annex K tables
# ---------------------------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """Natural index of the k-th zigzag element, derived from the
    diagonal-walk definition (generated to avoid transcription risk)."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        for i in (reversed(rng) if d % 2 else rng):
            order.append((d - i) * 8 + i)  # row-major natural index
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()  # zigzag k -> natural index
_ZIGZAG_IDX = ZIGZAG.tolist()  # the same as Python ints, for per-coefficient loops

# ITU-T T.81 Annex K.1/K.2 example quantization tables (the de-facto
# standard "quality 50" tables every JPEG tool ships).
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

# Annex K.3.3.1/.2 "typical" huffman tables: (BITS[1..16], HUFFVAL).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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

# (class, id) -> (BITS, HUFFVAL), in the baseline encoder's DHT order
STD_TABLES = {
    (0, 0): (_DC_LUMA_BITS, _DC_LUMA_VALS),     # (class DC, id 0)
    (1, 0): (_AC_LUMA_BITS, _AC_LUMA_VALS),     # (class AC, id 0)
    (0, 1): (_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (1, 1): (_AC_CHROMA_BITS, _AC_CHROMA_VALS),
}


# ---------------------------------------------------------------------------
# DCT: orthonormal separable 8x8 (exactly the T.81 A.3.3 transform)
# ---------------------------------------------------------------------------

def _dct_matrix() -> np.ndarray:
    """Orthonormal DCT-II basis C with C[u, x] = a(u) cos((2x+1)u pi/16);
    FDCT(B) = C B C^T reproduces T.81's F(u,v) including the 1/4 a(u)a(v)
    scaling (a(0)=1/sqrt(8), else sqrt(2/8))."""
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    c = np.cos((2 * x + 1) * u * np.pi / 16) * np.sqrt(2.0 / 8.0)
    c[0] = np.sqrt(1.0 / 8.0)
    return c


_C = _dct_matrix()


def fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial (level-shifted) -> (n, 8, 8) DCT coefficients."""
    return np.einsum("ux,nxy,vy->nuv", _C, blocks, _C, optimize=True)


def idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) DCT coefficients -> (n, 8, 8) spatial samples."""
    return np.einsum("ux,nuv,vy->nxy", _C, coefs, _C, optimize=True)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of an Annex K table (quality 1..100)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (base * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# huffman code construction (spec C.2: canonical codes from BITS/HUFFVAL)
# ---------------------------------------------------------------------------

def _build_encode_table(bits: list, values: list) -> dict:
    """symbol -> (code, length)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _build_decode_table(bits: list, values: list) -> dict:
    """(1 << length) | code -> symbol (the length bit keeps codes of
    different lengths apart in one int-keyed dict)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(1 << length) | code] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------

class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF00 byte stuffing. Bits
    collect in one int and drain to ``buf`` in whole bytes every ~2 Kbit
    and at ``pad_to_byte`` (which must precede reading ``buf``)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        if self.nbits >= 2048:
            self._drain()

    def _drain(self) -> None:
        rem = self.nbits & 7
        whole = (self.acc >> rem).to_bytes(self.nbits >> 3, "big")
        self.buf += whole.replace(b"\xff", b"\xff\x00")
        self.acc &= (1 << rem) - 1
        self.nbits = rem

    def pad_to_byte(self) -> None:
        if self.nbits & 7:
            self.write((1 << (8 - (self.nbits & 7))) - 1, 8 - (self.nbits & 7))
        self._drain()


class _BitReader:
    """MSB-first reader over UNSTUFFED entropy bytes. Past the end it
    reads 1s without advancing (T.81 pads a segment's last byte with 1s,
    so only the final EOB can reach there); eight 0xFF guard bytes let
    the 64-bit peek window run past the end."""

    __slots__ = ("data", "pos", "end", "win", "win_end")

    def __init__(self, data: bytes) -> None:
        self.data = bytes(data) + b"\xff" * 8
        self.pos = 0
        self.end = 8 * len(data)
        self.win = 0  # data bits [win_end - 64, win_end)
        self.win_end = 0

    def read_bit(self) -> int:
        p = self.pos
        if p >= self.end:
            return 1
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def peek16(self) -> int:
        p = self.pos
        if p + 16 > self.win_end:
            i = p >> 3
            self.win = int.from_bytes(self.data[i : i + 8], "big")
            self.win_end = 8 * i + 64
        return (self.win >> (self.win_end - p - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        p = self.pos + n
        self.pos = p if p < self.end else self.end

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        v = 0
        while n > 16:
            v = (v << 16) | self.peek16()
            self.skip(16)
            n -= 16
        v = (v << n) | (self.peek16() >> (16 - n))
        self.skip(n)
        return v


def _decode_symbol(reader: _BitReader, table: dict) -> int:
    bits = reader.peek16()
    for length in range(1, 17):
        sym = table.get((1 << length) | (bits >> (16 - length)))
        if sym is not None:
            reader.skip(length)
            return sym
    raise ValueError("invalid JPEG huffman code")


def _extend(v: int, size: int) -> int:
    """Spec F.12 EXTEND: map a ``size``-bit magnitude to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> int:
    """Bit length of |v| (spec: SSSS)."""
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# entropy coders (both directions, one per coding)
# ---------------------------------------------------------------------------

class _Coder:
    """One scan's entropy coder. Built with ``segments=None`` it ENCODES
    (bytes accumulate; a restart closes the segment and emits RSTn);
    built over the scan's unstuffed restart segments it DECODES them in
    order. ``rows`` handed to the block operations are zigzag
    coefficient rows when encoding and natural-order store rows when
    decoding. Subclasses supply ``_reset``/``_flush``, the difference
    codings ``_dc``/``_ll`` (pass the value to encode, get it back when
    decoding), ``bit``, ``ac_first`` and ``ac_refine``."""

    def __init__(self, tables, segments=None, progressive: bool = False) -> None:
        self.tables = tables
        self.segments = segments
        self.encoding = segments is None
        self.progressive = progressive
        self.seg = 0
        self.out = bytearray()
        self._reset()

    def _reset(self) -> None:
        self.pred: dict[int, int] = {}

    def _segment(self) -> bytes:
        return bytes(self.segments[self.seg])

    def restart(self) -> None:
        """RSTn: close (encode) or leave (decode) the current segment;
        coder state, statistics and DC predictors start afresh."""
        if self.encoding:
            self.out += self._flush() + bytes([0xFF, 0xD0 + (self.seg & 7)])
        elif self.seg + 1 >= len(self.segments):
            raise ValueError("JPEG truncated: missing restart segment")
        self.seg += 1
        self._reset()

    def finish(self) -> bytes:
        return bytes(self.out + self._flush()) if self.encoding else b""

    def dc_first(self, k: int, row, td: int, al: int, differential: bool) -> None:
        """DC difference of component ``k``'s point-transformed DC from
        its predictor, which stays zero in differential frames."""
        if self.encoding:
            val = int(row[0]) >> al
            self._dc(k, td, val - self.pred.get(k, 0))
        else:
            val = self.pred.get(k, 0) + self._dc(k, td)
            row[0] = val << al
        if not differential:
            self.pred[k] = val

    def dc_refine(self, row, al: int) -> None:
        if self.encoding:
            self.bit((int(row[0]) >> al) & 1)
        elif self.bit():
            row[0] |= 1 << al

    def lossless(self, ci: int, td: int, plane, y: int, x: int, px: int) -> None:
        """Annex H: one sample's difference from its prediction ``px``,
        modulo 2^16 (H.1.2.1)."""
        if self.encoding:
            d = (plane[y][x] - px) & 0xFFFF
            self._ll(ci, td, x, d - 0x10000 if d >= 0x8000 else d)
        else:
            plane[y][x] = (px + self._ll(ci, td, x)) & 0xFFFF


class _Huffman(_Coder):
    """Huffman coding: bit writer/reader, the frame's tables keyed
    (class, id) — encode or decode form to match the direction — and the
    progressive EOB run with its buffered correction bits (T.81 G.1.2).
    Sequential scans close each block's run at once (a plain EOB)."""

    def _reset(self) -> None:
        super()._reset()
        if self.encoding:
            self.writer = _BitWriter()
        else:
            self.reader = _BitReader(self._segment())
        self.eobrun = 0
        self.eobbits: list[int] = []
        self.eobmax = 0x7FFF if self.progressive else 1

    def _flush(self) -> bytearray:
        if self.eobrun:
            self._emit_eobrun()
        self.writer.pad_to_byte()
        return self.writer.buf

    def _put(self, tbl: dict, sym: int) -> None:
        code, length = tbl[sym]
        self.writer.write(code, length)

    def _put_diff(self, tbl: dict, diff: int) -> None:
        """SSSS symbol + magnitude bits of a DC/lossless difference."""
        s = _category(diff)
        code, length = tbl[s]
        self.writer.write(code, length)
        if s:
            self.writer.write(diff if diff > 0 else diff + (1 << s) - 1, s)

    def _emit_eobrun(self) -> None:
        """Flush the pending EOB run (EOBn symbol + run-length bits) and
        the correction bits buffered under it."""
        r = self.eobrun.bit_length() - 1
        self._put(self.ac, r << 4)
        if r:
            self.writer.write(self.eobrun - (1 << r), r)
        for b in self.eobbits:
            self.writer.write(b, 1)
        self.eobrun = 0
        self.eobbits = []

    def _dc(self, k, td, diff=None):
        if self.encoding:
            self._put_diff(self.tables[(0, td)], diff)
            return None
        s = _decode_symbol(self.reader, self.tables[(0, td)])
        return _extend(self.reader.read_bits(s), s)

    def _ll(self, ci, td, x, d=None):
        """As ``_dc``, except that SSSS=16 codes 32768 with no magnitude
        bits (the lossless difference range)."""
        if self.encoding:
            if d == -32768:
                self._put(self.tables[(0, td)], 16)
            else:
                self._put_diff(self.tables[(0, td)], d)
            return None
        s = _decode_symbol(self.reader, self.tables[(0, td)])
        return 32768 if s == 16 else _extend(self.reader.read_bits(s), s)

    def bit(self, b=None):
        if self.encoding:
            self.writer.write(b, 1)
            return None
        return self.reader.read_bit()

    def ac_first(self, row, ta, ss, se, al) -> None:
        """AC band ``ss..se`` at point transform ``al`` (the sequential AC
        pass is the band 1..63 at al=0), run/size coded with EOB runs."""
        tbl = self.ac = self.tables[(1, ta)]
        if self.encoding:
            write = self.writer.write
            run = 0
            for v in row[ss : se + 1].tolist():
                t = abs(v) >> al
                if t == 0:
                    run += 1
                    continue
                if self.eobrun:
                    self._emit_eobrun()
                while run > 15:
                    code, length = tbl[0xF0]  # ZRL
                    write(code, length)
                    run -= 16
                s = t.bit_length()
                code, length = tbl[(run << 4) | s]
                write(code, length)
                write(t if v > 0 else (1 << s) - 1 - t, s)
                run = 0
            if run:
                self.eobrun += 1
                if self.eobrun == self.eobmax:
                    self._emit_eobrun()
            return
        if self.eobrun > 0:
            self.eobrun -= 1
            return
        reader = self.reader
        k = ss
        while k <= se:
            rs = _decode_symbol(reader, tbl)
            run, size = rs >> 4, rs & 15
            if size == 0:
                if run < 15:  # EOBn: run of (2^run - 1 + bits) MORE blocks
                    self.eobrun = (1 << run) - 1
                    if run:
                        self.eobrun += reader.read_bits(run)
                    break
                k += 16  # ZRL
                continue
            k += run
            if k > se:
                raise ValueError("JPEG AC run past band end")
            row[_ZIGZAG_IDX[k]] = _extend(reader.read_bits(size), size) << al
            k += 1

    def ac_refine(self, row, ta, ss, se, ah, al) -> None:
        """AC successive-approximation refinement (T.81 G.1.2.3): newly
        significant coefficients as (run<<4)|1 + sign, one correction bit
        per already-nonzero coefficient, trailing zeros folded into the
        EOB run."""
        tbl = self.ac = self.tables[(1, ta)]
        if self.encoding:
            band = row[ss : se + 1].tolist()
            absv = [abs(v) >> al for v in band]
            eob = -1  # band index of the last newly-significant coefficient
            for idx, t in enumerate(absv):
                if t == 1:
                    eob = idx
            run = 0
            br: list[int] = []
            for idx, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and idx <= eob:
                    if self.eobrun:
                        self._emit_eobrun()
                    self._put(tbl, 0xF0)
                    run -= 16
                    for b in br:
                        self.writer.write(b, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                if self.eobrun:
                    self._emit_eobrun()
                self._put(tbl, (run << 4) | 1)
                self.writer.write(1 if band[idx] >= 0 else 0, 1)
                for b in br:
                    self.writer.write(b, 1)
                br = []
                run = 0
            if run > 0 or br:
                self.eobrun += 1
                self.eobbits.extend(br)
                if self.eobrun == 0x7FFF:
                    self._emit_eobrun()
            return
        reader = self.reader
        p1 = 1 << al
        m1 = -p1
        k = ss
        if self.eobrun == 0:
            while k <= se:
                rs = _decode_symbol(reader, tbl)
                run, size = rs >> 4, rs & 15
                val = 0
                if size == 0:
                    if run < 15:  # EOBn: this block's tail + (eobrun-1) more
                        self.eobrun = 1 << run
                        if run:
                            self.eobrun += reader.read_bits(run)
                        break
                    # ZRL: skip 16 zero-HISTORY positions, refining on the way
                else:
                    if size != 1:
                        raise ValueError("bad AC refinement symbol")
                    val = p1 if reader.read_bit() else m1
                while k <= se:
                    z = _ZIGZAG_IDX[k]
                    if row[z] != 0:
                        if reader.read_bit() and (row[z] & p1) == 0:
                            row[z] += p1 if row[z] >= 0 else m1
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("JPEG refinement run past band end")
                    row[_ZIGZAG_IDX[k]] = val
                k += 1
        if self.eobrun > 0:
            while k <= se:
                z = _ZIGZAG_IDX[k]
                if row[z] != 0:
                    if reader.read_bit() and (row[z] & p1) == 0:
                        row[z] += p1 if row[z] >= 0 else m1
                k += 1
            self.eobrun -= 1


class _Arith(_Coder):
    """Arithmetic coding: the QM coder, statistics areas created per
    (model, table id) on first use, the DC conditioning contexts and the
    lossless Da/Db difference history. ``tables`` is the conditioning
    map read from or written to DAC (T.81 defaults where absent)."""

    def _reset(self) -> None:
        super()._reset()
        self.qm = ArithEncoder() if self.encoding else ArithDecoder(self._segment())
        # table id -> (statistics area, L, U, Kx), one map per model
        self.dc_models: dict[int, tuple] = {}
        self.ac_models: dict[int, tuple] = {}
        self.ll_models: dict[int, tuple] = {}
        self.fixed = new_fixed_stats()
        self.dcctx: dict[int, int] = {}
        self.left: dict[int, int] = {}
        self.above: dict[tuple, int] = {}

    def _flush(self) -> bytes:
        return self.qm.scan()

    def _model(self, models: dict, tid: int, new) -> tuple:
        m = models.get(tid)
        if m is None:
            m = models[tid] = (new(), *conditioning_for(self.tables, tid, tid))
        return m

    def _dc(self, k, td, diff=None):
        stats, low, up, _ = self._model(self.dc_models, td, new_dc_stats)
        ctx = self.dcctx.get(k, 0)
        if self.encoding:
            self.dcctx[k] = encode_dc_arith(self.qm, stats, ctx, diff, low, up)
            return None
        diff, self.dcctx[k] = decode_dc_arith(self.qm, stats, ctx, low, up)
        return diff

    def _ll(self, ci, td, x, d=None):
        """Lossless difference conditioned on the differences coded left
        of and above the sample (Annex H.2.4; row starts have no left)."""
        model = self.ll_models.get(td) or self._model(
            self.ll_models, td, new_lossless_stats
        )
        stats, low, up, _ = model
        ctx, xbase = lossless_context(
            self.left.get(ci, 0) if x else 0, self.above.get((ci, x), 0), low, up
        )
        if self.encoding:
            encode_dc_arith(self.qm, stats, ctx, d, low, up, xbase)
        else:
            d, _ = decode_dc_arith(self.qm, stats, ctx, low, up, xbase)
        self.left[ci] = self.above[(ci, x)] = d
        return d

    def bit(self, b=None):
        if self.encoding:
            self.qm.encode(self.fixed, 0, b)
            return None
        return self.qm.decode(self.fixed, 0)

    def ac_first(self, row, ta, ss, se, al) -> None:
        stats, _, _, kx = self._model(self.ac_models, ta, new_ac_stats)
        if self.encoding:
            encode_ac_arith(self.qm, stats, self.fixed, row.tolist(), kx, ss, se, al)
        else:
            decode_ac_arith(
                self.qm, stats, self.fixed, row, _ZIGZAG_IDX, kx, ss, se, al
            )

    def ac_refine(self, row, ta, ss, se, ah, al) -> None:
        stats = self._model(self.ac_models, ta, new_ac_stats)[0]
        if self.encoding:
            encode_ac_refine_arith(
                self.qm, stats, self.fixed, row.tolist(), ss, se, ah, al
            )
        else:
            decode_ac_refine_arith(
                self.qm, stats, self.fixed, row, _ZIGZAG_IDX, ss, se, al
            )


# ---------------------------------------------------------------------------
# scan walkers: one per frame process, shared by every encoder and the decoder
# ---------------------------------------------------------------------------

def _code_scan(coder, rows, units, restart_interval, differential, scan) -> bytes:
    """Run one DCT scan's units through ``coder``. ``scan`` is
    (Ss, Se, Ah, Al) for a progressive scan, None for a sequential one
    (DC difference + full AC band per block)."""
    if scan is None:
        def op(k, row, td, ta):
            coder.dc_first(k, row, td, 0, differential)
            coder.ac_first(row, ta, 1, 63, 0)
    else:
        ss, se, ah, al = scan
        if ss == 0 and ah == 0:
            def op(k, row, td, ta):
                coder.dc_first(k, row, td, al, differential)
        elif ss == 0:
            def op(k, row, td, ta):
                coder.dc_refine(row, al)
        elif ah == 0:
            def op(k, row, td, ta):
                coder.ac_first(row, ta, ss, se, al)
        else:
            def op(k, row, td, ta):
                coder.ac_refine(row, ta, ss, se, ah, al)
    for u, unit in enumerate(units):
        if restart_interval and u and u % restart_interval == 0:
            coder.restart()
        for k, bi, td, ta in unit:
            op(k, rows[k][bi], td, ta)
    return coder.finish()


def _ll_predict(plane: list, x: int, y: int, predictor: int, default: int) -> int:
    """Annex H.1.2 sample prediction. Positional overrides (H.1.2.2):
    scan start -> 2^(P-Pt-1); rest of first line -> Ra; first column of
    later lines -> Rb; everywhere else the selected predictor 1-7."""
    if y == 0:
        return default if x == 0 else plane[0][x - 1]
    if x == 0:
        return plane[y - 1][0]
    a = plane[y][x - 1]
    b = plane[y - 1][x]
    if predictor == 1:
        return a
    if predictor == 2:
        return b
    c = plane[y - 1][x - 1]
    if predictor == 3:
        return c
    if predictor == 4:
        return a + b - c
    if predictor == 5:
        return a + ((b - c) >> 1)
    if predictor == 6:
        return b + ((a - c) >> 1)
    if predictor == 7:
        return (a + b) >> 1
    raise ValueError(f"lossless predictor {predictor} out of range 1-7")


def _code_lossless(coder, planes, size, restart_interval, predictor, default) -> bytes:
    """Run one lossless scan — ``planes`` = [(sample plane, DC table id)]
    interleaved sample by sample — through ``coder``. A restart also
    resets the next sample's prediction to the scan-start ``default``
    (H.2.2); later samples resume the positional rules. Predictor 0
    (legal only in differential frames of a hierarchical pyramid) is the
    constant zero prediction, with no positional overrides. The loop runs
    on nested lists (per-sample numpy indexing costs more than the
    coding); a decode writes them back to the planes."""
    ih, iw = size
    rows = [(plane.tolist(), td) for plane, td in planes]
    reset = False
    for y in range(ih):
        for x in range(iw):
            u = y * iw + x
            if restart_interval and u and u % restart_interval == 0:
                coder.restart()
                reset = True
            for ci, (plane, td) in enumerate(rows):
                if reset or predictor == 0:
                    px = default
                else:
                    px = _ll_predict(plane, x, y, predictor, default)
                coder.lossless(ci, td, plane, y, x, px)
            reset = False
    if not coder.encoding:
        for (plane, _), (vals, _) in zip(planes, rows):
            plane[:] = vals
    return coder.finish()


_DIFFERENTIAL = (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF)


class _Frame:
    """One frame: process flags from its SOF marker, sample geometry and
    per-component ``rows`` — (n_blocks, 64) coefficient stores for DCT
    frames (MCU-padded, raster block order), (H, W) sample planes for
    lossless frames. ``comps`` = [(component id, H, V, Tq)]."""

    def __init__(self, marker: int, prec: int, h: int, w: int, comps, rows=None):
        self.marker = marker
        self.progressive = marker in (0xC2, 0xC6, 0xCA, 0xCE)
        self.lossless = marker in (0xC3, 0xC7, 0xCB, 0xCF)
        self.arith = marker >= 0xC9
        self.differential = marker in _DIFFERENTIAL
        self.prec, self.h, self.w, self.comps = prec, h, w, comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcus_x = -(-w // (8 * self.hmax))
        self.mcus_y = -(-h // (8 * self.vmax))
        if rows is None:
            if self.lossless:
                rows = [np.zeros((h, w), dtype=np.int64) for _ in comps]
            else:
                rows = [
                    np.zeros((self.mcus_y * cv * self.mcus_x * ch, 64), dtype=np.int64)
                    for _, ch, cv, _ in comps
                ]
        self.rows = rows

    def coder(self, tables, segments=None) -> _Coder:
        return (_Arith if self.arith else _Huffman)(tables, segments, self.progressive)

    def units(self, sel) -> list:
        """Scan units: an interleaved scan steps MCUs (ch*cv blocks per
        component); a single-component scan steps that component's OWN
        block grid, which can be narrower than the MCU-padded store."""
        mcus_x = self.mcus_x
        if len(sel) > 1:
            units = []
            for my in range(self.mcus_y):
                for mx in range(mcus_x):
                    blocks = []
                    for k, td, ta in sel:
                        _, ch, cv, _ = self.comps[k]
                        for vy in range(cv):
                            for vx in range(ch):
                                bi = (my * cv + vy) * (mcus_x * ch) + (mx * ch + vx)
                                blocks.append((k, bi, td, ta))
                    units.append(blocks)
            return units
        k, td, ta = sel[0]
        _, ch, cv, _ = self.comps[k]
        # comp sample dims: ceil(i*c/max); block grid is ceil(samples/8)
        comp_w = -(-self.w * ch // self.hmax)
        comp_h = -(-self.h * cv // self.vmax)
        bw, bh = -(-comp_w // 8), -(-comp_h // 8)
        stride = mcus_x * ch
        return [[(k, by * stride + bx, td, ta)] for by in range(bh) for bx in range(bw)]

    def code_scan(self, coder, sel, ss, se, ah, al, restart_interval) -> bytes:
        """Encode or decode (by ``coder``) one scan over components
        ``sel`` = [(index, Td, Ta)] with SOS parameters ss/se/ah/al —
        Ss is the predictor and Al the point transform in lossless."""
        if self.lossless:
            default = 0 if ss == 0 else 1 << (self.prec - al - 1)
            planes = [(self.rows[k], td) for k, td, _ in sel]
            return _code_lossless(
                coder, planes, (self.h, self.w), restart_interval, ss, default
            )
        scan = (ss, se, ah, al) if self.progressive else None
        return _code_scan(
            coder, self.rows, self.units(sel), restart_interval, self.differential, scan
        )


# ---------------------------------------------------------------------------
# frame writer (encoders)
# ---------------------------------------------------------------------------

_APP0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
    ">HHBB", 1, 1, 0, 0
)


def _dht_segment(tclass: int, tid: int, bits: list, values: list) -> bytes:
    payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload


def _dqt_segment(tid: int, table: np.ndarray) -> bytes:
    zz = table.reshape(-1)[ZIGZAG]
    payload = bytes([tid]) + bytes(int(x) for x in zz)
    return b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload


def _sof(marker: int, prec: int, h: int, w: int, comps) -> bytes:
    """SOFn (or DHP) segment for ``comps`` = [(id, H, V, Tq)]."""
    body = struct.pack(">BHHB", prec, h, w, len(comps)) + bytes(
        b for cid, ch, cv, tq in comps for b in (cid, (ch << 4) | cv, tq)
    )
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


def _table_segments(tables: dict, arith: bool) -> bytes:
    """DHT segments for Huffman ``tables`` {(class, id): (BITS, HUFFVAL)},
    or one DAC segment for arithmetic conditioning {("dc", id): (L, U),
    ("ac", id): Kx} — in the dict's order."""
    if not arith:
        return b"".join(
            _dht_segment(tc, tid, *spec) for (tc, tid), spec in tables.items()
        )
    body = b"".join(
        bytes([tb, (v[1] << 4) | v[0]] if kind == "dc" else [0x10 | tb, v])
        for (kind, tb), v in tables.items()
    )
    return b"\xff\xcc" + struct.pack(">H", 2 + len(body)) + body


def _encode_tables(tables: dict, arith: bool) -> dict:
    """Coder tables from a frame writer's table spec: Huffman encode
    tables built from (BITS, HUFFVAL); arithmetic conditioning as is."""
    if arith:
        return tables
    return {key: _build_encode_table(*spec) for key, spec in tables.items()}


def _frame_scans(frame: _Frame, script, coder_tables: dict,
                 restart_interval: int = 0) -> bytes:
    """SOS + entropy-coded data for each scan of ``script`` = [(sel,
    Ss, Se, Ah, Al)], ``sel`` = [(component index, Td, Ta)]."""
    out = bytearray()
    for sel, ss, se, ah, al in script:
        body = bytes([len(sel)])
        for k, td, ta in sel:
            body += bytes([frame.comps[k][0], (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body
        out += frame.code_scan(frame.coder(coder_tables), sel, ss, se, ah, al,
                               restart_interval)
    return bytes(out)


def _write_jpeg(frame: _Frame, script, tables: dict, *, qtables=(),
                restart_interval: int = 0, jfif: bool = False) -> bytes:
    """The one frame writer: SOI, [APP0], DQT*, SOF, DHT* | DAC, [DRI],
    the scans of ``script``, EOI."""
    out = b"\xff\xd8" + (_APP0 if jfif else b"")
    out += b"".join(_dqt_segment(tid, q) for tid, q in qtables)
    out += _sof(frame.marker, frame.prec, frame.h, frame.w, frame.comps)
    out += _table_segments(tables, frame.arith)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    scans = _frame_scans(frame, script, _encode_tables(tables, frame.arith),
                         restart_interval)
    return out + scans + b"\xff\xd9"


# ---------------------------------------------------------------------------
# encoders
# ---------------------------------------------------------------------------

def _rgb_to_ycbcr(img: np.ndarray, center: float = 128.0):
    """BT.601 RGB -> (Y, Cb, Cr) float planes; chroma centered on
    ``center`` (half the sample range)."""
    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + center
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + center
    return y, cb, cr


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _downsample2(plane: np.ndarray) -> np.ndarray:
    """2x2 box downsample with edge padding to even dims."""
    p = plane.astype(np.float64)
    if p.shape[0] % 2:
        p = np.concatenate([p, p[-1:, :]], axis=0)
    if p.shape[1] % 2:
        p = np.concatenate([p, p[:, -1:]], axis=1)
    return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H, W multiples of 8 -> (n, 8, 8) in raster block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _quantize(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Level-shifted (H, W) plane, multiples of 8 -> quantized zigzag
    rows in raster block order."""
    qz = np.round(fdct_blocks(_plane_blocks(plane)) / qt).astype(np.int64)
    return qz.reshape(-1, 64)[:, ZIGZAG]


def _as_rgb(img: np.ndarray) -> np.ndarray:
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected HxWx3 or HxW uint8, got {img.shape}")
    return img


def _ycc_frame(marker: int, img: np.ndarray, quality: int, subsampling: str):
    """The quantization pipeline every 8-bit DCT encoder shares (color
    convert, subsample, pad to MCUs, FDCT, quantize): the frame of the
    three YCbCr components plus its DQT tables, so all those lanes decode
    to identical pixels."""
    img = _as_rgb(img)
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    h, w = img.shape[:2]
    sub = 2 if subsampling == "4:2:0" else 1

    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)

    y, cb, cr = _rgb_to_ycbcr(img)
    if sub == 2:
        cb, cr = _downsample2(cb), _downsample2(cr)
    # pad every plane to full MCUs (luma MCU is 8*sub square)
    y = _pad_edge(y, 8 * sub)
    cb = _pad_edge(cb, 8)
    cr = _pad_edge(cr, 8)
    # chroma planes must span the same MCU grid as the luma plane
    if cb.shape != (y.shape[0] // sub, y.shape[1] // sub):
        ph = y.shape[0] // sub - cb.shape[0]
        pw = y.shape[1] // sub - cb.shape[1]
        cb = np.pad(cb, ((0, ph), (0, pw)), mode="edge")
        cr = np.pad(cr, ((0, ph), (0, pw)), mode="edge")
    rows = [_quantize(p - 128.0, qt) for p, qt in ((y, qy), (cb, qc), (cr, qc))]
    comps = [(1, sub, sub, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    return _Frame(marker, 8, h, w, comps, rows), [(0, qy), (1, qc)]


# one interleaved sequential scan of Y (tables 0) + Cb, Cr (tables 1)
_YCC_SEQUENTIAL = [([(0, 0, 0), (1, 1, 1), (2, 1, 1)], 0, 63, 0, 0)]


def _dac(dc_l: int, dc_u: int, ac_kx: int | None, n_tables: int) -> dict:
    """Arithmetic conditioning for DC tables 0..n-1 (and AC tables, when
    ``ac_kx`` is given) in DAC order."""
    cond: dict = {("dc", t): (dc_l, dc_u) for t in range(n_tables)}
    if ac_kx is not None:
        cond.update({("ac", t): ac_kx for t in range(n_tables)})
    return cond


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> baseline JFIF JPEG bytes.

    ``subsampling``: '4:4:4' (no chroma subsampling) or '4:2:0' (2x2).
    ``restart_interval``: emit DRI + RSTn every N MCUs (0 = none).
    Deterministic: same inputs -> same bytes on any platform.
    """
    frame, qtables = _ycc_frame(0xC0, img, quality, subsampling)
    return _write_jpeg(frame, _YCC_SEQUENTIAL, STD_TABLES, qtables=qtables,
                       restart_interval=restart_interval, jfif=True)


# ---------------------------------------------------------------------------
# 12-bit extended-sequential encoder (SOF1) — fixture source for the
# 12-bit decode lane. Flat canonical huffman tables cover the full
# extended category ranges (DC 0-15 at length 5: Kraft 16/32; AC
# EOB/ZRL + run 0-15 x size 1-14 = 226 symbols at length 8: 226/256) —
# compression is secondary to coverage in a fixture encoder.
# ---------------------------------------------------------------------------

_DC12_BITS = [0, 0, 0, 0, 16] + [0] * 11
_DC12_VALS = list(range(16))
_AC12_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 15)
]
_AC12_BITS = [0] * 16
_AC12_BITS[7] = len(_AC12_VALS)


def encode_jpeg12(img: np.ndarray, quality: int = 90) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> 12-bit extended-sequential JPEG
    (SOF1, 4:4:4). Samples are bit-replicated 8->12 (v*16 + v//16) so
    the decoder's 255/4095 reduction recovers the input up to quant
    error. Deterministic."""
    img = _as_rgb(img)
    h, w = img.shape[:2]
    f = img.astype(np.float64)
    y, cb, cr = _rgb_to_ycbcr(f * 16.0 + np.floor(f / 16.0), 2048.0)  # 8->12 bit

    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    rows = [
        # keep AC inside the size-14 category range the tables cover
        np.clip(_quantize(_pad_edge(plane, 8) - 2048.0, qt), -16383, 16383)
        for plane, qt in ((y, qy), (cb, qc), (cr, qc))
    ]
    frame = _Frame(0xC1, 12, h, w, [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)], rows)
    tables = {(0, 0): (_DC12_BITS, _DC12_VALS), (1, 0): (_AC12_BITS, _AC12_VALS)}
    script = [([(0, 0, 0), (1, 0, 0), (2, 0, 0)], 0, 63, 0, 0)]
    return _write_jpeg(frame, script, tables, qtables=[(0, qy), (1, qc)])


# ---------------------------------------------------------------------------
# progressive encoders (T.81 Annex G: spectral selection + successive
# approximation) — exist chiefly to manufacture REAL progressive streams
# for the decoder's tests, so they favor one fixed table over per-scan
# optimization
# ---------------------------------------------------------------------------

# Universal tables covering every symbol the progressive scans can emit:
# DC categories 0..13 (4-bit codes); AC (run<<4|size) for run 0..15 and
# size 1..13, EOBn for runs up to 2^13, and ZRL (all 8-bit codes). Valid
# canonical tables — just not size-optimal, which tests don't care about.
_PROG_DC_VALS = list(range(14))
_PROG_DC_BITS = [0, 0, 0, 14, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = sorted(
    {(r << 4) | s for r in range(16) for s in range(1, 14)}
    | {r << 4 for r in range(14)}
    | {0xF0}
)
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _sa_script(td, ta) -> list:
    """The standard 10-scan successive-approximation script (the libjpeg
    default shape) over Y, Cb, Cr with per-component DC / AC table ids:
    DC first at Al=1 for all components, luma AC bands 1-5 / 6-63 at
    Al=2, chroma AC at Al=1, one luma AC refinement to Al=1, the DC
    refinement, then Al=0 refinements for every component — all four
    progressive block modes."""
    dc = [(c, td[c], 0) for c in range(3)]

    def ac(c):
        return [(c, 0, ta[c])]

    return [
        (dc, 0, 0, 0, 1), (ac(0), 1, 5, 0, 2), (ac(2), 1, 63, 0, 1),
        (ac(1), 1, 63, 0, 1), (ac(0), 6, 63, 0, 2), (ac(0), 1, 63, 2, 1),
        (dc, 0, 0, 1, 0), (ac(2), 1, 63, 1, 0), (ac(1), 1, 63, 1, 0),
        (ac(0), 1, 63, 1, 0),
    ]


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 90, subsampling: str = "4:4:4"
) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> PROGRESSIVE (SOF2) JPEG bytes.

    Uses the standard 10-scan successive-approximation script (see
    ``_sa_script``), so a decoder must exercise all four progressive
    block modes to reconstruct it. Quantized coefficients are identical
    to :func:`encode_jpeg`'s at the same (quality, subsampling), so both
    decode to the same pixels.
    """
    frame, qtables = _ycc_frame(0xC2, img, quality, subsampling)
    tables = {
        (0, 0): (_PROG_DC_BITS, _PROG_DC_VALS),
        (1, 0): (_PROG_AC_BITS, _PROG_AC_VALS),
    }
    return _write_jpeg(frame, _sa_script((0, 0, 0), (0, 0, 0)), tables,
                       qtables=qtables, jfif=True)


def encode_jpeg_arith(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:4:4",
    dc_l: int = 0,
    dc_u: int = 1,
    ac_kx: int = 5,
) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> sequential ARITHMETIC-coded
    (SOF9) JPEG bytes, with an explicit DAC segment carrying the
    conditioning bounds (T.81 defaults L=0, U=1, Kx=5; overridable so
    the decoder's DAC parsing is testable against non-defaults).
    Shares the exact quantization pipeline with ``encode_jpeg``, so the
    two encoders' outputs decode to identical pixels at the same
    quality — the cross-entropy-coding parity the tests pin."""
    frame, qtables = _ycc_frame(0xC9, img, quality, subsampling)
    return _write_jpeg(frame, _YCC_SEQUENTIAL, _dac(dc_l, dc_u, ac_kx, 2),
                       qtables=qtables, jfif=True)


def encode_jpeg_arith_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    dc_l: int = 0,
    dc_u: int = 1,
    ac_kx: int = 5,
) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> PROGRESSIVE ARITHMETIC-coded
    (SOF10) JPEG bytes, using the same 10-scan successive-approximation
    script as :func:`encode_jpeg_progressive` — so the decoder must
    exercise all four arithmetic progressive scan kinds (DC first/
    refine, AC first/refine) to reconstruct. Quantized coefficients are
    identical to the sequential encoders' at the same (quality,
    subsampling); the tests pin pixel parity across all four
    (huffman|arithmetic) x (sequential|progressive) lanes.
    ``restart_interval`` applies to every scan (units are MCUs for the
    interleaved DC scans, blocks for the single-component AC scans)."""
    frame, qtables = _ycc_frame(0xCA, img, quality, subsampling)
    return _write_jpeg(frame, _sa_script((0, 1, 1), (0, 1, 1)),
                       _dac(dc_l, dc_u, ac_kx, 2), qtables=qtables,
                       restart_interval=restart_interval, jfif=True)


# ---------------------------------------------------------------------------
# lossless encoders (SOF3 / SOF11 — T.81 Annex H: predictive coding of
# sample differences)
# ---------------------------------------------------------------------------

# one DC-class table covering every difference category 0..16: seventeen
# 5-bit canonical codes (17 < 31, so the all-ones code stays unused and
# the final-byte 1-padding can never alias a 17th symbol)
_LL_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_LL_VALS = list(range(17))


def _lossless_frame(marker, img, predictor, precision, point_transform) -> _Frame:
    """RGB or gray samples at ``precision`` (12/16 bit-replicate like the
    12-bit JPEG / 16-bit PNG fixture encoders: v*16+v//16, v*257), right-
    shifted by the point transform, one plane per component."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected HxWx3 or HxW uint8, got {img.shape}")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1-7 (0 is differential-only)")
    if precision not in (8, 12, 16):
        raise ValueError("precision must be 8, 12 or 16")
    if not 0 <= point_transform < precision:
        raise ValueError("point_transform must satisfy 0 <= Pt < precision")
    samples = img.astype(np.int64)
    if precision == 12:
        samples = samples * 16 + samples // 16
    elif precision == 16:
        samples = samples * 257
    samples >>= point_transform
    h, w = img.shape[:2]
    planes = [samples] if gray else [samples[:, :, k] for k in range(3)]
    comps = [(k + 1, 1, 1, 0) for k in range(len(planes))]
    return _Frame(marker, precision, h, w, comps, planes)


def _lossless_script(frame: _Frame, predictor: int, point_transform: int) -> list:
    sel = [(k, 0, 0) for k in range(len(frame.comps))]
    return [(sel, predictor, 0, 0, point_transform)]


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 1,
    precision: int = 8,
    point_transform: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> LOSSLESS (SOF3) JPEG bytes.

    Pixel-EXACT roundtrip at point_transform=0: lossless JPEG has no
    quantization and no color transform — RGB components are coded as-is,
    so ``decode_jpeg(encode_jpeg_lossless(img)) == img`` bit-for-bit
    (the property no lossy lane can offer the dedup fixtures).

    ``precision``: 8 codes samples as-is; 12/16 bit-replicate like the
    12-bit JPEG / 16-bit PNG fixture encoders (v*16+v//16, v*257) so the
    decoder's high-precision reduction restores the original exactly.
    ``point_transform`` (Annex H "near-lossless"): samples are coded
    right-shifted by Pt and the decoder scales back, so the roundtrip is
    ``(v >> Pt) << Pt``. ``restart_interval`` emits DRI/RSTn every N
    samples (MCUs) with scan-start prediction reset, mirroring the
    decoder exactly.
    """
    frame = _lossless_frame(0xC3, img, predictor, precision, point_transform)
    return _write_jpeg(frame, _lossless_script(frame, predictor, point_transform),
                       {(0, 0): (_LL_BITS, _LL_VALS)},
                       restart_interval=restart_interval)


def encode_jpeg_lossless_arith(
    img: np.ndarray,
    predictor: int = 1,
    precision: int = 8,
    point_transform: int = 0,
    restart_interval: int = 0,
    dc_l: int = 0,
    dc_u: int = 1,
) -> bytes:
    """HxWx3 RGB (or HxW gray) uint8 -> LOSSLESS ARITHMETIC-coded
    (SOF11) JPEG bytes — same predictive layer as
    ``encode_jpeg_lossless`` (predictors 1-7, point transform,
    bit-replicated 12/16-bit precision, restart intervals) with the QM
    coder replacing huffman, so
    ``decode_jpeg(encode_jpeg_lossless_arith(img)) == img`` bit-for-bit
    at Pt=0 and the huffman/arithmetic lanes decode identically."""
    frame = _lossless_frame(0xCB, img, predictor, precision, point_transform)
    return _write_jpeg(frame, _lossless_script(frame, predictor, point_transform),
                       _dac(dc_l, dc_u, None, 1), restart_interval=restart_interval)


# ---------------------------------------------------------------------------
# hierarchical encoder (DHP/EXP + differential frames — T.81 Annex J)
# ---------------------------------------------------------------------------

def _exp_double(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """Annex J.1.1.3 reference expansion: doubled axes interleave the
    original samples with (a + b + 1) >> 1 midpoints (edge replicated)."""
    p = plane.astype(np.int64)
    if eh:
        right = np.concatenate([p[:, 1:], p[:, -1:]], axis=1)
        out = np.empty((p.shape[0], p.shape[1] * 2), np.int64)
        out[:, 0::2] = p
        out[:, 1::2] = (p + right + 1) >> 1
        p = out
    if ev:
        down = np.concatenate([p[1:, :], p[-1:, :]], axis=0)
        out = np.empty((p.shape[0] * 2, p.shape[1]), np.int64)
        out[0::2, :] = p
        out[1::2, :] = (p + down + 1) >> 1
        p = out
    return p


def _idct_plane(store: np.ndarray, qt: np.ndarray, bw: int) -> np.ndarray:
    """Dequantize + IDCT a (n, 64) natural-order block store, ``bw``
    blocks per row, into its block-padded sample plane."""
    spatial = idct_blocks((store * qt.reshape(-1)).reshape(-1, 8, 8).astype(np.float64))
    bh = store.shape[0] // bw
    return spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def encode_jpeg_hierarchical(
    img: np.ndarray, quality: int = 85, levels: int = 2,
    arithmetic: bool = False, progressive_diff: bool = False,
    final_lossless: bool = False,
) -> bytes:
    """HxW grayscale uint8 -> HIERARCHICAL JPEG (Annex J): a DHP header,
    a non-differential SOF0 frame at 1/2^levels resolution, then per
    level an EXP expansion plus a DIFFERENTIAL SOF5 frame coding the
    correction against the expanded reference (PRED=0 DC coding, flat
    category-0..16 DC table; AC coefficients clipped to the standard
    table's +-1023 — legal, the encoder reconstructs from the SAME
    clipped values it writes, mirroring the decoder exactly).
    ``arithmetic=True`` swaps the entropy layer: SOF9 base + SOF13
    differential frames with QM-coded scans (default conditioning) and
    a DAC segment in place of the huffman tables — the pyramid math is
    byte-for-byte identical, so both variants decode to the same
    pixels.

    ``progressive_diff=True`` codes each DCT differential stage as a
    PROGRESSIVE differential frame (SOF6 huffman / SOF14 arithmetic)
    with a four-scan successive-approximation script (DC first Al=1,
    AC first Al=1, DC refine, AC refine) over the same quantized
    correction coefficients — again pixel-identical to the sequential
    variants. ``final_lossless=True`` appends one LOSSLESS differential
    frame (SOF7 huffman / SOF15 arithmetic, zero prediction, mod-2^16
    corrections per T.81 J.1.5) at full resolution, making
    ``decode_jpeg`` reconstruct the input EXACTLY — the progressive-to-
    lossless pyramid Annex J exists for."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 2:
        raise ValueError("hierarchical fixture encoder takes HxW grayscale")
    if levels < 1:
        raise ValueError("levels must be >= 1")
    h, w = img.shape
    pyramid = [img.astype(np.float64)]
    for _ in range(levels):
        pyramid.append(_downsample2(pyramid[-1]))

    q = _scaled_quant(QUANT_LUMA, quality)
    comps = [(1, 1, 1, 0)]
    if arithmetic:  # DAC with the T.81 defaults
        tables = {("dc", 0): (0, 1), ("ac", 0): 5}
    else:
        tables = {
            (0, 0): (_DC_LUMA_BITS, _DC_LUMA_VALS),
            (1, 0): (_AC_LUMA_BITS, _AC_LUMA_VALS),
            (0, 1): (_LL_BITS, _LL_VALS),  # differential DC / lossless
        }
        if progressive_diff:  # EOBn/ZRL symbols the std AC table lacks
            tables[(1, 1)] = (_PROG_AC_BITS, _PROG_AC_VALS)
    t = 0 if arithmetic else 1  # table id of every differential stage
    coder_tables = _encode_tables(tables, arithmetic)

    def stage(marker, fh, fw, rows, script) -> bytes:
        frame = _Frame(marker, 8, fh, fw, comps, rows)
        scans = _frame_scans(frame, script, coder_tables)
        return _sof(marker, 8, fh, fw, comps) + scans

    def reconstruct(zz: np.ndarray, fh: int, fw: int) -> np.ndarray:
        nat = np.zeros_like(zz)
        nat[:, ZIGZAG] = zz
        return _idct_plane(nat, q, -(-fw // 8))[:fh, :fw]

    out = bytearray(b"\xff\xd8" + _sof(0xDE, 8, h, w, comps) + _dqt_segment(0, q))
    out += _table_segments(tables, arithmetic)

    # non-differential base frame
    base = pyramid[-1]
    fh, fw = base.shape
    zz = _quantize(_pad_edge(base - 128.0, 8), q)
    out += stage(0xC9 if arithmetic else 0xC0, fh, fw, [zz],
                 [([(0, 0, 0)], 0, 63, 0, 0)])
    ref = np.clip(np.round(reconstruct(zz, fh, fw) + 128.0), 0, 255).astype(np.int64)

    # differential refinement frames, deepest level outward
    for lvl in range(levels - 1, -1, -1):
        target = pyramid[lvl]
        fh, fw = target.shape
        ref = _exp_double(ref, 1, 1)[:fh, :fw]
        zz = _quantize(_pad_edge(target - ref.astype(np.float64), 8), q)
        zz[:, 1:] = np.clip(zz[:, 1:], -1023, 1023)  # std AC table range
        out += bytes([0xFF, 0xDF]) + struct.pack(">H", 3) + bytes([0x11])
        if progressive_diff:  # DC first Al=1, AC first Al=1, then refinements
            dc, ac = [(0, t, 0)], [(0, t, t)]
            script = [(dc, 0, 0, 0, 1), (ac, 1, 63, 0, 1), (dc, 0, 0, 1, 0),
                      (ac, 1, 63, 1, 0)]
            out += stage(0xCE if arithmetic else 0xC6, fh, fw, [zz], script)
        else:
            out += stage(0xCD if arithmetic else 0xC5, fh, fw, [zz],
                         [([(0, t, 0)], 0, 63, 0, 0)])
        ref = np.clip(ref + np.round(reconstruct(zz, fh, fw)).astype(np.int64), 0, 255)

    if final_lossless:
        # same-size lossless differential frame: EXACT reconstruction
        # (Ss=0: zero prediction)
        out += stage(0xCF if arithmetic else 0xC7, h, w, [img.astype(np.int64) - ref],
                     [([(0, t, 0)], 0, 0, 0, 0)])
    return bytes(out + b"\xff\xd9")


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _split_scan(payload: bytes, start: int) -> tuple[list, int]:
    """Unstuff the entropy-coded scan into restart-delimited segments;
    also returns the offset of the marker that terminated the scan."""
    segments = [bytearray()]
    i = start
    n = len(payload)
    while i < n:
        b = payload[i]
        if b != 0xFF:
            segments[-1].append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = payload[i + 1]
        if m == 0x00:
            segments[-1].append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segments.append(bytearray())
            i += 2
        else:  # EOI or next marker: scan is over
            break
    return segments, i


def _next_segment(payload: bytes, i: int):
    """(marker, data, end offset) of the marker segment at ``i``, skipping
    stray RSTn; None at EOI or at the end of the payload. A stream cut
    inside a segment's length field gives ``data`` None; a segment
    running past the payload raises."""
    n = len(payload)
    while i + 2 <= n:
        if payload[i] != 0xFF:
            raise ValueError(f"bad marker alignment at byte {i}")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            return None
        if 0xD0 <= marker <= 0xD7:  # stray RST between scans
            i += 2
            continue
        if i + 4 > n:
            return marker, None, n
        end = i + 2 + ((payload[i + 2] << 8) | payload[i + 3])
        if end < i + 4 or end > n:
            raise ValueError(f"JPEG truncated: marker 0x{marker:02X} segment")
        return marker, payload[i + 4 : end], end
    return None


def _need(data: bytes, n: int, what: str) -> None:
    if len(data) < n:
        raise ValueError(f"JPEG {what} segment too short")


class _Tables:
    """Stream-level table state: quantization tables, Huffman decode
    tables, arithmetic conditioning and the restart interval, read from
    DQT / DHT / DAC / DRI wherever they appear."""

    def __init__(self) -> None:
        self.quant: dict[int, np.ndarray] = {}
        self.huff: dict[tuple, dict] = {}
        self.cond: dict[tuple, object] = {}
        self.restart_interval = 0

    def read(self, marker: int, data: bytes) -> bool:
        """Absorb one table segment; False if ``marker`` is not one."""
        j = 0
        if marker == 0xDB:  # DQT (may hold several tables)
            while j < len(data):
                prec, tid = data[j] >> 4, data[j] & 15
                _need(data, j + 1 + (128 if prec else 64), "DQT")
                vals = np.frombuffer(data, ">u2" if prec else np.uint8, 64, j + 1)
                j += 129 if prec else 65
                nat = np.empty(64, dtype=np.int64)
                nat[ZIGZAG] = vals.astype(np.int64)
                self.quant[tid] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT (may hold several tables)
            while j < len(data):
                _need(data, j + 17, "DHT")
                bits = list(data[j + 1 : j + 17])
                nv = sum(bits)
                _need(data, j + 17 + nv, "DHT")
                values = list(data[j + 17 : j + 17 + nv])
                table = _build_decode_table(bits, values)
                self.huff[(data[j] >> 4, data[j] & 15)] = table
                j += 17 + nv
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            for j in range(0, len(data) - 1, 2):
                tc, tb, v = data[j] >> 4, data[j] & 15, data[j + 1]
                if tc == 0:
                    self.cond[("dc", tb)] = (v & 15, v >> 4)
                else:
                    self.cond[("ac", tb)] = v
        elif marker == 0xDD:  # DRI
            _need(data, 2, "DRI")
            self.restart_interval = (data[0] << 8) | data[1]
        else:
            return False
        return True


def _read_frame(marker: int, data: bytes) -> _Frame:
    """SOFn -> empty frame (geometry, process flags, zeroed stores)."""
    _need(data, 6, "SOF")
    prec, ih, iw, nc = struct.unpack(">BHHB", data[:6])
    _need(data, 6 + 3 * nc, "SOF")
    if nc == 0:
        raise ValueError("JPEG frame without components")
    comps = []
    for c in range(nc):
        cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
        comps.append((cid, hv >> 4, hv & 15, tq))
    if any(ch == 0 or cv == 0 for _, ch, cv, _ in comps):
        raise ValueError("JPEG component with zero sampling factor")
    return _Frame(marker, prec, ih, iw, comps)


def _decode_scan(payload, start, data, frame: _Frame, tables: _Tables) -> int:
    """SOS at ``start`` (header ``data``) -> decode its entropy-coded data
    into the frame's stores; returns the offset of the marker that ended
    the scan."""
    _need(data, 1, "SOS")
    ns = data[0]
    _need(data, 4 + 2 * ns, "SOS")
    if ns == 0:
        raise ValueError("JPEG scan without components")
    index = {c[0]: k for k, c in enumerate(frame.comps)}
    sel = []
    for c in range(ns):
        cs, tbl = data[1 + 2 * c], data[2 + 2 * c]
        if cs not in index:
            raise ValueError(f"JPEG scan names unknown component {cs}")
        sel.append((index[cs], tbl >> 4, tbl & 15))
    ss, se, a = data[1 + 2 * ns], data[2 + 2 * ns], data[3 + 2 * ns]
    ah, al = a >> 4, a & 15
    if frame.progressive and se > 63:
        raise ValueError(f"JPEG scan band end {se} > 63")
    if frame.arith:
        coder_tables = tables.cond
    else:
        coder_tables = tables.huff
        dc_used = frame.lossless or not frame.progressive or (ss == 0 and ah == 0)
        ac_used = not frame.lossless and (not frame.progressive or ss > 0)
        for _, td, ta in sel:
            if (dc_used and (0, td) not in coder_tables) or (
                ac_used and (1, ta) not in coder_tables
            ):
                raise ValueError("JPEG scan uses an undefined huffman table")
    segments, end = _split_scan(payload, start)
    frame.code_scan(frame.coder(coder_tables, segments), sel, ss, se, ah, al,
                    tables.restart_interval)
    return end


def _frame_planes(frame: _Frame, tables: _Tables) -> list:
    """Dequantize + IDCT every component of a DCT frame and upsample it
    to the full MCU grid (integer sampling ratios)."""
    planes = []
    for (cid, ch, cv, tq), store in zip(frame.comps, frame.rows):
        if tq not in tables.quant:
            raise ValueError(f"JPEG frame uses undefined quantization table {tq}")
        plane = _idct_plane(store, tables.quant[tq], frame.mcus_x * ch)
        ry, rx = frame.vmax // cv, frame.hmax // ch
        if ry * cv != frame.vmax or rx * ch != frame.hmax:
            raise NotImplementedError("non-integer chroma sampling ratio")
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[: frame.h, : frame.w])
    return planes


def _to_rgb(frame: _Frame, tables: _Tables, pt: int) -> np.ndarray:
    """A finished non-hierarchical frame -> HxWx3 uint8 RGB. Lossless
    samples are spatial already: undo the point transform and emit the
    components AS STORED (no color transform). DCT frames convert
    BT.601 YCbCr. Precisions above 8 bits reduce by 255/(2^P-1)."""
    prec = frame.prec
    maxval = float((1 << prec) - 1)
    if frame.lossless:
        center = 0.0
        planes = [st.astype(np.float64) * float(1 << pt) for st in frame.rows]
    else:
        center = float(1 << (prec - 1))
        planes = [p + center for p in _frame_planes(frame, tables)]
    if len(planes) == 1:
        yp = planes[0] if prec == 8 else planes[0] * (255.0 / maxval)
        yp = np.clip(np.round(yp), 0, 255).astype(np.uint8)
        return np.repeat(yp[:, :, None], 3, axis=2)
    if len(planes) != 3:
        kind = "lossless " if frame.lossless else ""
        raise NotImplementedError(f"{len(planes)}-component {kind}JPEG not supported")
    if frame.lossless:
        rgb = np.stack(planes, axis=2)
        if prec != 8:
            rgb = rgb * (255.0 / maxval)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - center)
    g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    b = y + 1.772 * (cb - center)
    rgb = np.stack([r, g, b], axis=2)
    if prec != 8:
        # 12-bit samples -> 8-bit output (same reduction as the 16-bit
        # PNG lane: scale to [0, 255], round)
        rgb = np.clip(rgb, 0.0, maxval) * (255.0 / maxval)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _refine_reference(ref, frame: _Frame, tables: _Tables) -> np.ndarray:
    """Fold a finished pyramid frame into the reference: a base frame
    replaces it; a differential frame adds its decoded correction —
    IDCT output, or mod-2^16 spatial corrections (lossless, J.1.5)."""
    if frame.lossless:
        corr = frame.rows[0]
    else:
        corr = _frame_planes(frame, tables)[0]
        if not frame.differential:
            return np.clip(np.round(corr + 128.0), 0, 255).astype(np.int64)
    if ref is None:
        raise ValueError("differential frame before any reference")
    if ref.shape != (frame.h, frame.w):
        raise ValueError(
            f"reference {ref.shape} does not match frame {(frame.h, frame.w)}"
        )
    if frame.lossless:
        return np.clip((ref + corr) & 0xFFFF, 0, 255)
    return np.clip(ref + np.round(corr).astype(np.int64), 0, 255)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes of any T.81 process -> HxWx3 uint8 RGB.

    Reads quantization + huffman tables from the stream (third-party
    JPEGs decode with their own tables). Sequential huffman (SOF0/1,
    8- and 12-bit sample precision), progressive huffman (SOF2,
    spectral selection + successive approximation, T.81 Annex G),
    sequential/progressive/lossless arithmetic (SOF9/10/11, QM coder
    per Annex D/F/G.2/H — see ``jpeg_arith.py``), lossless huffman
    (SOF3, Annex H predictive), and hierarchical (Annex J DHP/EXP
    pyramids with sequential/progressive/lossless differential frames,
    SOF5/6/7/13/14/15 — a lossless final stage reconstructs exactly)
    streams decode. Every T.81 frame type decodes in its legal
    position; differential frames outside a pyramid raise.
    12-bit output is reduced to 8-bit RGB (scale 255/4095), mirroring
    the 16-bit PNG lane. Truncated or malformed streams raise
    ``ValueError``.
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    tables = _Tables()
    frame = None
    hierarchical = None  # DHP (H, W): every frame then refines `ref`
    ref = None
    exp = None
    n_scans = 0
    pt = 0  # lossless point transform (of the last scan)
    i = 2
    while True:
        seg = _next_segment(payload, i)
        if seg is None:
            break
        marker, data, i = seg
        if data is None:
            # stream cut inside a marker: a single frame keeps what its
            # scans decoded; a pyramid cannot tell its last stage is whole
            if hierarchical:
                raise ValueError("hierarchical JPEG truncated inside a marker")
            break
        if tables.read(marker, data):
            continue
        if marker == 0xDA:  # SOS (one of possibly many)
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            i = _decode_scan(payload, i, data, frame, tables)
            pt = data[3 + 2 * data[0]] & 15
            n_scans += 1
        elif marker == 0xDE:  # DHP: the stream is a hierarchical pyramid
            _need(data, 6, "DHP")
            prec, dh, dw, nc = struct.unpack(">BHHB", data[:6])
            if nc != 1 or prec != 8:
                raise NotImplementedError(
                    "hierarchical JPEG beyond 8-bit single-component"
                )
            hierarchical = (dh, dw)
        elif marker == 0xDF and hierarchical:  # EXP
            _need(data, 1, "EXP")
            if frame is not None:
                ref = _refine_reference(ref, frame, tables)
                frame = None
            exp = (data[0] >> 4, data[0] & 15)
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if hierarchical and frame is not None:
                ref = _refine_reference(ref, frame, tables)
            frame = _read_frame(marker, data)
            if hierarchical:
                if frame.lossless and not frame.differential:
                    raise NotImplementedError(
                        f"hierarchical pyramid with SOF{marker - 0xC0} "
                        "(non-differential lossless) frames"
                    )
                if len(frame.comps) != 1 or frame.prec != 8:
                    raise NotImplementedError(
                        "hierarchical JPEG beyond 8-bit single-component"
                    )
                if frame.comps[0][1:3] != (1, 1):
                    raise NotImplementedError("subsampled hierarchical frame")
                if frame.differential and exp is not None:
                    if ref is None:
                        raise ValueError("differential frame before any reference")
                    ref = _exp_double(ref, *exp)[: frame.h, : frame.w]
                    exp = None
            elif frame.differential:
                raise NotImplementedError(
                    f"JPEG SOF{marker - 0xC0} (differential frame outside a "
                    "hierarchical stream) not supported"
                )
            elif frame.lossless:
                if not 2 <= frame.prec <= 16:
                    raise ValueError(f"lossless JPEG precision {frame.prec}")
                if any(ch != 1 or cv != 1 for _, ch, cv, _ in frame.comps):
                    raise NotImplementedError(
                        "lossless JPEG with subsampled components"
                    )
            elif frame.prec not in (8, 12):
                raise NotImplementedError(
                    f"JPEG sample precision {frame.prec} not supported (8/12 only)"
                )
        # APPn / COM / others: skip
    if hierarchical:
        if frame is not None:
            ref = _refine_reference(ref, frame, tables)
        if ref is None:
            raise ValueError("hierarchical JPEG missing DHP or frames")
        if ref.shape != hierarchical:
            raise ValueError(
                f"pyramid ended at {ref.shape}, DHP declared {hierarchical}"
            )
        return np.repeat(ref.astype(np.uint8)[:, :, None], 3, axis=2)
    if frame is None or n_scans == 0:
        raise ValueError("JPEG missing SOF/SOS")
    return _to_rgb(frame, tables, pt)
