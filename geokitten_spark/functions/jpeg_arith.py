"""QM arithmetic coder and the T.81 statistical models that drive it.

This module is the arithmetic half of the JPEG entropy layer; frame
processes, scan walking and marker I/O live in ``jpeg.py``, whose
arithmetic entropy coder calls into the pieces below:

* the QM coder (Annex D): ``ArithEncoder`` (CODELPS/CODEMPS with
  conditional exchange, renormalization, byte output with carry
  walk-back, final 0xFF/0x00 stuffing) and ``ArithDecoder`` over the
  113-state Qe probability-estimation table (Table D.3), plus the one
  fixed non-adaptive state used for sign and refinement decisions;
* the DC difference model (Annex F.1.4.1): ``encode_dc_arith`` /
  ``decode_dc_arith``, conditioned on the previous difference's
  classification under the DAC L/U bounds — shared by sequential DC,
  progressive DC-first (Annex G.2) and, with the Annex H ladder bases,
  lossless differences;
* the AC models: the per-index EOB/zero/magnitude decision tree with the
  low/high ladder split at Kx (Annex F.1.4.2; sequential scans and
  progressive AC-first bands) and the Annex G.2.3 refinement tree;
* the Annex H lossless context (Da/Db classification) and the
  statistics-area factories.

Stuffing is byte-for-byte the Huffman scheme (0x00 after each 0xFF), so
one scan splitter serves both entropy codings, and a restart resets the
coder, the statistics areas and the DC conditioning contexts.

Verification: bit-level coder roundtrips over adversarial symbol and
context sequences (tests/test_jpeg_arith.py) and byte-exact interop with
libjpeg-turbo's SOF9/SOF10 codec (tests/test_jpeg_interop.py).
"""
from __future__ import annotations

import numpy as np

# --- Table D.3: Qe value, Next_Index_MPS, Next_Index_LPS, Switch_MPS ------
# Index 113 is the fixed (non-adaptive) state used for AC sign decisions:
# Qe ~ 0.5 and both next-state pointers loop back to itself.
QE_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

FIXED_BIN = 113  # non-adaptive ~0.5 state (AC sign decisions)


class ArithEncoder:
    """QM arithmetic encoder (T.81 D.1).

    Interval convention: base register C, size A, MPS sub-interval at
    the bottom with conditional exchange when the MPS share drops below
    Qe. Bytes come out of bit 19 of C (8 data bits + 3 spacer bits for
    carry accumulation); a carry past the spacer walks back through the
    already-emitted byte list, which is simpler than the streaming
    0xFF-stacking counters a fixed-register implementation needs.
    Stuffing (0x00 after 0xFF) is applied as a final pass in ``scan``
    once every carry has been resolved.
    """

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.out = bytearray()

    def _byteout(self) -> None:
        byte = self.c >> 19
        if byte > 0xFF:  # carry: propagate into emitted bytes
            i = len(self.out) - 1
            while i >= 0 and self.out[i] == 0xFF:
                self.out[i] = 0
                i -= 1
            if i < 0:
                raise AssertionError("arith carry past stream start")
            self.out[i] += 1
            byte &= 0xFF
        self.out.append(byte)
        self.c &= 0x7FFFF
        self.ct = 8

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()

    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        sv = stats[i]
        mps = sv >> 7
        qe, nmps, nlps, switch = QE_TABLE[sv & 0x7F]
        self.a -= qe
        if bit == mps:
            if self.a < 0x8000:
                if self.a < qe:  # conditional exchange: MPS takes the top
                    self.c += self.a
                    self.a = qe
                stats[i] = (mps << 7) | nmps
                self._renorm()
        else:
            if self.a >= qe:  # no exchange: LPS takes the top
                self.c += self.a
                self.a = qe
            if switch:
                mps ^= 1
            stats[i] = (mps << 7) | nlps
            self._renorm()

    def scan(self) -> bytes:
        """Flush (T.81 D.1.8) and return the stuffed entropy bytes."""
        t = (self.c + self.a - 1) & ~0xFFFF
        if t < self.c:
            t += 0x8000
        self.c = t << self.ct
        self._byteout_final()
        self.c = (self.c & 0x7FFFF) << 8
        self._byteout_final()
        stuffed = bytearray()
        for b in self.out:
            stuffed.append(b)
            if b == 0xFF:
                stuffed.append(0x00)
        return bytes(stuffed)

    def _byteout_final(self) -> None:
        byte = self.c >> 19
        if byte > 0xFF:
            i = len(self.out) - 1
            while i >= 0 and self.out[i] == 0xFF:
                self.out[i] = 0
                i -= 1
            if i < 0:
                raise AssertionError("arith carry past stream start")
            self.out[i] += 1
            byte &= 0xFF
        self.out.append(byte)


class ArithDecoder:
    """QM arithmetic decoder (T.81 D.2) over UNSTUFFED scan bytes
    (``jpeg._split_scan`` strips the 0x00 after each 0xFF). Past the
    end of data it feeds zero bits, which is sufficient because the
    encoder's flush emits the full code point."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 2
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.cx = (b0 << 8) | b1
        self.a = 0x10000
        self._bits = 0
        self._nbits = 0

    def _next_bit(self) -> int:
        if self._nbits == 0:
            if self._pos < len(self._data):
                self._bits = self._data[self._pos]
                self._pos += 1
            else:
                self._bits = 0
            self._nbits = 8
        self._nbits -= 1
        return (self._bits >> self._nbits) & 1

    def decode(self, stats: bytearray, i: int) -> int:
        sv = stats[i]
        mps = sv >> 7
        qe, nmps, nlps, switch = QE_TABLE[sv & 0x7F]
        self.a -= qe
        if self.cx < self.a:
            if self.a >= 0x8000:
                return mps
            if self.a < qe:  # exchanged: bottom region is the LPS
                d = 1 - mps
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            else:
                d = mps
                stats[i] = (mps << 7) | nmps
        else:
            self.cx -= self.a
            if self.a < qe:  # exchanged: top region is the MPS
                d = mps
                stats[i] = (mps << 7) | nmps
            else:
                d = 1 - mps
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            self.a = qe
        while self.a < 0x8000:
            self.a <<= 1
            self.cx = (self.cx << 1) | self._next_bit()
        return d


# --- Annex F.1.4 sequential statistical model ------------------------------
# DC statistics area (64 bins / table): contexts 0,4,8,12,16 hold the
# {zero?, sign, magnitude>1 | +, magnitude>1 | -} tree for the five
# previous-difference classifications; X2..X15 at 20..33; each category's
# mantissa bins live 14 past its terminator. AC area (256 bins / table):
# 3*(k-1) holds {EOB?, nonzero?, X1/X2} per zigzag index, with the X3+
# ladders at 189 (k <= Kx) and 217 (k > Kx).

DC_STAT_BINS = 64
AC_STAT_BINS = 256


def _classify_dc(m: int, sign: int, low: int, up: int) -> int:
    """Next-block DC conditioning context from this diff's magnitude
    category ``m`` and sign (F.1.4.4.1.2)."""
    if m < (1 << low) >> 1:
        return 0  # zero / near-zero diff
    if m > (1 << up) >> 1:
        return 12 + sign * 4  # large diff
    return 4 + sign * 4  # small diff


def encode_dc_arith(enc, stats, ctx, v, low, up, xbase=20):
    """Encode one DC difference; returns the next conditioning context.

    ``xbase`` is the start of the X1..X15 magnitude-category ladder in
    the statistics area (20 for the F.1.4 DC model; the Annex H lossless
    model passes 100 or 129 depending on the Db classification)."""
    st = ctx
    if v == 0:
        enc.encode(stats, st, 0)
        return 0
    enc.encode(stats, st, 1)
    sign = 0 if v > 0 else 1
    enc.encode(stats, st + 1, sign)
    if sign:
        v = -v
    st += 2 + sign
    m = 0
    vm = v - 1
    if vm:
        enc.encode(stats, st, 1)
        m = 1
        st2 = xbase
        while vm >> 1:
            vm >>= 1
            enc.encode(stats, st2, 1)
            m <<= 1
            st2 += 1
        st = st2
    enc.encode(stats, st, 0)
    nxt = _classify_dc(m, sign, low, up)
    st += 14
    vm = v - 1
    while m >> 1:
        m >>= 1
        enc.encode(stats, st, 1 if (vm & m) else 0)
    return nxt


def decode_dc_arith(dec, stats, ctx, low, up, xbase=20):
    """Decode one DC difference; returns (diff, next context)."""
    st = ctx
    if dec.decode(stats, st) == 0:
        return 0, 0
    sign = dec.decode(stats, st + 1)
    st += 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = xbase
        while dec.decode(stats, st):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arith JPEG: DC magnitude overflow")
            st += 1
    nxt = _classify_dc(m, sign, low, up)
    v = m
    st += 14
    while m >> 1:
        m >>= 1
        if dec.decode(stats, st):
            v |= m
    v += 1
    return (-v if sign else v), nxt


class _FixedBinView:
    """Single-cell stats area pinned to the fixed ~0.5 state, so the AC
    sign decision can share the encoder/decoder entry points. The QM
    state machine never leaves index 113 (its MPS/LPS successors both
    point back at it and Switch is 0), so writes are no-ops by design —
    but it must still be writable like a real stats area."""

    __slots__ = ("_v",)

    def __init__(self) -> None:
        self._v = FIXED_BIN

    def __getitem__(self, i: int) -> int:
        return self._v

    def __setitem__(self, i: int, v: int) -> None:
        self._v = v


def new_dc_stats() -> bytearray:
    return bytearray(DC_STAT_BINS)


def new_ac_stats() -> bytearray:
    return bytearray(AC_STAT_BINS)


def new_fixed_stats():
    return _FixedBinView()



# --- AC models (Annex F.1.4.2 first pass, Annex G.2.3 refinement) -------


def conditioning_for(conditioning, td, ta):
    """(L, U, Kx) for a scan's DC/AC table ids; T.81 defaults 0/1/5."""
    low, up = conditioning.get(("dc", td), (0, 1))
    kx = conditioning.get(("ac", ta), 5)
    return low, up, kx


def decode_ac_arith(dec, stats, fixed, row, zigzag, kx, ss=1, se=63, al=0):
    """Decode AC coefficients (sequential scan, or a progressive AC
    FIRST pass when ``ss``/``se``/``al`` narrow the band) into natural
    order. Values are scaled by the point transform on the way out."""
    k = ss
    while k <= se:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > se:
                raise ValueError("arith JPEG: AC run past band end")
        sign = dec.decode(fixed, 0)
        st += 2
        m = dec.decode(stats, st)
        if m:
            if dec.decode(stats, st):
                m <<= 1
                st = 189 if k <= kx else 217
                while dec.decode(stats, st):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("arith JPEG: AC magnitude overflow")
                    st += 1
        v = m
        st += 14
        while m >> 1:
            m >>= 1
            if dec.decode(stats, st):
                v |= m
        v += 1
        row[zigzag[k]] = (-v if sign else v) << al
        k += 1


def encode_ac_arith(enc, stats, fixed, zz, kx, ss=1, se=63, al=0):
    """Encode AC coefficients (sequential, or a progressive AC FIRST
    pass): magnitudes are the point-transformed ``abs(zz[k]) >> al``,
    signs come from the original values — the exact counterpart of
    ``decode_ac_arith``."""
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1
    k = ss
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)
        v = abs(int(zz[k])) >> al
        while v == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
            v = abs(int(zz[k])) >> al
        enc.encode(stats, st + 1, 1)
        sign = 0 if int(zz[k]) > 0 else 1
        enc.encode(fixed, 0, sign)
        st += 2
        m = 0
        vm = v - 1
        if vm:
            enc.encode(stats, st, 1)
            m = 1
            if vm >> 1:
                vm >>= 1
                enc.encode(stats, st, 1)
                m <<= 1
                st = 189 if k <= kx else 217
                while vm >> 1:
                    vm >>= 1
                    enc.encode(stats, st, 1)
                    m <<= 1
                    st += 1
        enc.encode(stats, st, 0)
        st += 14
        vm = v - 1
        while m >> 1:
            m >>= 1
            enc.encode(stats, st, 1 if (vm & m) else 0)
        k += 1
    if ke < se:
        enc.encode(stats, 3 * (ke + 1 - 1), 1)


def decode_ac_refine_arith(dec, stats, fixed, row, zigzag, ss, se, al):
    """Progressive AC REFINEMENT pass (Annex G.2.3): per band index the
    context tree's first bin carries the EOB decision (asked only past
    the previous scans' last nonzero index), the second flags newly
    nonzero coefficients (sign on the fixed estimate), and the third
    carries correction bits for already-nonzero coefficients."""
    p1 = 1 << al
    m1 = -p1
    kex = se
    while kex > 0 and row[zigzag[kex]] == 0:
        kex -= 1
    k = ss
    while k <= se:
        st = 3 * (k - 1)
        if k > kex:
            if dec.decode(stats, st):
                return
        while True:
            coef = int(row[zigzag[k]])
            if coef:
                if dec.decode(stats, st + 2):
                    row[zigzag[k]] = coef + (m1 if coef < 0 else p1)
                break
            if dec.decode(stats, st + 1):
                row[zigzag[k]] = m1 if dec.decode(fixed, 0) else p1
                break
            st += 3
            k += 1
            if k > se:
                raise ValueError("arith JPEG: AC refine run past band end")
        k += 1


def encode_ac_refine_arith(enc, stats, fixed, zz, ss, se, ah, al):
    """Counterpart of ``decode_ac_refine_arith``: ``ke`` is the band's
    last nonzero at CURRENT precision (>> al), ``kex`` the last nonzero
    at the PREVIOUS precision (>> ah) — the decoder sees the latter as
    its pre-scan block state."""
    ke = se
    while ke >= ss and (abs(int(zz[ke])) >> al) == 0:
        ke -= 1
    kex = ke
    while kex > 0 and (abs(int(zz[kex])) >> ah) == 0:
        kex -= 1
    k = ss
    while k <= ke:
        st = 3 * (k - 1)
        if k > kex:
            enc.encode(stats, st, 0)
        while True:
            t = abs(int(zz[k])) >> al
            if t:
                if t >> 1:  # previously nonzero: one correction bit
                    enc.encode(stats, st + 2, t & 1)
                else:  # newly nonzero: flag + fixed-estimate sign
                    enc.encode(stats, st + 1, 1)
                    enc.encode(fixed, 0, 0 if int(zz[k]) > 0 else 1)
                break
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        k += 1
    if ke < se:
        enc.encode(stats, 3 * (k - 1), 1)


# --- Annex H lossless statistical model (SOF11) -----------------------------
# Each coded difference is conditioned on the classifications of Da (the
# difference coded for the sample to the LEFT) and Db (the difference
# coded for the sample ABOVE), each into the same five categories the DC
# model's conditioning bounds define (zero / small+- / large+-, with the
# small/large boundaries from the DAC L/U values — identical defaults
# L=0, U=1 give "small" = |D| in {1,2}, "large" = |D| > 2).
#
# Statistics area layout (158 bins): the 25 (Da, Db) context trees of
# four decisions each (S0, SS, SP, SN) occupy 0..99 at bin offset
# 4*qa + 20*qb (the classifier already returns 4*q, so the offset is
# simply Ca + 5*Cb); the two X1..X15/M2..M15 magnitude ladders sit at
# 100 and 129, the SECOND selected when Db is classified large.
#
# libjpeg-turbo implements no SOF11, so this model is pinned by exact
# lossless roundtrips, parity with the Huffman lossless lane, restarts
# and non-default conditioning (tests/test_jpeg_arith.py).

LL_STAT_BINS = 158
_LL_X1_A = 100  # ladder when Db is zero/small
_LL_X1_B = 129  # ladder when Db is large


def new_lossless_stats() -> bytearray:
    return bytearray(LL_STAT_BINS)


def _classify_diff(d: int, low: int, up: int) -> int:
    """Classification (0/4/8/12/16) of an already-coded difference,
    identical to what encode/decode_dc_arith derive internally."""
    if d == 0:
        return 0
    sign = 0 if d > 0 else 1
    vm = (d if d > 0 else -d) - 1
    m = 0 if vm == 0 else 1 << (vm.bit_length() - 1)
    return _classify_dc(m, sign, low, up)


def lossless_context(da: int, db: int, low: int, up: int) -> tuple[int, int]:
    """(decision-tree context, magnitude-ladder base) for a lossless
    difference whose left / above neighbours coded ``da`` / ``db``."""
    cb = _classify_diff(db, low, up)
    return _classify_diff(da, low, up) + 5 * cb, (_LL_X1_B if cb >= 12 else _LL_X1_A)


_ENCODERS = (
    "encode_jpeg_arith",
    "encode_jpeg_arith_progressive",
    "encode_jpeg_lossless_arith",
)


def __getattr__(name):
    """The arithmetic-coded encoders are frame-process code and live in
    ``jpeg.py``; they stay importable from here under their old names."""
    if name in _ENCODERS:
        from . import jpeg

        return getattr(jpeg, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
