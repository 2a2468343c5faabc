"""JPEG 2000 (JP2 / raw J2K codestream) — self-implemented Part 1
codec subset (ISO/IEC 15444-1, public spec), no external library.

The reference registers JPEG-2000 openers through its plugin layer
(ref ``xcube/plugin.py:102-107``) and decodes with glymur/rasterio;
Sentinel-2 L1C granules ship band rasters as JP2, so an EO engine
without a JP2 path is incomplete.  This module implements the
lossless (reversible) profile the fixtures need end-to-end:

* MQ arithmetic coder (Annex C) — encoder and decoder;
* EBCOT Tier-1 code-block coding (Annex D): significance propagation,
  magnitude refinement and cleanup passes, run-length mode, the
  standard 19-context model with per-subband zero-coding tables;
* tag trees and packet headers (Annex B.10) with bit-stuffing;
* reversible 5/3 wavelet, multi-level, symmetric extension (Annex F);
* codestream syntax: SOC/SIZ/COD/QCD/SOT/SOD/EOC, raster tiling
  (one tile-part per tile), single quality layer, one precinct,
  LRCP ordering; minimal JP2 box wrapper (signature/ftyp/jp2h/jp2c).

Scale shape: a JP2 is TILED, and every tile is an independent
codestream segment whose byte range the SOT markers declare.  The
Spark open path parses only the main header + SOT table driver-side
(O(#tiles) work) and decodes tiles executor-side via mapInArrow —
the same chunk-task plan as the GeoTIFF/Zarr/HDF5 readers.
"""

from __future__ import annotations

import struct
from typing import Mapping

import numpy as np

# ---------------------------------------------------------------------------
# MQ arithmetic coder (ISO/IEC 15444-1 Annex C)
# ---------------------------------------------------------------------------

#: (Qe, NMPS, NLPS, SWITCH) — Table C.2
_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)


class MQEncoder:
    """Annex C software-conventions encoder.  Contexts are mutable
    2-lists ``[state_index, mps]``."""

    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray([0])  # sentinel byte, dropped at flush

    def _byteout(self) -> None:
        if self.out[-1] == 0xFF:
            self.out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c & 0x8000000 == 0:
            self.out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            self.out[-1] += 1
            if self.out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                self.out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                self.out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def _renorm(self) -> None:
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def encode(self, d: int, ctx: list) -> None:
        qe, nmps, nlps, sw = _QE[ctx[0]]
        if d == ctx[1]:
            self.a -= qe
            if self.a & 0x8000 == 0:
                if self.a < qe:
                    self.a = qe
                else:
                    self.c += qe
                ctx[0] = nmps
                self._renorm()
            else:
                self.c += qe
        else:
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if sw:
                ctx[1] = 1 - ctx[1]
            ctx[0] = nlps
            self._renorm()

    def flush(self) -> bytes:
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        out = self.out[1:]
        while out and out[-1] == 0xFF:  # marker-free tail is implied
            out.pop()
        return bytes(out)


class MQDecoder:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bp = 0
        self.c = self._byte(0) << 16
        self._bytein()
        self.c <<= 7
        self.ct -= 7
        self.a = 0x8000

    def _byte(self, i: int) -> int:
        return self.data[i] if i < len(self.data) else 0xFF

    def _bytein(self) -> None:
        if self._byte(self.bp) == 0xFF:
            if self._byte(self.bp + 1) > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp += 1
                self.c += self._byte(self.bp) << 9
                self.ct = 7
        else:
            self.bp += 1
            self.c += self._byte(self.bp) << 8
            self.ct = 8

    def _renorm(self) -> None:
        while True:
            if self.ct == 0:
                self._bytein()
            self.a <<= 1
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break

    def decode(self, ctx: list) -> int:
        qe, nmps, nlps, sw = _QE[ctx[0]]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            if self.a < qe:
                self.a = qe
                d = ctx[1]
                ctx[0] = nmps
            else:
                self.a = qe
                d = 1 - ctx[1]
                if sw:
                    ctx[1] = 1 - ctx[1]
                ctx[0] = nlps
            self._renorm()
        else:
            self.c -= qe << 16
            if self.a & 0x8000 == 0:
                if self.a < qe:
                    d = 1 - ctx[1]
                    if sw:
                        ctx[1] = 1 - ctx[1]
                    ctx[0] = nlps
                else:
                    d = ctx[1]
                    ctx[0] = nmps
                self._renorm()
            else:
                d = ctx[1]
        return d


def _fresh_contexts() -> list:
    """19 contexts, Table D.7 initial states: ZC0 -> 4, RL -> 3,
    UNI -> 46, rest 0; all MPS 0."""
    ctxs = [[0, 0] for _ in range(19)]
    ctxs[0][0] = 4
    ctxs[_CTX_RL][0] = 3
    ctxs[_CTX_UNI][0] = 46
    return ctxs


# ---------------------------------------------------------------------------
# EBCOT Tier-1 code-block coder (Annex D)
# ---------------------------------------------------------------------------

_CTX_RL = 17
_CTX_UNI = 18
_SC_BASE = 9   # sign contexts 9..13
_MR_BASE = 14  # refinement contexts 14..16


def _zc_lut(orient: str):
    """Zero-coding context from neighbor significance counts
    (Table D.1): lut[h, v, d] -> 0..8."""
    lut = np.zeros((3, 3, 5), np.int8)
    for h in range(3):
        for v in range(3):
            for d in range(5):
                if orient == "HH":
                    hv = min(h + v, 2)
                    if d >= 3:
                        c = 8
                    elif d == 2:
                        c = 7 if hv >= 1 else 6
                    elif d == 1:
                        c = 5 if hv >= 2 else (4 if hv == 1 else 3)
                    else:
                        c = 2 if hv >= 2 else (1 if hv == 1 else 0)
                else:
                    hh, vv = (h, v) if orient in ("LL", "LH") else (v, h)
                    if hh == 2:
                        c = 8
                    elif hh == 1:
                        c = 7 if vv >= 1 else (6 if d >= 1 else 5)
                    elif vv == 2:
                        c = 4
                    elif vv == 1:
                        c = 3
                    else:
                        c = 2 if d >= 2 else (1 if d == 1 else 0)
                lut[h, v, d] = c
    return lut


_ZC_LUTS = {o: _zc_lut(o) for o in ("LL", "LH", "HL", "HH")}

#: sign-coding Table D.3: (hc+1, vc+1) -> (context, xor-bit)
_SC_TABLE = {
    (2, 2): (13, 0), (2, 1): (12, 0), (2, 0): (11, 0),
    (1, 2): (10, 0), (1, 1): (9, 0), (1, 0): (10, 1),
    (0, 2): (11, 1), (0, 1): (12, 1), (0, 0): (13, 1),
}


class _CblkState:
    """Shared scan-state for one code block (encoder and decoder walk
    it identically)."""

    def __init__(self, w: int, h: int, orient: str):
        self.w, self.h = w, h
        self.orient = orient
        self.zc = _ZC_LUTS[orient]
        # 1-cell border so neighborhood reads need no bounds checks
        self.sig = np.zeros((h + 2, w + 2), np.uint8)
        self.sgn = np.zeros((h + 2, w + 2), np.uint8)  # 1 = negative
        self.visited = np.zeros((h + 2, w + 2), np.uint8)
        self.refined = np.zeros((h + 2, w + 2), np.uint8)

    def zc_ctx(self, y: int, x: int) -> int:
        s = self.sig
        i, j = y + 1, x + 1
        hh = s[i, j - 1] + s[i, j + 1]
        vv = s[i - 1, j] + s[i + 1, j]
        dd = (s[i - 1, j - 1] + s[i - 1, j + 1]
              + s[i + 1, j - 1] + s[i + 1, j + 1])
        return int(self.zc[hh, vv, dd])

    def sc_ctx(self, y: int, x: int) -> tuple[int, int]:
        s, g = self.sig, self.sgn
        i, j = y + 1, x + 1

        def contrib(a, b):
            c = 0
            if s[i + a, j + b]:
                c += -1 if g[i + a, j + b] else 1
            return c

        hc = max(-1, min(1, contrib(0, -1) + contrib(0, 1)))
        vc = max(-1, min(1, contrib(-1, 0) + contrib(1, 0)))
        return _SC_TABLE[(hc + 1, vc + 1)]

    def mr_ctx(self, y: int, x: int) -> int:
        if self.refined[y + 1, x + 1]:
            return _MR_BASE + 2
        s = self.sig
        i, j = y + 1, x + 1
        any_nb = (s[i, j - 1] or s[i, j + 1] or s[i - 1, j] or s[i + 1, j]
                  or s[i - 1, j - 1] or s[i - 1, j + 1]
                  or s[i + 1, j - 1] or s[i + 1, j + 1])
        return _MR_BASE + (1 if any_nb else 0)


def _stripes(h: int, w: int):
    for y0 in range(0, h, 4):
        for x in range(w):
            yield y0, x, min(4, h - y0)


def encode_cblk(coeffs: np.ndarray, orient: str,
                mb: int) -> tuple[bytes, int, int]:
    """Tier-1 encode one code block of signed ints.  Returns
    (codeword segment, number of coding passes, zero bit-planes)."""
    h, w = coeffs.shape
    mag = np.abs(coeffs).astype(np.int64)
    neg = (coeffs < 0).astype(np.uint8)
    maxmag = int(mag.max()) if mag.size else 0
    planes = maxmag.bit_length()
    if planes == 0:
        return b"", 1, mb  # all-zero block: 1 cleanup pass, mb zero planes
    zbp = mb - planes
    st = _CblkState(w, h, orient)
    enc = MQEncoder()
    ctxs = _fresh_contexts()
    npasses = 0
    for p in range(planes - 1, -1, -1):
        bits = ((mag >> p) & 1).astype(np.uint8)
        first = p == planes - 1
        if not first:
            # significance propagation pass
            for y0, x, n in _stripes(h, w):
                for y in range(y0, y0 + n):
                    if st.sig[y + 1, x + 1]:
                        continue
                    zc = st.zc_ctx(y, x)
                    if zc == 0:
                        continue
                    b = int(bits[y, x])
                    enc.encode(b, ctxs[zc])
                    st.visited[y + 1, x + 1] = 1
                    if b:
                        sc, xr = st.sc_ctx(y, x)
                        enc.encode(int(neg[y, x]) ^ xr, ctxs[sc])
                        st.sig[y + 1, x + 1] = 1
                        st.sgn[y + 1, x + 1] = neg[y, x]
            npasses += 1
            # magnitude refinement pass
            for y0, x, n in _stripes(h, w):
                for y in range(y0, y0 + n):
                    if (st.sig[y + 1, x + 1]
                            and not st.visited[y + 1, x + 1]):
                        enc.encode(int(bits[y, x]), ctxs[st.mr_ctx(y, x)])
                        st.refined[y + 1, x + 1] = 1
                        st.visited[y + 1, x + 1] = 1
            npasses += 1
        # cleanup pass
        for y0, x, n in _stripes(h, w):
            y = y0
            if (n == 4 and not st.visited[y0 + 1:y0 + 5, x + 1].any()
                    and not st.sig[y0 + 1:y0 + 5, x + 1].any()
                    and all(st.zc_ctx(yy, x) == 0
                            for yy in range(y0, y0 + 4))):
                col = bits[y0:y0 + 4, x]
                if not col.any():
                    enc.encode(0, ctxs[_CTX_RL])
                    continue
                enc.encode(1, ctxs[_CTX_RL])
                r = int(np.argmax(col))
                enc.encode((r >> 1) & 1, ctxs[_CTX_UNI])
                enc.encode(r & 1, ctxs[_CTX_UNI])
                yy = y0 + r
                sc, xr = st.sc_ctx(yy, x)
                enc.encode(int(neg[yy, x]) ^ xr, ctxs[sc])
                st.sig[yy + 1, x + 1] = 1
                st.sgn[yy + 1, x + 1] = neg[yy, x]
                y = yy + 1
            for yy in range(y, y0 + n):
                if st.sig[yy + 1, x + 1] or st.visited[yy + 1, x + 1]:
                    continue
                b = int(bits[yy, x])
                enc.encode(b, ctxs[st.zc_ctx(yy, x)])
                if b:
                    sc, xr = st.sc_ctx(yy, x)
                    enc.encode(int(neg[yy, x]) ^ xr, ctxs[sc])
                    st.sig[yy + 1, x + 1] = 1
                    st.sgn[yy + 1, x + 1] = neg[yy, x]
        npasses += 1
        st.visited[:] = 0
    return enc.flush(), npasses, zbp


def decode_cblk(data: bytes, w: int, h: int, orient: str, mb: int,
                npasses: int, zbp: int) -> np.ndarray:
    """Tier-1 decode one code block -> signed int32 array."""
    planes = mb - zbp
    out_mag = np.zeros((h, w), np.int64)
    if planes <= 0 or npasses <= 0:
        return out_mag.astype(np.int32)
    st = _CblkState(w, h, orient)
    dec = MQDecoder(data)
    ctxs = _fresh_contexts()
    done = 0
    for p in range(planes - 1, -1, -1):
        first = p == planes - 1
        if not first:
            if done >= npasses:
                break
            for y0, x, n in _stripes(h, w):
                for y in range(y0, y0 + n):
                    if st.sig[y + 1, x + 1]:
                        continue
                    zc = st.zc_ctx(y, x)
                    if zc == 0:
                        continue
                    b = dec.decode(ctxs[zc])
                    st.visited[y + 1, x + 1] = 1
                    if b:
                        sc, xr = st.sc_ctx(y, x)
                        s = dec.decode(ctxs[sc]) ^ xr
                        st.sig[y + 1, x + 1] = 1
                        st.sgn[y + 1, x + 1] = s
                        out_mag[y, x] |= 1 << p
            done += 1
            if done >= npasses:
                break
            for y0, x, n in _stripes(h, w):
                for y in range(y0, y0 + n):
                    if (st.sig[y + 1, x + 1]
                            and not st.visited[y + 1, x + 1]):
                        b = dec.decode(ctxs[st.mr_ctx(y, x)])
                        st.refined[y + 1, x + 1] = 1
                        st.visited[y + 1, x + 1] = 1
                        if b:
                            out_mag[y, x] |= 1 << p
                        else:
                            out_mag[y, x] &= ~(1 << p)
            done += 1
            if done >= npasses:
                break
        for y0, x, n in _stripes(h, w):
            y = y0
            if (n == 4 and not st.visited[y0 + 1:y0 + 5, x + 1].any()
                    and not st.sig[y0 + 1:y0 + 5, x + 1].any()
                    and all(st.zc_ctx(yy, x) == 0
                            for yy in range(y0, y0 + 4))):
                if not dec.decode(ctxs[_CTX_RL]):
                    continue
                r = (dec.decode(ctxs[_CTX_UNI]) << 1) \
                    | dec.decode(ctxs[_CTX_UNI])
                yy = y0 + r
                sc, xr = st.sc_ctx(yy, x)
                s = dec.decode(ctxs[sc]) ^ xr
                st.sig[yy + 1, x + 1] = 1
                st.sgn[yy + 1, x + 1] = s
                out_mag[yy, x] |= 1 << p
                y = yy + 1
            for yy in range(y, y0 + n):
                if st.sig[yy + 1, x + 1] or st.visited[yy + 1, x + 1]:
                    continue
                b = dec.decode(ctxs[st.zc_ctx(yy, x)])
                if b:
                    sc, xr = st.sc_ctx(yy, x)
                    s = dec.decode(ctxs[sc]) ^ xr
                    st.sig[yy + 1, x + 1] = 1
                    st.sgn[yy + 1, x + 1] = s
                    out_mag[yy, x] |= 1 << p
        done += 1
        st.visited[:] = 0
        if done >= npasses:
            break
    sign = np.where(st.sgn[1:-1, 1:-1] == 1, -1, 1)
    return (out_mag * sign).astype(np.int32)


# ---------------------------------------------------------------------------
# tag trees + packet-header bit IO (Annex B.10)
# ---------------------------------------------------------------------------


class _BitWriter:
    """MSB-first writer with JPEG-2000 header bit stuffing (a 0 bit is
    forced after every 0xFF byte)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.bits = 0
        self.nbits = 0
        self.limit = 8

    def put(self, bit: int) -> None:
        if self.nbits == 0:  # latch the stuffing limit at byte start
            self.limit = 7 if self.out and self.out[-1] == 0xFF else 8
        self.bits = (self.bits << 1) | (bit & 1)
        self.nbits += 1
        if self.nbits == self.limit:
            self.out.append(self.bits & 0xFF)
            self.bits = 0
            self.nbits = 0

    def put_bits(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((val >> i) & 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append((self.bits << (self.limit - self.nbits))
                            & 0xFF)
            self.bits = 0
            self.nbits = 0
        if self.out and self.out[-1] == 0xFF:  # cannot end on FF
            self.out.append(0)
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.prev_ff = False

    def get(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            self.nbits = 7 if self.prev_ff else 8
            self.prev_ff = b == 0xFF
            self.bits = b & (0x7F if self.nbits == 7 else 0xFF)
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> None:
        """Finish the packet header: discard partial bits; a trailing
        0xFF carries a stuffed pad byte."""
        self.nbits = 0
        if self.prev_ff:
            self.pos += 1
            self.prev_ff = False


class _TagTree:
    def __init__(self, w: int, h: int) -> None:
        self.dims = []
        ww, hh = w, h
        while True:
            self.dims.append((ww, hh))
            if ww == 1 and hh == 1:
                break
            ww, hh = (ww + 1) // 2, (hh + 1) // 2
        n = sum(a * b for a, b in self.dims)
        self.value = [0] * n
        self.low = [0] * n
        self.known = [False] * n

    def _path(self, i: int, j: int) -> list[int]:
        path, off = [], 0
        for (ww, hh) in self.dims:
            path.append(off + j * ww + i)
            off += ww * hh
            i //= 2
            j //= 2
        return path[::-1]  # root first

    def set(self, i: int, j: int, v: int) -> None:
        self.value[self._path(i, j)[-1]] = v

    def finalize(self) -> None:
        """Propagate mins up the tree (encoder side)."""
        off = 0
        for lev, (ww, hh) in enumerate(self.dims[:-1]):
            poff = off + ww * hh
            pw = self.dims[lev + 1][0]
            for j in range(hh):
                for i in range(ww):
                    p = poff + (j // 2) * pw + (i // 2)
                    v = self.value[off + j * ww + i]
                    if i % 2 == 0 and j % 2 == 0:
                        self.value[p] = v
                    else:
                        self.value[p] = min(self.value[p], v)
            off = poff

    def encode(self, i: int, j: int, threshold: int,
               bw: _BitWriter) -> None:
        low = 0
        for node in self._path(i, j):
            if self.low[node] < low:
                self.low[node] = low
            else:
                low = self.low[node]
            while low < threshold:
                if low >= self.value[node]:
                    if not self.known[node]:
                        bw.put(1)
                        self.known[node] = True
                    break
                bw.put(0)
                low += 1
            self.low[node] = low

    def decode(self, i: int, j: int, threshold: int,
               br: _BitReader) -> int:
        """Advance knowledge of leaf (i, j) up to ``threshold``;
        returns the leaf value if known, else ``threshold``."""
        low = 0
        for node in self._path(i, j):
            if self.low[node] < low:
                self.low[node] = low
            else:
                low = self.low[node]
            while low < threshold and not self.known[node]:
                if br.get():
                    self.known[node] = True
                    self.value[node] = low
                else:
                    low += 1
            if self.known[node]:
                low = max(low, self.value[node])
            self.low[node] = low
        leaf = self._path(i, j)[-1]
        return self.value[leaf] if self.known[leaf] else threshold


def _put_npasses(bw: _BitWriter, n: int) -> None:
    if n == 1:
        bw.put(0)
    elif n == 2:
        bw.put_bits(0b10, 2)
    elif n <= 5:
        bw.put_bits(0b11, 2)
        bw.put_bits(n - 3, 2)
    elif n <= 36:
        bw.put_bits(0b1111, 4)
        bw.put_bits(n - 6, 5)
    else:
        bw.put_bits(0b111111111, 9)
        bw.put_bits(n - 37, 7)


def _get_npasses(br: _BitReader) -> int:
    if not br.get():
        return 1
    if not br.get():
        return 2
    v = br.get_bits(2)
    if v < 3:
        return 3 + v
    v = br.get_bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.get_bits(7)


# ---------------------------------------------------------------------------
# reversible 5/3 wavelet (Annex F), whole-tile numpy
# ---------------------------------------------------------------------------


def _fwd53_1d(x: np.ndarray, axis: int) -> tuple[np.ndarray, np.ndarray]:
    """One 5/3 lifting split along ``axis`` -> (low, high).  Symmetric
    extension at both edges (x[-1]=x[1], x[n]=x[n-2] and the induced
    detail-coefficient mirrors)."""
    x = np.moveaxis(x, axis, 0).astype(np.int64)
    n = x.shape[0]
    if n == 1:
        return np.moveaxis(x, 0, axis), np.moveaxis(x[:0], 0, axis)
    even, odd = x[0::2], x[1::2]
    # d[k] = x[2k+1] - (x[2k] + x[2k+2]) // 2
    er = np.concatenate([even[1:], even[-1:]]) if n % 2 == 0 else even[1:]
    d = odd - ((even[: odd.shape[0]] + er) // 2)
    # s[k] = x[2k] + (d[k-1] + d[k] + 2) // 4
    dl = np.concatenate([d[:1], d])
    dr = np.concatenate([d, d[-1:]]) if n % 2 == 1 else d
    s = even + ((dl[: even.shape[0]] + dr + 2) // 4)
    return np.moveaxis(s, 0, axis), np.moveaxis(d, 0, axis)


def _inv53_1d(lo: np.ndarray, hi: np.ndarray, axis: int) -> np.ndarray:
    s = np.moveaxis(lo, axis, 0).astype(np.int64)
    d = np.moveaxis(hi, axis, 0).astype(np.int64)
    n = s.shape[0] + d.shape[0]
    if d.shape[0] == 0:
        return np.moveaxis(s, 0, axis)
    dl = np.concatenate([d[:1], d])
    dr = np.concatenate([d, d[-1:]]) if n % 2 == 1 else d
    even = s - ((dl[: s.shape[0]] + dr + 2) // 4)
    er = np.concatenate([even[1:], even[-1:]]) if n % 2 == 0 else even[1:]
    odd = d + ((even[: d.shape[0]] + er) // 2)
    out = np.empty((n,) + s.shape[1:], np.int64)
    out[0::2] = even
    out[1::2] = odd
    return np.moveaxis(out, 0, axis)


def fdwt53(arr: np.ndarray, levels: int) -> dict:
    """Forward multi-level 5/3: {'LL': a, (lev,'HL'|'LH'|'HH'): a}."""
    bands: dict = {}
    ll = arr.astype(np.int64)
    for lev in range(1, levels + 1):
        lo, hi = _fwd53_1d(ll, 1)        # split columns (x)
        ll_, lh_ = _fwd53_1d(lo, 0)      # split rows of low-x half
        hl_, hh_ = _fwd53_1d(hi, 0)
        bands[(lev, "HL")] = hl_
        bands[(lev, "LH")] = lh_
        bands[(lev, "HH")] = hh_
        ll = ll_
    bands["LL"] = ll
    return bands


def idwt53(bands: dict, levels: int) -> np.ndarray:
    ll = bands["LL"].astype(np.int64)
    for lev in range(levels, 0, -1):
        hl, lh, hh = (bands[(lev, o)] for o in ("HL", "LH", "HH"))
        lo = _inv53_1d(ll, lh, 0)
        hi = _inv53_1d(hl, hh, 0)
        ll = _inv53_1d(lo, hi, 1)
    return ll


# ---------------------------------------------------------------------------
# codestream (Annex A markers + B.10 packets); reversible, 1 layer,
# 1 component, 1 precinct, LRCP
# ---------------------------------------------------------------------------

_GUARD = 3      # guard bits (Sqcd = G << 5)
_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}


def _band_sizes(h: int, w: int, levels: int) -> dict:
    """Subband shapes of an (h, w) tile: {'LL': (h, w), (lev, o): ...}."""
    out = {}
    hh, ww = h, w
    for lev in range(1, levels + 1):
        lw, hw = (ww + 1) // 2, ww // 2
        lh, hh_ = (hh + 1) // 2, hh // 2
        out[(lev, "HL")] = (lh, hw)
        out[(lev, "LH")] = (hh_, lw)
        out[(lev, "HH")] = (hh_, hw)
        hh, ww = lh, lw
    out["LL"] = (hh, ww)
    return out


def _res_bands(levels: int, r: int) -> list:
    """Subbands of resolution r in packet order."""
    if r == 0:
        return [("LL", "LL")]
    lev = levels - r + 1
    return [((lev, "HL"), "HL"), ((lev, "LH"), "LH"), ((lev, "HH"), "HH")]


def _encode_tile(arr: np.ndarray, levels: int, cblk: int,
                 bitdepth: int) -> bytes:
    """One tile (already DC-shifted signed int) -> packet stream."""
    bands = fdwt53(arr, levels)
    out = bytearray()
    for r in range(levels + 1):
        bw = _BitWriter()
        body = bytearray()
        bw.put(1)  # packet non-empty
        for key, orient in _res_bands(levels, r):
            sb = bands[key]
            sh, sw = sb.shape
            if sh == 0 or sw == 0:
                continue
            nbx = (sw + cblk - 1) // cblk
            nby = (sh + cblk - 1) // cblk
            mb = bitdepth + _GAIN[orient] + _GUARD - 1
            incl = _TagTree(nbx, nby)
            zbps = _TagTree(nbx, nby)
            blocks = []
            for by in range(nby):
                for bx in range(nbx):
                    blk = sb[by * cblk:(by + 1) * cblk,
                             bx * cblk:(bx + 1) * cblk]
                    data, npasses, zbp = encode_cblk(
                        blk.astype(np.int64), orient, mb)
                    if zbp < 0:
                        raise ValueError(
                            "guard bits exhausted (coefficient "
                            "overflow) - raise _GUARD")
                    blocks.append((data, npasses, zbp))
                    incl.set(bx, by, 0)   # single layer: all included
                    zbps.set(bx, by, zbp)
            incl.finalize()
            zbps.finalize()
            for by in range(nby):
                for bx in range(nbx):
                    data, npasses, zbp = blocks[by * nbx + bx]
                    incl.encode(bx, by, 1, bw)
                    zbps.encode(bx, by, zbp + 1, bw)
                    _put_npasses(bw, npasses)
                    lblock = 3
                    nbits = lblock + (npasses.bit_length() - 1)
                    while len(data) >= (1 << nbits):
                        bw.put(1)
                        lblock += 1
                        nbits += 1
                    bw.put(0)
                    bw.put_bits(len(data), nbits)
                    body += data
        out += bw.flush() + bytes(body)
    return bytes(out)


def _decode_tile(data: bytes, th: int, tw: int, levels: int, cblk: int,
                 bitdepth: int) -> np.ndarray:
    sizes = _band_sizes(th, tw, levels)
    bands = {k: np.zeros(v, np.int64) for k, v in sizes.items()}
    pos = 0
    for r in range(levels + 1):
        br = _BitReader(data, pos)
        segs = []  # (key, by, bx, npasses, zbp, length)
        if br.get():  # non-empty packet
            for key, orient in _res_bands(levels, r):
                sh, sw = sizes[key]
                if sh == 0 or sw == 0:
                    continue
                nbx = (sw + cblk - 1) // cblk
                nby = (sh + cblk - 1) // cblk
                incl = _TagTree(nbx, nby)
                zbps = _TagTree(nbx, nby)
                for by in range(nby):
                    for bx in range(nbx):
                        if incl.decode(bx, by, 1, br) >= 1:
                            continue  # not included in this layer
                        thr = 1
                        while zbps.decode(bx, by, thr, br) >= thr:
                            thr += 1
                        zbp = zbps.decode(bx, by, thr, br)
                        npasses = _get_npasses(br)
                        lblock = 3
                        while br.get():
                            lblock += 1
                        nbits = lblock + (npasses.bit_length() - 1)
                        length = br.get_bits(nbits)
                        segs.append((key, orient, by, bx, npasses,
                                     zbp, length))
        br.align()
        pos = br.pos
        for key, orient, by, bx, npasses, zbp, length in segs:
            sh, sw = sizes[key]
            y0, x0 = by * cblk, bx * cblk
            bh = min(cblk, sh - y0)
            bw_ = min(cblk, sw - x0)
            mb = bitdepth + _GAIN[orient] + _GUARD - 1
            blk = decode_cblk(data[pos:pos + length], bw_, bh, orient,
                              mb, npasses, zbp)
            bands[key][y0:y0 + bh, x0:x0 + bw_] = blk
            pos += length
    return idwt53(bands, levels)


def encode_j2k(img: np.ndarray, bitdepth: int | None = None,
               signed: bool = False, levels: int = 3, cblk: int = 64,
               tile: tuple[int, int] | None = None) -> bytes:
    """Encode a 2-D integer array as a raw JPEG-2000 codestream
    (lossless 5/3, single layer, one tile-part per tile)."""
    img = np.asarray(img)
    h, w = img.shape
    if bitdepth is None:
        bitdepth = {np.dtype("uint8"): 8, np.dtype("uint16"): 16,
                    np.dtype("int16"): 16, np.dtype("int32"): 25,
                    np.dtype("uint32"): 25}.get(img.dtype, 16)
    th, tw = tile if tile else (h, w)
    arr = img.astype(np.int64)
    if not signed:
        arr = arr - (1 << (bitdepth - 1))  # DC level shift
    out = bytearray()
    out += b"\xff\x4f"  # SOC
    ncomp = 1
    siz = struct.pack(">HHIIIIIIIIH", 38 + 3 * ncomp, 0, w, h, 0, 0,
                      tw, th, 0, 0, ncomp)
    siz += bytes([(bitdepth - 1) | (0x80 if signed else 0), 1, 1])
    out += b"\xff\x51" + siz
    # COD: Scod=0; SGcod: LRCP, 1 layer, no MCT; SPcod: levels,
    # cblk exponents (value-2), style 0, 5/3 transform
    cb = cblk.bit_length() - 1 - 2
    cod = struct.pack(">HBBHBBBBBB", 12, 0, 0, 1, 0, levels,
                      cb, cb, 0, 1)
    out += b"\xff\x52" + cod
    nsb = 3 * levels + 1
    qcd = struct.pack(">HB", 3 + nsb, _GUARD << 5)
    exps = [bitdepth + _GAIN["LL"]]
    for r in range(1, levels + 1):
        for o in ("HL", "LH", "HH"):
            exps.append(bitdepth + _GAIN[o])
    qcd += bytes(e << 3 for e in exps)
    out += b"\xff\x5c" + qcd
    tiles_x = (w + tw - 1) // tw
    tiles_y = (h + th - 1) // th
    for ty in range(tiles_y):
        for tx in range(tiles_x):
            sub = arr[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            body = _encode_tile(sub, levels, cblk, bitdepth)
            psot = 12 + 2 + len(body)
            out += b"\xff\x90" + struct.pack(
                ">HHIBB", 10, ty * tiles_x + tx, psot, 0, 1)
            out += b"\xff\x93" + body
    out += b"\xff\xd9"  # EOC
    return bytes(out)


class J2KImage:
    """Parsed main header + tile byte-range table (no pixel decode)."""

    def __init__(self, width, height, bitdepth, signed, levels, cblk,
                 tile_w, tile_h, tiles):
        self.width, self.height = width, height
        self.bitdepth, self.signed = bitdepth, signed
        self.levels, self.cblk = levels, cblk
        self.tile_w, self.tile_h = tile_w, tile_h
        #: tile index -> (offset, length) of the tile-part body
        self.tiles = tiles

    @property
    def tiles_x(self) -> int:
        return (self.width + self.tile_w - 1) // self.tile_w

    @property
    def tiles_y(self) -> int:
        return (self.height + self.tile_h - 1) // self.tile_h

    def tile_shape(self, idx: int) -> tuple[int, int]:
        ty, tx = divmod(idx, self.tiles_x)
        return (min(self.tile_h, self.height - ty * self.tile_h),
                min(self.tile_w, self.width - tx * self.tile_w))


def _find_codestream(data: bytes) -> int:
    """Offset of the raw codestream: 0 for .j2k, inside the jp2c box
    for a JP2 container."""
    if data[:2] == b"\xff\x4f":
        return 0
    if data[:4] != b"\x00\x00\x00\x0c" or data[4:8] != b"jP  ":
        raise ValueError("not a JPEG 2000 file (no SOC, no JP2 signature)")
    pos = 0
    while pos + 8 <= len(data):
        ln = struct.unpack(">I", data[pos:pos + 4])[0]
        btype = data[pos + 4:pos + 8]
        hdr = 8
        if ln == 1:
            ln = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
            hdr = 16
        if btype == b"jp2c":
            return pos + hdr
        if ln == 0:
            break
        pos += ln
    raise ValueError("JP2 container has no jp2c codestream box")


def parse_j2k(data: bytes, offset: int = 0) -> J2KImage:
    """Parse the main header + SOT table of a codestream at offset."""
    pos = offset
    if data[pos:pos + 2] != b"\xff\x4f":
        raise ValueError("bad JPEG 2000 codestream (no SOC)")
    pos += 2
    width = height = tile_w = tile_h = bitdepth = None
    signed = False
    levels, cblk = 3, 64
    tiles: dict[int, tuple[int, int]] = {}
    while pos + 4 <= len(data):
        marker = data[pos:pos + 2]
        if marker == b"\xff\xd9":
            break
        if marker == b"\xff\x93":
            raise ValueError("SOD before SOT")
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        seg = data[pos + 4:pos + 2 + ln]
        if marker == b"\xff\x51":
            (_, width, height, _, _, tile_w, tile_h, _, _,
             ncomp) = struct.unpack(">HIIIIIIIIH", seg[:36])
            if ncomp != 1:
                raise ValueError(
                    f"only single-component codestreams ({ncomp})")
            ssiz = seg[36]
            bitdepth = (ssiz & 0x7F) + 1
            signed = bool(ssiz & 0x80)
        elif marker == b"\xff\x52":
            if seg[0] != 0:
                raise ValueError("precincts/SOP/EPH not supported")
            if seg[1] != 0 or struct.unpack(">H", seg[2:4])[0] != 1:
                raise ValueError("only LRCP with 1 layer supported")
            levels = seg[5]
            cblk = 1 << (seg[6] + 2)
            if seg[8] != 0:
                raise ValueError("code-block style modes not supported")
            if seg[9] != 1:
                raise ValueError("only the reversible 5/3 transform")
        elif marker == b"\xff\x90":
            isot, psot, tpsot, _ = struct.unpack(">HIBB", seg[:8])
            if tpsot != 0:
                raise ValueError("multiple tile-parts not supported")
            body = pos + 12 + 2  # past SOT segment + SOD marker
            if data[pos + 12:pos + 14] != b"\xff\x93":
                raise ValueError("expected SOD after SOT")
            tiles[isot] = (body, pos + psot - body)
            pos += psot
            continue
        pos += 2 + ln
    if width is None or bitdepth is None:
        raise ValueError("missing SIZ header")
    return J2KImage(width, height, bitdepth, signed, levels, cblk,
                    tile_w, tile_h, tiles)


def decode_j2k_tile(data: bytes, img: J2KImage, idx: int) -> np.ndarray:
    """Decode one tile to its natural dtype-shifted integer plane."""
    off, ln = img.tiles[idx]
    th, tw = img.tile_shape(idx)
    arr = _decode_tile(data[off:off + ln], th, tw, img.levels,
                       img.cblk, img.bitdepth)
    if not img.signed:
        arr = arr + (1 << (img.bitdepth - 1))
    return arr


def decode_j2k(data: bytes) -> np.ndarray:
    """Full single-process decode (tests / small files)."""
    off = _find_codestream(data)
    img = parse_j2k(data, off)
    out = np.zeros((img.height, img.width), np.int64)
    for idx in img.tiles:
        ty, tx = divmod(idx, img.tiles_x)
        th, tw = img.tile_shape(idx)
        out[ty * img.tile_h:ty * img.tile_h + th,
            tx * img.tile_w:tx * img.tile_w + tw] = \
            decode_j2k_tile(data, img, idx)
    return out


def write_jp2(path: str, img: np.ndarray, **kw) -> None:
    """Write a minimal JP2 container (signature/ftyp/jp2h/jp2c)."""
    code = encode_j2k(img, **kw)
    h, w = img.shape
    bitdepth = kw.get("bitdepth") or (8 if img.dtype == np.uint8 else 16)
    sig = struct.pack(">I", 12) + b"jP  " + b"\r\n\x87\n"
    ftyp = struct.pack(">I", 20) + b"ftyp" + b"jp2 " \
        + struct.pack(">I", 0) + b"jp2 "
    ihdr = struct.pack(">I", 22) + b"ihdr" + struct.pack(
        ">IIHBBBB", h, w, 1, bitdepth - 1, 7, 0, 0)
    colr = struct.pack(">I", 15) + b"colr" + bytes([1, 0, 0]) \
        + struct.pack(">I", 17)  # greyscale
    jp2h = struct.pack(">I", 8 + len(ihdr) + len(colr)) + b"jp2h" \
        + ihdr + colr
    jp2c = struct.pack(">I", 8 + len(code)) + b"jp2c" + code
    with open(path, "wb") as f:
        f.write(sig + ftyp + jp2h + jp2c)


def read_jp2(path: str) -> np.ndarray:
    with open(path, "rb") as f:
        return decode_j2k(f.read())


def write_jp2_cube_plane(
    cube,
    path: str,
    var_name: str,
    width: int,
    height: int,
    scale: float = 1.0,
    offset: float = 0.0,
    tile: tuple[int, int] = (64, 64),
    levels: int = 3,
) -> None:
    """Quantize one cube plane to uint16 (``round(v * scale) +
    offset``) and write a lossless JP2 — DRIVER-SIDE fixture/export
    writer (guarded), the JP2 twin of ``write_geotiff``."""
    from xcube_spark.sources.geotiff import _guard_driver_collect

    _guard_driver_collect(width * height, "write_jp2_cube_plane")
    img = np.zeros((height, width), np.int64)
    for r in cube.select("y_i", "x_i", var_name).collect():
        v = r[var_name]
        if v is not None:
            img[r["y_i"], r["x_i"]] = round(v * scale) + offset
    if img.min() < 0 or img.max() > 0xFFFF:
        raise ValueError(
            f"quantized range [{img.min()}, {img.max()}] does not fit "
            "uint16 - adjust scale/offset")
    write_jp2(path, img.astype(np.uint16), tile=tile, levels=levels)


def parse_jp2_file(path: str) -> J2KImage:
    """Header-only parse with seeks: reads the main-header markers and
    hops tile-part to tile-part via Psot — O(#tiles) IO, no pixel
    bytes touched (the driver-side half of the distributed open)."""
    with open(path, "rb") as f:
        head = f.read(8)
        off = 0
        if head[:2] != b"\xff\x4f":
            if head[:4] != b"\x00\x00\x00\x0c" or head[4:8] != b"jP  ":
                raise ValueError(
                    "not a JPEG 2000 file (no SOC, no JP2 signature)")
            pos = 0
            while True:
                f.seek(pos)
                bh = f.read(16)
                if len(bh) < 8:
                    raise ValueError("JP2 container has no jp2c box")
                ln = struct.unpack(">I", bh[:4])[0]
                hdr = 8
                if ln == 1:
                    ln = struct.unpack(">Q", bh[8:16])[0]
                    hdr = 16
                if bh[4:8] == b"jp2c":
                    off = pos + hdr
                    break
                if ln == 0:
                    raise ValueError("JP2 container has no jp2c box")
                pos += ln
        # marker walk; slurp main header once (it precedes any SOT and
        # is tiny), then seek across tile bodies
        f.seek(off)
        if f.read(2) != b"\xff\x4f":
            raise ValueError("bad JPEG 2000 codestream (no SOC)")
        pos = off + 2
        head_parts = [b"\xff\x4f"]
        while True:
            f.seek(pos)
            mk = f.read(4)
            marker = mk[:2]
            if marker in (b"\xff\x90", b"\xff\xd9"):
                break
            ln = struct.unpack(">H", mk[2:4])[0]
            f.seek(pos)
            head_parts.append(f.read(2 + ln))
            pos += 2 + ln
        tiles: dict[int, tuple[int, int]] = {}
        while True:
            f.seek(pos)
            mk = f.read(14)
            if len(mk) < 2 or mk[:2] == b"\xff\xd9":
                break
            if mk[:2] != b"\xff\x90":
                raise ValueError(f"unexpected marker {mk[:2].hex()}")
            _, isot, psot, tpsot, _ = struct.unpack(">HHIBB", mk[2:12])
            if tpsot != 0:
                raise ValueError("multiple tile-parts not supported")
            if mk[12:14] != b"\xff\x93":
                raise ValueError("expected SOD after SOT")
            tiles[isot] = (pos + 14, psot - 14)
            pos += psot
    img = parse_j2k(b"".join(head_parts) + b"\xff\xd9", 0)
    img.tiles = tiles
    return img


def open_jp2_cube(
    spark,
    path: str,
    band_name: str = "band_1",
    x_start: float | None = None,
    y_end: float | None = None,
    res: float | None = None,
    nodata: float | None = None,
    cell_bounds: Mapping[str, tuple[int, int]] | None = None,
):
    """JP2/J2K -> cells DataFrame ``(t_i, y_i, x_i, y, x, <band>)``,
    single time step — the JPEG-2000 twin of ``open_geotiff_cube``
    (reference JPEG-2000 openers: ref ``xcube/plugin.py:102-107``).

    Plan shape: the driver parses only the main header + SOT table
    (``parse_jp2_file``, O(#tiles) seeks); ``mapInArrow`` tasks each
    read and entropy-decode their own tile's byte range.  Optional
    ``x_start``/``y_end``/``res`` pin the georeferenced axis values
    (Sentinel-2 grids are regular, north-up).  ``cell_bounds={"y_i":
    (lo, hi), ...}`` (inclusive) decodes only the tiles that meet the
    bounds and keeps only the cells inside them, as
    ``open_zarr_cube`` does."""
    from pyspark.sql import functions as F

    from xcube_spark.sources.cells import (clip_cells, emit_cells,
                                           prune_tasks, task_range)

    img = parse_jp2_file(path)

    def read(row):
        idx = int(row.id)
        if idx not in img.tiles:  # no tile-part for this tile
            return
        off, ln = img.tiles[idx]
        with open(path, "rb") as f:
            f.seek(off)
            body = f.read(ln)
        th, tw = img.tile_shape(idx)
        arr = _decode_tile(body, th, tw, img.levels, img.cblk, img.bitdepth)
        if not img.signed:
            arr = arr + (1 << (img.bitdepth - 1))
        vals = arr.astype("float64")
        if nodata is not None:
            vals[vals == nodata] = np.nan
        ty, tx = divmod(idx, img.tiles_x)
        yield (ty * img.tile_h, tx * img.tile_w), {band_name: vals}

    tasks = prune_tasks(task_range(spark, img.tiles_x * img.tiles_y), {
        "y_i": ((F.col("id") / img.tiles_x).cast("int") * img.tile_h,
                img.tile_h),
        "x_i": ((F.col("id") % img.tiles_x).cast("int") * img.tile_w,
                img.tile_w)}, cell_bounds)
    cells = emit_cells(tasks, read, [band_name], (img.height, img.width))
    if x_start is not None and y_end is not None and res is not None:
        x = F.lit(x_start) + (F.col("x_i") + F.lit(0.5)) * F.lit(res)
        y = F.lit(y_end) - (F.col("y_i") + F.lit(0.5)) * F.lit(res)
    else:
        x = F.col("x_i").cast("double")
        y = F.col("y_i").cast("double")
    return clip_cells(cells.select(F.lit(0).alias("t_i"), "y_i", "x_i",
                                   y.alias("y"), x.alias("x"), band_name),
                      cell_bounds)
