"""Pure-stdlib Zstandard (RFC 8878) frame decoder.

Why this exists: crawled HTTP bodies increasingly arrive with
``Content-Encoding: zstd`` (RFC 8878 §7 registers the token), and
web-archive shards ship as ``.warc.zst``. Python 3.11 has no zstd in
the stdlib and this container has no zstd package, so until now the
WARC reader documented zstd as a codec-bound pass-through
(sources/warc.py). This module removes that boundary the same way
the image/audio/PDF layer did: a complete, bounded, deterministic
pure-Python decoder for the format's public specification.

Scope — the full single-threaded decoding path of RFC 8878:

- frames: magic, frame-header descriptor, window descriptor,
  frame-content size, skippable frames, multi-frame concatenation,
  content checksum (xxHash64 low 32 bits, re-implemented here);
- blocks: raw, RLE, compressed; block-size caps per §3.1.1.2.3;
- literals: raw / RLE / Huffman-compressed / treeless (table reuse
  across blocks), 1-stream and 4-stream layouts with the jump table;
- Huffman: direct 4-bit weights and FSE-compressed weights (two
  interleaved states over a backward bitstream), canonical table
  construction with the implicit final weight;
- sequences: predefined / RLE / FSE-compressed / repeat modes for
  the three interleaved state machines (literal lengths, offsets,
  match lengths), the exact init order (LL, OF, ML) vs update order
  (LL, ML, OF) asymmetry, extra-bit reads in offset→match→literal
  order, and the three-slot repeat-offset history with the
  literals-length-zero shift rule.

Out of scope, rejected honestly with :class:`ZstdError`: external
dictionaries (``Dictionary_ID != 0``) and the legacy v0.x formats.

Robustness (the fuzz-suite conventions from round 6 session 4 apply
here from day one): every read is bounds-checked, decompressed
output is capped by an explicit ``max_out`` budget BEFORE allocation
(a 100-byte frame can legally declare terabytes via RLE blocks and
match copies — the cap turns bombs into :class:`ZstdError`, never
executor OOM), table descriptions are validated (accuracy logs,
probability sums, weight sums), and a truncated or bit-flipped
stream raises instead of hanging.

Validation strategy: the decoder is pinned OUTSIDE its own test
encoders — (a) a real zstd-CLI-authored fixture (libarchive's public
``hello_world.tar.zst``, embedded in tests/test_zstd.py) must decode
with its frame checksum verified; (b) property tests round-trip
arbitrary payloads through the REAL reference implementation (the
zstd-jni library bundled with Spark's JVM, driver-side in tests
only) at multiple compression levels and require byte equality; (c)
``.conda`` archives on the host (real conda-authored multi-megabyte
streams) decode with checksums verified when present. One wrong
table convention, bit order, or state-update order and the xxh64
frame checksums fail.
"""

from __future__ import annotations

import struct

__all__ = [
    "ZstdError",
    "decompress",
    "decode_frames",
    "is_zstd",
    "xxh64",
]


class ZstdError(ValueError):
    """Raised on malformed, truncated, unsupported, or budget-
    exceeding zstd input."""


_MAGIC = 0xFD2FB528
_SKIP_MAGIC_MIN = 0x184D2A50
_SKIP_MAGIC_MAX = 0x184D2A5F
_BLOCK_MAX = 1 << 17          # Block_Maximum_Size upper bound (128 KiB)
_MAX_WEIGHT_SYMBOLS = 256     # Huffman alphabet = literal bytes


def is_zstd(data: bytes) -> bool:
    """True if ``data`` starts with a zstd frame or skippable-frame
    magic — the cheap sniff the WARC reader uses."""
    if len(data) < 4:
        return False
    magic = struct.unpack_from("<I", data, 0)[0]
    return magic == _MAGIC or _SKIP_MAGIC_MIN <= magic <= _SKIP_MAGIC_MAX


# ---------------------------------------------------------------------------
# xxHash64 (the frame-checksum primitive; seed 0, low 32 bits stored)
# ---------------------------------------------------------------------------

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64 of ``data`` — pure-Python, used to VERIFY the 4-byte
    frame content checksum (low 32 bits per RFC 8878 §3.1.1)."""
    n = len(data)
    end32 = (n // 32) * 32
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M64
        a2 = (seed + _P2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P1) & _M64
        for l1, l2, l3, l4 in struct.iter_unpack("<QQQQ", data[:end32]):
            a1 = (_rotl((a1 + l1 * _P2) & _M64, 31) * _P1) & _M64
            a2 = (_rotl((a2 + l2 * _P2) & _M64, 31) * _P1) & _M64
            a3 = (_rotl((a3 + l3 * _P2) & _M64, 31) * _P1) & _M64
            a4 = (_rotl((a4 + l4 * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12)
             + _rotl(a4, 18)) & _M64
        for acc in (a1, a2, a3, a4):
            h ^= (_rotl((acc * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    pos = end32
    while pos + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, pos)
        h ^= (_rotl((lane * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        h ^= (lane * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# Bit readers
# ---------------------------------------------------------------------------


class _FBits:
    """Forward LSB-first bit reader — FSE table descriptions
    (RFC 8878 §4.1.1 reads the normalized counts this way)."""

    __slots__ = ("buf", "bitpos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.bitpos = 0

    def peek(self, k: int) -> int:
        i = self.bitpos >> 3
        off = self.bitpos & 7
        chunk = self.buf[i:i + ((off + k + 7) >> 3)]
        return (int.from_bytes(chunk, "little") >> off) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        self.bitpos += k

    def read(self, k: int) -> int:
        v = self.peek(k)
        self.bitpos += k
        return v

    def byte_pos(self) -> int:
        return (self.bitpos + 7) >> 3


class _RBits:
    """Backward bit reader — FSE/Huffman EXECUTION bitstreams are
    written last-bit-first behind a 1-bit sentinel (RFC 8878 §3.1.1.
    3.2.1.1): find the highest set bit of the final byte, then read
    groups of bits MSB-first walking toward the stream start. Reads
    past the start return zero padding and set ``overflowed`` — the
    reference decoder's reload-overflow signal, which terminates the
    interleaved-FSE weights loop."""

    __slots__ = ("buf", "byte_pos", "container", "cnbits", "overflowed")

    def __init__(self, buf: bytes) -> None:
        if not buf or buf[-1] == 0:
            raise ZstdError("backward bitstream missing sentinel")
        self.buf = buf
        last = buf[-1]
        sent = last.bit_length() - 1
        self.byte_pos = len(buf) - 1
        self.container = last & ((1 << sent) - 1)
        self.cnbits = sent
        self.overflowed = False

    def _fill(self, k: int) -> None:
        while self.cnbits < k and self.byte_pos > 0:
            self.byte_pos -= 1
            self.container = (self.container << 8) | self.buf[self.byte_pos]
            self.cnbits += 8

    def peek(self, k: int) -> int:
        self._fill(k)
        if self.cnbits >= k:
            return (self.container >> (self.cnbits - k)) & ((1 << k) - 1)
        return (self.container << (k - self.cnbits)) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        self._fill(k)
        if self.cnbits >= k:
            self.cnbits -= k
            self.container &= (1 << self.cnbits) - 1
        else:
            self.overflowed = True
            self.cnbits = 0
            self.container = 0

    def read(self, k: int) -> int:
        v = self.peek(k)
        self.skip(k)
        return v

    def exhausted(self) -> bool:
        return self.byte_pos == 0 and self.cnbits == 0


# ---------------------------------------------------------------------------
# FSE
# ---------------------------------------------------------------------------


def _fse_read_ncount(fb: _FBits, max_symbol: int,
                     max_al: int) -> tuple[list[int], int]:
    """Read a normalized-count table description (RFC 8878 §4.1.1):
    4-bit accuracy log (+5), then variable-width probabilities with
    the small-value optimization (one saved bit below the threshold)
    and 2-bit zero-run repeat flags after each zero probability.
    Returns (probs with -1 meaning 'less than one', accuracy_log)."""
    al = fb.read(4) + 5
    if al > max_al:
        raise ZstdError(f"accuracy log {al} > {max_al}")
    remaining = (1 << al) + 1
    threshold = 1 << al
    nbits = al + 1
    probs: list[int] = []
    prev0 = False
    while remaining > 1:
        if len(probs) > max_symbol:
            raise ZstdError("FSE table has too many symbols")
        if prev0:
            while True:
                rep = fb.read(2)
                probs.extend([0] * rep)
                if len(probs) > max_symbol + 1:
                    raise ZstdError("FSE zero-run overflows alphabet")
                if rep < 3:
                    break
            prev0 = False
            if len(probs) > max_symbol:
                raise ZstdError("FSE table has too many symbols")
        max_small = (2 * threshold - 1) - remaining
        val = fb.peek(nbits)
        if (val & (threshold - 1)) < max_small:
            fb.skip(nbits - 1)
            count = val & (threshold - 1)
        else:
            fb.skip(nbits)
            count = val & (2 * threshold - 1)
            if count >= threshold:
                count -= max_small
        count -= 1
        probs.append(count)
        remaining -= 1 if count < 0 else count
        prev0 = count == 0
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ZstdError("FSE probabilities do not sum to table size")
    if fb.byte_pos() > len(fb.buf):
        raise ZstdError("FSE table description truncated")
    return probs, al


def _fse_build(probs: list[int],
               al: int) -> tuple[list[int], list[int], list[int]]:
    """Build the FSE decoding table (symbol / nbBits / baseline per
    state) from a normalized distribution: '-1' symbols get one cell
    each at the table top (full-reset states), positive counts spread
    with the standard (size/2 + size/8 + 3) step skipping occupied
    top cells; baselines come from per-symbol occurrence counters."""
    size = 1 << al
    tbl_sym = [0] * size
    high = size - 1
    sym_next = [0] * len(probs)
    for s, p in enumerate(probs):
        if p == -1:
            if high < 0:
                raise ZstdError("too many low-probability symbols")
            tbl_sym[high] = s
            high -= 1
            sym_next[s] = 1
        else:
            sym_next[s] = p
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        for _ in range(p):
            tbl_sym[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ZstdError("FSE table spread did not close")
    tbl_nb = [0] * size
    tbl_base = [0] * size
    for i in range(size):
        s = tbl_sym[i]
        c = sym_next[s]
        sym_next[s] = c + 1
        nb = al - (c.bit_length() - 1)
        tbl_nb[i] = nb
        tbl_base[i] = (c << nb) - size
    return tbl_sym, tbl_nb, tbl_base


def _fse_decode_interleaved(rb: _RBits, tbl_sym: list[int],
                            tbl_nb: list[int], tbl_base: list[int],
                            al: int, max_out: int) -> list[int]:
    """Decode a standard two-state interleaved FSE stream (Huffman
    weights use this) until the bitstream overruns: after a state
    update consumes padding bits, the OTHER state emits its final
    symbol and decoding stops — the reference decoder's tail-loop
    semantics."""
    out: list[int] = []
    s1 = rb.read(al)
    s2 = rb.read(al)
    if rb.overflowed:
        raise ZstdError("FSE stream too short for state init")
    while True:
        if len(out) >= max_out:
            raise ZstdError("FSE stream emits too many symbols")
        out.append(tbl_sym[s1])
        s1 = tbl_base[s1] + rb.read(tbl_nb[s1])
        if rb.overflowed:
            out.append(tbl_sym[s2])
            return out
        if len(out) >= max_out:
            raise ZstdError("FSE stream emits too many symbols")
        out.append(tbl_sym[s2])
        s2 = tbl_base[s2] + rb.read(tbl_nb[s2])
        if rb.overflowed:
            out.append(tbl_sym[s1])
            return out


# ---------------------------------------------------------------------------
# Huffman (literals)
# ---------------------------------------------------------------------------


def _huf_read_weights(data: bytes, pos: int) -> tuple[list[int], int]:
    """Read a Huffman tree description starting at ``pos``: header
    byte >= 128 means (header-127) direct 4-bit weights; < 128 means
    an FSE-compressed weight stream of that many bytes (accuracy log
    <= 6). Returns (explicit weights, new pos)."""
    if pos >= len(data):
        raise ZstdError("huffman description truncated")
    hbyte = data[pos]
    pos += 1
    if hbyte >= 128:
        n = hbyte - 127
        nbytes = (n + 1) >> 1
        if pos + nbytes > len(data):
            raise ZstdError("huffman direct weights truncated")
        raw = data[pos:pos + nbytes]
        pos += nbytes
        weights = []
        for i in range(n):
            b = raw[i >> 1]
            weights.append((b >> 4) if (i & 1) == 0 else (b & 15))
        return weights, pos
    if pos + hbyte > len(data):
        raise ZstdError("huffman FSE weights truncated")
    comp = data[pos:pos + hbyte]
    pos += hbyte
    fb = _FBits(comp)
    probs, al = _fse_read_ncount(fb, max_symbol=255, max_al=6)
    tbl = _fse_build(probs, al)
    consumed = fb.byte_pos()
    if consumed >= len(comp):
        raise ZstdError("huffman FSE weight bitstream missing")
    rb = _RBits(comp[consumed:])
    weights = _fse_decode_interleaved(rb, *tbl, al,
                                      max_out=_MAX_WEIGHT_SYMBOLS)
    return weights, pos


def _huf_build(weights: list[int]) -> tuple[list[int], list[int], int]:
    """Canonical Huffman decoding table from explicit weights plus
    the implicit final weight (the power-of-two completion): weight-1
    symbols (longest codes) fill the table from index 0, symbols in
    natural order within a weight; decode = peek tableLog bits as the
    index. Returns (symbol table, nbBits table, tableLog)."""
    total = 0
    for w in weights:
        if w > 11:
            raise ZstdError("huffman weight exceeds 11")
        if w > 0:
            total += 1 << (w - 1)
    if total == 0:
        raise ZstdError("huffman weights empty")
    tablelog = total.bit_length()
    if tablelog > 11:
        raise ZstdError("huffman table log exceeds 11")
    size = 1 << tablelog
    missing = size - total
    if missing & (missing - 1):
        raise ZstdError("huffman weight sum not power-of-two completable")
    weights = weights + [missing.bit_length()]
    if len(weights) > _MAX_WEIGHT_SYMBOLS:
        raise ZstdError("huffman alphabet exceeds 256 symbols")
    rank_count = [0] * (tablelog + 1)
    for w in weights:
        if w > tablelog:
            raise ZstdError("huffman weight exceeds table log")
        rank_count[w] += 1
    rank_start = [0] * (tablelog + 2)
    nxt = 0
    for w in range(1, tablelog + 1):
        rank_start[w] = nxt
        nxt += rank_count[w] << (w - 1)
    if nxt != size:
        raise ZstdError("huffman table does not fill")
    tbl_sym = [0] * size
    tbl_nb = [0] * size
    for s, w in enumerate(weights):
        if w == 0:
            continue
        length = 1 << (w - 1)
        start = rank_start[w]
        nb = tablelog + 1 - w
        for i in range(start, start + length):
            tbl_sym[i] = s
            tbl_nb[i] = nb
        rank_start[w] = start + length
    return tbl_sym, tbl_nb, tablelog


def _huf_decode_stream(stream: bytes, n: int, tbl_sym: list[int],
                       tbl_nb: list[int], tablelog: int) -> bytearray:
    """Decode exactly ``n`` literals from one backward Huffman
    stream: peek tableLog bits (zero-padded near the stream start, as
    the reference bit container is), emit the symbol, consume its
    code length."""
    rb = _RBits(stream)
    out = bytearray(n)
    peek = rb.peek
    skip = rb.skip
    for i in range(n):
        idx = peek(tablelog)
        out[i] = tbl_sym[idx]
        skip(tbl_nb[idx])
    return out


# ---------------------------------------------------------------------------
# Sequences: predefined distributions and code tables (RFC 8878 §3.1.1.3.2.2)
# ---------------------------------------------------------------------------

_LL_DEFAULT = ([4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
                2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
                -1, -1, -1, -1], 6)
_ML_DEFAULT = ([1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                -1, -1, -1, -1, -1, -1, -1], 6)
_OF_DEFAULT = ([1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1], 5)

_LL_BASE = list(range(16)) + [16, 18, 20, 22, 24, 28, 32, 40, 48, 64,
                              128, 256, 512, 1024, 2048, 4096, 8192,
                              16384, 32768, 65536]
_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11,
                       12, 13, 14, 15, 16]
_ML_BASE = list(range(3, 35)) + [35, 37, 39, 41, 43, 47, 51, 59, 67,
                                 83, 99, 131, 259, 515, 1027, 2051,
                                 4099, 8195, 16387, 32771, 65539]
_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10,
                       11, 12, 13, 14, 15, 16]

_MODE_PREDEFINED, _MODE_RLE, _MODE_FSE, _MODE_REPEAT = 0, 1, 2, 3


class _SeqTable:
    """One of the three sequence-state decoding tables, in a shape
    uniform across predefined / RLE / FSE / repeat modes (RLE is a
    1-cell table with al=0 — state init reads zero bits)."""

    __slots__ = ("sym", "nb", "base", "al")

    def __init__(self, sym: list[int], nb: list[int], base: list[int],
                 al: int) -> None:
        self.sym = sym
        self.nb = nb
        self.base = base
        self.al = al


def _predefined(dist: tuple[list[int], int]) -> _SeqTable:
    probs, al = dist
    return _SeqTable(*_fse_build(probs, al), al)


_PREDEF_CACHE: dict[int, _SeqTable] = {}


def _seq_table(mode: int, data: bytes, pos: int, which: int,
               max_symbol: int, max_al: int,
               prev: _SeqTable | None) -> tuple[_SeqTable, int]:
    if mode == _MODE_PREDEFINED:
        tbl = _PREDEF_CACHE.get(which)
        if tbl is None:
            tbl = _predefined((_LL_DEFAULT, _OF_DEFAULT,
                               _ML_DEFAULT)[which])
            _PREDEF_CACHE[which] = tbl
        return tbl, pos
    if mode == _MODE_RLE:
        if pos >= len(data):
            raise ZstdError("RLE sequence table truncated")
        s = data[pos]
        if s > max_symbol:
            raise ZstdError("RLE sequence symbol out of range")
        return _SeqTable([s], [0], [0], 0), pos + 1
    if mode == _MODE_FSE:
        fb = _FBits(data[pos:])
        probs, al = _fse_read_ncount(fb, max_symbol, max_al)
        tbl = _SeqTable(*_fse_build(probs, al), al)
        return tbl, pos + fb.byte_pos()
    if prev is None:
        raise ZstdError("repeat sequence mode with no previous table")
    return prev, pos


# ---------------------------------------------------------------------------
# Block and frame decoding
# ---------------------------------------------------------------------------


class _FrameState:
    """Entropy state that persists ACROSS blocks within one frame:
    the current Huffman literals table (treeless blocks reuse it) and
    the three sequence tables (repeat mode), plus the repeat-offset
    history."""

    __slots__ = ("huf", "tables", "rep")

    def __init__(self) -> None:
        self.huf: tuple[list[int], list[int], int] | None = None
        self.tables: list[_SeqTable | None] = [None, None, None]
        self.rep = [1, 4, 8]


def _decode_literals(blk: bytes, state: _FrameState) -> tuple[bytearray, int]:
    """Parse + decode the literals section of a compressed block.
    Returns (literals, offset of the sequences section)."""
    if not blk:
        raise ZstdError("empty compressed block")
    b0 = blk[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype <= 1:  # Raw / RLE
        if sf in (0, 2):
            regen = b0 >> 3
            hdr = 1
        elif sf == 1:
            if len(blk) < 2:
                raise ZstdError("literals header truncated")
            regen = (b0 >> 4) + (blk[1] << 4)
            hdr = 2
        else:
            if len(blk) < 3:
                raise ZstdError("literals header truncated")
            regen = (b0 >> 4) + (blk[1] << 4) + (blk[2] << 12)
            hdr = 3
        if regen > _BLOCK_MAX:
            raise ZstdError("literals exceed block maximum")
        if ltype == 0:
            if hdr + regen > len(blk):
                raise ZstdError("raw literals truncated")
            return bytearray(blk[hdr:hdr + regen]), hdr + regen
        if hdr >= len(blk):
            raise ZstdError("RLE literal byte missing")
        return bytearray(blk[hdr:hdr + 1] * regen), hdr + 1
    # Compressed / Treeless
    if sf == 0:
        streams = 1
    else:
        streams = 4
    if sf in (0, 1):
        if len(blk) < 3:
            raise ZstdError("literals header truncated")
        regen = (b0 >> 4) + ((blk[1] & 0x3F) << 4)
        comp = (blk[1] >> 6) + (blk[2] << 2)
        hdr = 3
    elif sf == 2:
        if len(blk) < 4:
            raise ZstdError("literals header truncated")
        regen = (b0 >> 4) + (blk[1] << 4) + ((blk[2] & 3) << 12)
        comp = (blk[2] >> 2) + (blk[3] << 6)
        hdr = 4
    else:
        if len(blk) < 5:
            raise ZstdError("literals header truncated")
        regen = (b0 >> 4) + (blk[1] << 4) + ((blk[2] & 0x3F) << 12)
        comp = (blk[2] >> 6) + (blk[3] << 2) + (blk[4] << 10)
        hdr = 5
    if regen > _BLOCK_MAX:
        raise ZstdError("literals exceed block maximum")
    if hdr + comp > len(blk):
        raise ZstdError("compressed literals truncated")
    region = blk[hdr:hdr + comp]
    rpos = 0
    if ltype == 2:
        weights, rpos = _huf_read_weights(region, 0)
        state.huf = _huf_build(weights)
    elif state.huf is None:
        raise ZstdError("treeless literals with no previous table")
    tbl_sym, tbl_nb, tablelog = state.huf
    out = bytearray()
    if streams == 1:
        stream = region[rpos:]
        if not stream:
            raise ZstdError("huffman literal stream missing")
        out += _huf_decode_stream(stream, regen, tbl_sym, tbl_nb, tablelog)
    else:
        if len(region) - rpos < 6:
            raise ZstdError("jump table truncated")
        s1, s2, s3 = struct.unpack_from("<HHH", region, rpos)
        rpos += 6
        rest = region[rpos:]
        if s1 + s2 + s3 > len(rest):
            raise ZstdError("jump table exceeds stream region")
        per = (regen + 3) >> 2
        last = regen - 3 * per
        if last < 0:
            raise ZstdError("regenerated size below 4-stream minimum")
        bounds = [(0, s1, per), (s1, s1 + s2, per),
                  (s1 + s2, s1 + s2 + s3, per),
                  (s1 + s2 + s3, len(rest), last)]
        for lo, hi, cnt in bounds:
            stream = rest[lo:hi]
            if not stream:
                raise ZstdError("huffman literal stream missing")
            out += _huf_decode_stream(stream, cnt, tbl_sym, tbl_nb,
                                      tablelog)
    return out, hdr + comp


def _decode_block(blk: bytes, state: _FrameState, frame_out: bytearray,
                  budget: int) -> None:
    """Decode one compressed block into ``frame_out`` (which doubles
    as the match window for back-references into earlier blocks of
    the same frame). ``budget`` caps the bytes this block may add."""
    literals, spos = _decode_literals(blk, state)
    sec = blk[spos:]
    if not sec:
        raise ZstdError("sequences section missing")
    b = sec[0]
    if b == 0:
        nseq = 0
        p = 1
    elif b < 128:
        nseq = b
        p = 1
    elif b < 255:
        if len(sec) < 2:
            raise ZstdError("sequence count truncated")
        nseq = ((b - 128) << 8) + sec[1]
        p = 2
    else:
        if len(sec) < 3:
            raise ZstdError("sequence count truncated")
        nseq = sec[1] + (sec[2] << 8) + 0x7F00
        p = 3
    if nseq == 0:
        if len(literals) > budget:
            raise ZstdError("output budget exceeded")
        frame_out += literals
        return
    if p >= len(sec):
        raise ZstdError("compression modes byte missing")
    modes = sec[p]
    p += 1
    if modes & 3:
        raise ZstdError("reserved sequence mode bits set")
    ll_mode = modes >> 6
    of_mode = (modes >> 4) & 3
    ml_mode = (modes >> 2) & 3
    ll_tbl, p = _seq_table(ll_mode, sec, p, 0, 35, 9, state.tables[0])
    of_tbl, p = _seq_table(of_mode, sec, p, 1, 31, 8, state.tables[1])
    ml_tbl, p = _seq_table(ml_mode, sec, p, 2, 52, 9, state.tables[2])
    state.tables = [ll_tbl, of_tbl, ml_tbl]
    rb = _RBits(sec[p:])
    # Init order LL, OF, ML (§4.1); update order LL, ML, OF.
    ll_state = rb.read(ll_tbl.al)
    of_state = rb.read(of_tbl.al)
    ml_state = rb.read(ml_tbl.al)
    if rb.overflowed:
        raise ZstdError("sequence bitstream too short for state init")
    rep = state.rep
    lit_pos = 0
    added = 0
    read = rb.read
    for i in range(nseq):
        of_code = of_tbl.sym[of_state]
        if of_code > 31:
            raise ZstdError("offset code out of range")
        of_value = (1 << of_code) + read(of_code)
        ml_code = ml_tbl.sym[ml_state]
        ml = _ML_BASE[ml_code] + read(_ML_BITS[ml_code])
        ll_code = ll_tbl.sym[ll_state]
        ll = _LL_BASE[ll_code] + read(_LL_BITS[ll_code])
        if rb.overflowed:
            raise ZstdError("sequence bitstream overrun")
        if of_value > 3:
            offset = of_value - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = of_value + (1 if ll == 0 else 0)
            if idx == 1:
                offset = rep[0]
            elif idx == 2:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 3:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:
                offset = rep[0] - 1
                if offset <= 0:
                    raise ZstdError("repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if ll:
            if lit_pos + ll > len(literals):
                raise ZstdError("literal run exceeds literals buffer")
            frame_out += literals[lit_pos:lit_pos + ll]
            lit_pos += ll
            added += ll
        if added + ml > budget:
            raise ZstdError("output budget exceeded")
        if offset > len(frame_out):
            raise ZstdError("match offset beyond window")
        if offset >= ml:
            start = len(frame_out) - offset
            frame_out += frame_out[start:start + ml]
        else:
            chunk = frame_out[len(frame_out) - offset:]
            reps, rem = divmod(ml, offset)
            frame_out += chunk * reps + chunk[:rem]
        added += ml
        if added > budget:
            raise ZstdError("output budget exceeded")
        if i != nseq - 1:
            ll_state = ll_tbl.base[ll_state] + read(ll_tbl.nb[ll_state])
            ml_state = ml_tbl.base[ml_state] + read(ml_tbl.nb[ml_state])
            of_state = of_tbl.base[of_state] + read(of_tbl.nb[of_state])
            if rb.overflowed:
                raise ZstdError("sequence bitstream overrun")
    tail = len(literals) - lit_pos
    if added + tail > budget:
        raise ZstdError("output budget exceeded")
    frame_out += literals[lit_pos:]


def _decode_frame(data: bytes, pos: int, max_out: int,
                  verify_checksum: bool) -> tuple[bytearray, int, str]:
    """Decode one zstd frame starting just past its magic. Returns
    (content, new pos, checksum_state in {'ok','absent','bad'}) —
    'bad' only reachable with verify_checksum=False."""
    if pos >= len(data):
        raise ZstdError("frame header truncated")
    fhd = data[pos]
    pos += 1
    if fhd & 0x08:
        raise ZstdError("reserved frame-header bit set")
    dict_flag = fhd & 3
    has_checksum = bool(fhd & 4)
    single = bool(fhd & 0x20)
    fcs_flag = fhd >> 6
    if not single:
        if pos >= len(data):
            raise ZstdError("window descriptor truncated")
        wd = data[pos]
        pos += 1
        wbase = 1 << (10 + (wd >> 3))
        window = wbase + (wbase >> 3) * (wd & 7)
    else:
        window = None
    dict_size = (0, 1, 2, 4)[dict_flag]
    if dict_size:
        if pos + dict_size > len(data):
            raise ZstdError("dictionary id truncated")
        did = int.from_bytes(data[pos:pos + dict_size], "little")
        pos += dict_size
        if did != 0:
            raise ZstdError("external dictionaries not supported")
    fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
    content_size = None
    if fcs_size:
        if pos + fcs_size > len(data):
            raise ZstdError("frame content size truncated")
        content_size = int.from_bytes(data[pos:pos + fcs_size], "little")
        if fcs_size == 2:
            content_size += 256
        pos += fcs_size
    if single:
        window = content_size if content_size is not None else 0
    if content_size is not None and content_size > max_out:
        raise ZstdError("declared content size exceeds output budget")
    state = _FrameState()
    frame_out = bytearray()
    block_max = min(window or _BLOCK_MAX, _BLOCK_MAX) or _BLOCK_MAX
    while True:
        if pos + 3 > len(data):
            raise ZstdError("block header truncated")
        bh = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        budget = max_out - len(frame_out)
        if btype == 0:
            if pos + bsize > len(data):
                raise ZstdError("raw block truncated")
            if bsize > budget:
                raise ZstdError("output budget exceeded")
            frame_out += data[pos:pos + bsize]
            pos += bsize
        elif btype == 1:
            if pos >= len(data):
                raise ZstdError("RLE block byte missing")
            if bsize > budget or bsize > _BLOCK_MAX:
                raise ZstdError("output budget exceeded")
            frame_out += data[pos:pos + 1] * bsize
            pos += 1
        elif btype == 2:
            if bsize > block_max:
                raise ZstdError("compressed block exceeds maximum")
            if pos + bsize > len(data):
                raise ZstdError("compressed block truncated")
            _decode_block(data[pos:pos + bsize], state, frame_out,
                          min(budget, block_max))
            pos += bsize
        else:
            raise ZstdError("reserved block type")
        if last:
            break
    if content_size is not None and len(frame_out) != content_size:
        raise ZstdError("frame content size mismatch")
    checksum_state = "absent"
    if has_checksum:
        if pos + 4 > len(data):
            raise ZstdError("content checksum truncated")
        (stored,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if (xxh64(bytes(frame_out)) & 0xFFFFFFFF) == stored:
            checksum_state = "ok"
        elif verify_checksum:
            raise ZstdError("content checksum mismatch")
        else:
            checksum_state = "bad"
    return frame_out, pos, checksum_state


def decode_frames(data: bytes, max_out: int = 1 << 30,
                  verify_checksum: bool = True,
                  ) -> tuple[bytes, int, str]:
    """Decode ALL concatenated zstd frames (skippable frames are
    skipped). Returns (content, n_data_frames, checksum_state) where
    checksum_state aggregates across frames: 'ok' if every data
    frame carried a verified checksum, 'absent' if none did (or
    mixed), 'bad' if any failed (only with verify_checksum=False —
    otherwise a mismatch raises)."""
    pos = 0
    out = bytearray()
    n_frames = 0
    states: list[str] = []
    while pos < len(data):
        if pos + 4 > len(data):
            raise ZstdError("trailing bytes too short for a frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if _SKIP_MAGIC_MIN <= magic <= _SKIP_MAGIC_MAX:
            if pos + 8 > len(data):
                raise ZstdError("skippable frame header truncated")
            (size,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + size > len(data):
                raise ZstdError("skippable frame truncated")
            pos += 8 + size
            continue
        if magic != _MAGIC:
            raise ZstdError("bad frame magic")
        frame_out, pos, cstate = _decode_frame(
            data, pos + 4, max_out - len(out), verify_checksum)
        out += frame_out
        n_frames += 1
        states.append(cstate)
    if "bad" in states:
        agg = "bad"
    elif states and all(s == "ok" for s in states):
        agg = "ok"
    else:
        agg = "absent"
    return bytes(out), n_frames, agg


def decompress(data: bytes, max_out: int = 1 << 30,
               verify_checksum: bool = True) -> bytes:
    """Decompress a complete zstd stream (one or more frames).
    Raises :class:`ZstdError` on malformed input, unsupported
    features (external dictionaries), checksum mismatch, or when the
    output would exceed ``max_out`` (bomb guard)."""
    return decode_frames(data, max_out, verify_checksum)[0]


def zstd_text(df, payload_col: str = "payload", id_col: str = "doc_id",
              max_out: int = 1 << 26):
    """Spark-side decode of a zstd binary column to text — the
    compressed-sidecar ingest shape (datasets distributed as
    ``.jsonl.zst`` / ``.txt.zst`` payloads, or zstd-recompressed
    bodies landed by a crawler). One row per input row:
    ``id_col, n_frames, content_len, checksum_state, text``; decode
    failures yield a single ``n_frames = -1`` row with NULL content
    (I4 poison isolation — same contract as the media codecs); NULL
    payloads yield no rows. Runs on the per-document map kernel
    (kernel.map_docs); decode is the only Python node, the plan is
    map-only (no shuffle), and ``max_out`` bounds per-doc inflation so
    a bomb poisons its row instead of the executor."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField)

    from goose_parser_spark.kernel import map_docs

    fields = [StructField("n_frames", IntegerType(), True),
              StructField("content_len", LongType(), True),
              StructField("checksum_state", StringType(), True),
              StructField("text", StringType(), True)]

    def fn(payload):
        content, n_frames, cstate = decode_frames(
            payload, max_out=max_out, verify_checksum=False)
        return ((n_frames, len(content), cstate,
                 content.decode("utf-8", "replace")),)

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col,
                      F.coalesce("n_frames", F.lit(-1)).alias("n_frames"),
                      "content_len", "checksum_state", "text")
