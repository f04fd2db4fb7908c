"""Pure-Python Brotli (RFC 7932) decoder.

Brotli is the most common non-gzip ``Content-Encoding`` on the web,
and until now the WARC ingest documented it as a codec-bound
pass-through. This module implements the complete decode path of the
public specification:

- stream header (window bits), metablock headers (MNIBBLES lengths,
  metadata skip blocks, uncompressed blocks with byte realignment);
- prefix codes: simple (1/2/3/4 symbols incl. the tree-select shape)
  and complex (the static code-length-code with HSKIP, 16/17 repeat
  codes with brotli's accumulating repeat semantics, 32768-space
  accounting, single-symbol degenerate codes);
- block-switching for the three category chains (literals,
  insert&copy, distances): block-type codes with the 0="previous" /
  1="increment" symbols and block-count codes;
- context modeling: 2-bit context modes per literal block type, the
  64-context literal map and 4-context distance map with
  run-length-encoded context maps and inverse move-to-front;
- the insert&copy command alphabet (704 symbols, 11 cells, implicit
  distance-code-0 cells), literal insertion, distance codes (4-slot
  ring buffer with compound ±1..3 codes, NDIRECT direct codes,
  NPOSTFIX extra-bit codes), overlapping match copies;
- the static dictionary (RFC 7932 Appendix A) with all 121 word
  transforms (Appendix B) including the UTF-8-aware ferment
  (uppercase) rule.

The spec's data tables (the 122,784-byte dictionary, transforms,
context lookup table, block-count code) live in the GENERATED module
``_brotli_data`` — public RFC appendix data extracted from the
BSD-licensed reference library and behaviorally verified against it
(tools/extract_brotli_tables.py). Runtime is pure stdlib.

Validation (tests/test_brotli.py): byte-exact decode of a real
Debian-shipped ``.br`` artifact against its shipped original, and
round-trips through the reference C encoder (libbrotlienc via
ctypes, test-only) across qualities 0-11 and payload shapes; plus
the repo-standard fuzz battery (truncation, bit flips, bombs vs the
``max_out`` budget).
"""

from __future__ import annotations

__all__ = ["BrotliError", "decompress", "decompress_info",
           "brotli_text", "is_brotli_plausible"]


class BrotliError(ValueError):
    """Raised on malformed, truncated, unsupported, or
    budget-exceeding brotli input."""


# ---------------------------------------------------------------------------
# Bit reader: LSB-first, forward (RFC 7932 §2)
# ---------------------------------------------------------------------------


class _Bits:
    __slots__ = ("buf", "n", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.n = len(buf) * 8
        self.pos = 0

    def read(self, k: int) -> int:
        pos = self.pos
        if pos + k > self.n:
            raise BrotliError("bitstream truncated")
        self.pos = pos + k
        i = pos >> 3
        off = pos & 7
        chunk = self.buf[i:i + ((off + k + 7) >> 3)]
        return (int.from_bytes(chunk, "little") >> off) & ((1 << k) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.n:
            raise BrotliError("bitstream truncated")
        self.pos = pos + 1
        return (self.buf[pos >> 3] >> (pos & 7)) & 1

    def byte_align(self) -> None:
        pad = (-self.pos) & 7
        if pad:
            if self.read(pad):
                raise BrotliError("non-zero padding bits")

    def read_bytes(self, k: int) -> bytes:
        if self.pos & 7:
            raise BrotliError("unaligned byte read")
        i = self.pos >> 3
        if i + k > len(self.buf):
            raise BrotliError("bitstream truncated")
        self.pos += 8 * k
        return self.buf[i:i + k]


# ---------------------------------------------------------------------------
# Canonical prefix codes (§3)
# ---------------------------------------------------------------------------


class _Prefix:
    """Canonical prefix code decoder: codes assigned by increasing
    length, ascending symbol value within a length; stream bits build
    the code MSB-first (the DEFLATE convention brotli shares)."""

    __slots__ = ("single", "first", "count", "index", "syms", "maxlen")

    def __init__(self, lengths: dict[int, int],
                 single: int | None = None) -> None:
        if single is not None:
            self.single = single
            return
        self.single = None
        maxlen = max(lengths.values())
        if maxlen > 15:
            raise BrotliError("code length exceeds 15")
        by_len: list[list[int]] = [[] for _ in range(maxlen + 1)]
        for sym, ln in sorted(lengths.items()):
            by_len[ln].append(sym)
        self.first = [0] * (maxlen + 1)
        self.count = [0] * (maxlen + 1)
        self.index = [0] * (maxlen + 1)
        self.syms: list[int] = []
        code = 0
        total = 0
        for ln in range(1, maxlen + 1):
            code <<= 1
            self.first[ln] = code
            self.count[ln] = len(by_len[ln])
            self.index[ln] = len(self.syms)
            self.syms.extend(by_len[ln])
            code += len(by_len[ln])
            total += len(by_len[ln]) << (maxlen - ln)
        if total != (1 << maxlen):
            raise BrotliError("prefix code not complete")
        self.maxlen = maxlen

    def decode(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        first = self.first
        count = self.count
        for ln in range(1, self.maxlen + 1):
            code = (code << 1) | br.read_bit()
            d = code - first[ln]
            if d < count[ln]:
                return self.syms[self.index[ln] + d]
        raise BrotliError("invalid prefix code word")


# static code for code-length-code lengths (§3.5): symbol -> length
_CLC_STATIC = _Prefix({0: 2, 1: 4, 2: 3, 3: 2, 4: 2, 5: 4})
_CLC_ORDER = (1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_prefix_code(br: _Bits, alphabet_size: int) -> _Prefix:
    hskip = br.read(2)
    if hskip == 1:
        # simple code
        nsym = br.read(2) + 1
        absize = max(1, (alphabet_size - 1).bit_length())
        syms = []
        for _ in range(nsym):
            s = br.read(absize)
            if s >= alphabet_size:
                raise BrotliError("simple-code symbol out of alphabet")
            if s in syms:
                raise BrotliError("duplicate simple-code symbol")
            syms.append(s)
        if nsym == 1:
            return _Prefix({}, single=syms[0])
        if nsym == 2:
            lengths = {syms[0]: 1, syms[1]: 1}
        elif nsym == 3:
            lengths = {syms[0]: 1, syms[1]: 2, syms[2]: 2}
        else:
            if br.read_bit():
                lengths = {syms[0]: 1, syms[1]: 2, syms[2]: 3, syms[3]: 3}
            else:
                lengths = {s: 2 for s in syms}
        return _Prefix(lengths)
    # complex code: hskip in {0, 2, 3} = leading CLC entries skipped
    clc_len: dict[int, int] = {}
    space = 0
    num_codes = 0
    for i in range(hskip, 18):
        ln = _CLC_STATIC.decode(br)
        if ln:
            clc_len[_CLC_ORDER[i]] = ln
            space += 32 >> ln
            num_codes += 1
            if space >= 32:
                break
    if num_codes == 0:
        raise BrotliError("empty code-length code")
    if num_codes > 1 and space != 32:
        raise BrotliError("code-length code over/under-subscribed")
    clc = (_Prefix({}, single=next(iter(clc_len)))
           if num_codes == 1 else _Prefix(clc_len))
    # symbol code lengths
    lengths: dict[int, int] = {}
    sym = 0
    space = 0
    prev_nonzero = 8   # kDefaultCodeLength
    repeat = 0
    repeat_len = 0
    while sym < alphabet_size and space < 32768:
        ln = clc.decode(br)
        if ln < 16:
            repeat = 0
            if ln:
                lengths[sym] = ln
                space += 32768 >> ln
                prev_nonzero = ln
            sym += 1
        else:
            extra_bits = 2 if ln == 16 else 3
            new_len = prev_nonzero if ln == 16 else 0
            if repeat_len != new_len:
                repeat = 0
                repeat_len = new_len
            old = repeat
            if repeat:
                repeat = (repeat - 2) << extra_bits
            repeat += br.read(extra_bits) + 3
            delta = repeat - old
            if sym + delta > alphabet_size:
                raise BrotliError("code-length repeat overflows alphabet")
            if repeat_len:
                for s in range(sym, sym + delta):
                    lengths[s] = repeat_len
                space += (32768 >> repeat_len) * delta
            sym += delta
    if space > 32768:
        raise BrotliError("prefix code over-subscribed")
    nonzero = len(lengths)
    if nonzero == 0:
        raise BrotliError("prefix code with no symbols")
    if nonzero == 1:
        return _Prefix({}, single=next(iter(lengths)))
    if space != 32768:
        raise BrotliError("prefix code under-subscribed")
    return _Prefix(lengths)


# ---------------------------------------------------------------------------
# Variable-length 1..256 counts, context maps, block categories (§6, §7)
# ---------------------------------------------------------------------------


def _read_count256(br: _Bits) -> int:
    if br.read_bit() == 0:
        return 1
    k = br.read(3)
    if k == 0:
        return 2
    return (1 << k) + 1 + br.read(k)


def _inverse_mtf(vals: list[int]) -> None:
    mtf = list(range(256))
    for i, v in enumerate(vals):
        val = mtf[v]
        vals[i] = val
        if v:
            del mtf[v]
            mtf.insert(0, val)


def _read_context_map(br: _Bits, size: int, ntrees: int) -> list[int]:
    if ntrees == 1:
        return [0] * size
    rlemax = (br.read(4) + 1) if br.read_bit() else 0
    code = _read_prefix_code(br, ntrees + rlemax)
    cmap: list[int] = []
    while len(cmap) < size:
        sym = code.decode(br)
        if sym == 0:
            cmap.append(0)
        elif sym <= rlemax:
            reps = (1 << sym) + br.read(sym)
            if len(cmap) + reps > size:
                raise BrotliError("context-map run overflows")
            cmap.extend([0] * reps)
        else:
            cmap.append(sym - rlemax)
    if br.read_bit():
        _inverse_mtf(cmap)
    if any(v >= ntrees for v in cmap):
        raise BrotliError("context-map value out of range")
    return cmap


# insert / copy length code tables (§5)
_INS_BASE = (0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98,
             130, 194, 322, 578, 1090, 2114, 6210, 22594)
_INS_EXTRA = (0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
              6, 7, 8, 9, 10, 12, 14, 24)
_CP_BASE = (2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54,
            70, 102, 134, 198, 326, 582, 1094, 2118)
_CP_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
             5, 5, 6, 7, 8, 9, 10, 24)
# 704-symbol insert&copy alphabet: 11 cells of 64; first two imply
# distance code 0 (reuse last distance, no ring push)
_IC_CELLS = ((0, 0, True), (0, 1, True),
             (0, 0, False), (0, 1, False), (1, 0, False), (1, 1, False),
             (0, 2, False), (2, 0, False),
             (1, 2, False), (2, 1, False), (2, 2, False))


def _ferment(buf: bytearray, pos: int) -> int:
    c = buf[pos]
    if c < 192:
        if 97 <= c <= 122:
            buf[pos] ^= 32
        return 1
    if c < 224:
        if pos + 1 < len(buf):
            buf[pos + 1] ^= 32
        return 2
    if pos + 2 < len(buf):
        buf[pos + 2] ^= 5
    return 3


def _transform_word(word: bytes, tid: int) -> bytes:
    from goose_parser_spark.ops._brotli_data import TRANSFORMS
    prefix, kind, n, suffix = TRANSFORMS[tid]
    w = bytearray(word)
    if kind == "omit_first":
        w = w[n:] if n < len(w) else bytearray()
    elif kind == "omit_last":
        w = w[:len(w) - n] if n < len(w) else bytearray()
    elif kind == "upper_first":
        if w:
            _ferment(w, 0)
    elif kind == "upper_all":
        i = 0
        while i < len(w):
            i += _ferment(w, i)
    return prefix + bytes(w) + suffix


class _Category:
    """Block-switching state for one of the three category chains."""

    __slots__ = ("ntypes", "btype", "prev", "blen", "type_code",
                 "len_code")

    def __init__(self, br: _Bits) -> None:
        self.ntypes = _read_count256(br)
        self.btype = 0
        self.prev = 1
        if self.ntypes > 1:
            self.type_code = _read_prefix_code(br, self.ntypes + 2)
            self.len_code = _read_prefix_code(br, 26)
            self.blen = self._read_len(br)
        else:
            self.type_code = None
            self.len_code = None
            self.blen = 1 << 60

    def _read_len(self, br: _Bits) -> int:
        from goose_parser_spark.ops._brotli_data import BLOCK_LENGTH_CODE
        sym = self.len_code.decode(br)
        off, nb = BLOCK_LENGTH_CODE[sym]
        return off + br.read(nb)

    def switch(self, br: _Bits) -> None:
        sym = self.type_code.decode(br)
        if sym == 0:
            t = self.prev
        elif sym == 1:
            t = (self.btype + 1) % self.ntypes
        else:
            t = sym - 2
        self.prev = self.btype
        self.btype = t
        self.blen = self._read_len(br)

    def tick(self, br: _Bits) -> int:
        if self.blen == 0:
            self.switch(br)
        self.blen -= 1
        return self.btype


def _decode_window_bits(br: _Bits) -> int:
    if br.read_bit() == 0:
        return 16
    n = br.read(3)
    if n:
        return 17 + n
    n = br.read(3)
    if n == 1:
        raise BrotliError("reserved WBITS value")
    if n:
        return 8 + n
    return 17


def decompress(data: bytes, max_out: int = 1 << 30) -> bytes:
    """Decompress a complete brotli stream. Raises
    :class:`BrotliError` on malformed/truncated input or when output
    would exceed ``max_out`` (bomb guard)."""
    return decompress_info(data, max_out=max_out)[0]


def decompress_info(data: bytes,
                    max_out: int = 1 << 30) -> tuple[bytes, int]:
    """Like :func:`decompress` but also returns the stream's declared
    sliding-window size in bits (WBITS, 10..24)."""
    from goose_parser_spark.ops._brotli_data import (
        CONTEXT_LUT, DICTIONARY, OFFSETS_BY_LENGTH, SIZE_BITS_BY_LENGTH)

    br = _Bits(data)
    wbits = _decode_window_bits(br)
    max_backward = (1 << wbits) - 16
    out = bytearray()
    rb = [16, 15, 11, 4]   # ring: last = rb[(rb_idx-1)&3] = 4
    rb_idx = 4

    while True:
        islast = br.read_bit()
        if islast and br.read_bit():   # ISLASTEMPTY
            break
        mnibbles = br.read(2)
        if mnibbles == 3:              # metadata block
            if br.read_bit():
                raise BrotliError("reserved metadata bit set")
            mskipbytes = br.read(2)
            if mskipbytes == 0:
                mskiplen = 0
            else:
                v = br.read(8 * mskipbytes)
                if mskipbytes > 1 and (v >> (8 * (mskipbytes - 1))) == 0:
                    raise BrotliError("non-minimal metadata length")
                mskiplen = v + 1
            br.byte_align()
            br.read_bytes(mskiplen)
            if islast:
                raise BrotliError("metadata block flagged last")
            continue
        mlen = br.read(16 + 4 * mnibbles)
        if mnibbles and (mlen >> (16 + 4 * (mnibbles - 1))) == 0:
            raise BrotliError("non-minimal MNIBBLES")
        mlen += 1
        if len(out) + mlen > max_out:
            raise BrotliError("output budget exceeded")
        if not islast and br.read_bit():   # ISUNCOMPRESSED
            br.byte_align()
            out += br.read_bytes(mlen)
            continue

        cats = [_Category(br) for _ in range(3)]  # L, I, D
        lit, ins, dst = cats
        npostfix = br.read(2)
        ndirect = br.read(4) << npostfix
        postfix_mask = (1 << npostfix) - 1
        cmodes = [br.read(2) for _ in range(lit.ntypes)]
        ntrees_l = _read_count256(br)
        cmap_l = _read_context_map(br, 64 * lit.ntypes, ntrees_l)
        ntrees_d = _read_count256(br)
        cmap_d = _read_context_map(br, 4 * dst.ntypes, ntrees_d)
        lit_codes = [_read_prefix_code(br, 256) for _ in range(ntrees_l)]
        ins_codes = [_read_prefix_code(br, 704)
                     for _ in range(ins.ntypes)]
        dist_alpha = 16 + ndirect + (48 << npostfix)
        dist_codes = [_read_prefix_code(br, dist_alpha)
                      for _ in range(ntrees_d)]

        while mlen > 0:
            bt_i = ins.tick(br)
            sym = ins_codes[bt_i].decode(br)
            cell = sym >> 6
            ihi, chi, dist0 = _IC_CELLS[cell]
            ic = ihi * 8 + ((sym >> 3) & 7)
            cc = chi * 8 + (sym & 7)
            ilen = _INS_BASE[ic] + br.read(_INS_EXTRA[ic])
            clen = _CP_BASE[cc] + br.read(_CP_EXTRA[cc])

            if ilen:
                if ilen > mlen:
                    raise BrotliError("insert length exceeds metablock")
                p1 = out[-1] if out else 0
                p2 = out[-2] if len(out) > 1 else 0
                for _ in range(ilen):
                    bt_l = lit.tick(br)
                    mode = cmodes[bt_l]
                    ctx = (CONTEXT_LUT[(mode << 9) | p1]
                           | CONTEXT_LUT[(mode << 9) | 256 | p2])
                    tree = cmap_l[(bt_l << 6) | ctx]
                    b = lit_codes[tree].decode(br)
                    out.append(b)
                    p2 = p1
                    p1 = b
                mlen -= ilen
            if mlen <= 0:
                break

            if dist0:
                distance = rb[(rb_idx - 1) & 3]
                dcode = 0
            else:
                bt_d = dst.tick(br)
                ctx = 3 if clen > 4 else clen - 2
                tree = cmap_d[(bt_d << 2) | ctx]
                dcode = dist_codes[tree].decode(br)
                if dcode == 0:
                    distance = rb[(rb_idx - 1) & 3]
                elif dcode < 4:
                    distance = rb[(rb_idx - 1 - dcode) & 3]
                elif dcode < 16:
                    base = rb[(rb_idx - 1 - ((dcode - 4) // 6)) & 3]
                    k = dcode - 4 - 6 * ((dcode - 4) // 6)
                    delta = (k >> 1) + 1
                    distance = base - delta if (k & 1) == 0 else \
                        base + delta
                    if distance <= 0:
                        raise BrotliError("non-positive ring distance")
                elif dcode < 16 + ndirect:
                    distance = dcode - 15
                else:
                    x = dcode - ndirect - 16
                    postfix = x & postfix_mask
                    hcode = x >> npostfix
                    ndistbits = 1 + (hcode >> 1)
                    offset = ((2 + (hcode & 1)) << ndistbits) - 4
                    distance = (((offset + br.read(ndistbits))
                                 << npostfix) + postfix + ndirect + 1)

            max_dist = min(max_backward, len(out))
            if distance > max_dist:
                # static dictionary reference
                if not 4 <= clen <= 24:
                    raise BrotliError("dictionary copy length out of range")
                bits = SIZE_BITS_BY_LENGTH[clen]
                if bits == 0:
                    raise BrotliError("no dictionary words of this length")
                address = distance - max_dist - 1
                word_id = address & ((1 << bits) - 1)
                tid = address >> bits
                if tid >= 121:
                    raise BrotliError("transform id out of range")
                woff = OFFSETS_BY_LENGTH[clen] + word_id * clen
                word = DICTIONARY[woff:woff + clen]
                piece = _transform_word(word, tid)
                if len(piece) > mlen:
                    raise BrotliError("dictionary word exceeds metablock")
                if len(out) + len(piece) > max_out:
                    raise BrotliError("output budget exceeded")
                out += piece
                mlen -= len(piece)
            else:
                if distance <= 0:
                    raise BrotliError("invalid distance")
                if dcode != 0:
                    # ring updates only for real backward references
                    # (never dictionary hits, never dcode-0 reuse)
                    rb[rb_idx & 3] = distance
                    rb_idx += 1
                if clen > mlen:
                    raise BrotliError("copy length exceeds metablock")
                if len(out) + clen > max_out:
                    raise BrotliError("output budget exceeded")
                if distance >= clen:
                    start = len(out) - distance
                    out += out[start:start + clen]
                else:
                    chunk = out[len(out) - distance:]
                    reps, rem = divmod(clen, distance)
                    out += chunk * reps + chunk[:rem]
                mlen -= clen
        if islast:
            break
    return bytes(out), wbits


def brotli_text(df, payload_col: str = "payload", id_col: str = "doc_id",
                max_out: int = 1 << 26):
    """Spark-side decode of a brotli binary column to text — the
    ``Content-Encoding: br`` ingest shape (brotli is the most common
    non-gzip response coding in real crawls, and datasets are also
    distributed as ``.br`` sidecars). One row per input row:
    ``id_col, wbits, content_len, text``; decode failures yield a
    single ``wbits = -1`` row with NULL content (I4 poison isolation
    — same contract as the media codecs and zstd_text); NULL payloads
    yield no rows. Runs on the per-document map kernel
    (kernel.map_docs); decode is the only Python node, the plan is
    map-only (no shuffle), and ``max_out`` bounds per-doc inflation so
    a bomb poisons its row instead of the executor."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField)

    from goose_parser_spark.kernel import map_docs

    fields = [StructField("wbits", IntegerType(), True),
              StructField("content_len", LongType(), True),
              StructField("text", StringType(), True)]

    def fn(payload):
        content, wbits = decompress_info(payload, max_out=max_out)
        return ((wbits, len(content), content.decode("utf-8", "replace")),)

    out = map_docs(df, fn, fields, id_col, payload_col).where(
        F.col("bytes_in").isNotNull())
    return out.select(id_col, F.coalesce("wbits", F.lit(-1)).alias("wbits"),
                      "content_len", "text")


def is_brotli_plausible(data: bytes) -> bool:
    """Cheap plausibility sniff — brotli has NO magic number, so this
    only rejects the empty string; callers gate on Content-Encoding."""
    return len(data) > 0
