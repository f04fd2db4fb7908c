"""zstd decoding (ops/zstdcodec.py: frame walker + libzstd from
pyarrow) — validation + fuzz.

Three INDEPENDENT external pins (the round-6 codec lesson: every
codec needs evidence outside its own test encoders):

1. An embedded real-zstd-CLI-authored fixture (libarchive's public
   ``hello_world.tar.zst`` test archive, 143 bytes) must decode with
   its frame xxh64 checksum VERIFIED and untar with stdlib tarfile.
2. Round-trips through the reference implementation — the zstd-jni
   library bundled in Spark's JVM (driver-side, test-only) — at
   compression levels 1/3/9/19 over payload shapes chosen to hit
   every format corner (4-stream literals, treeless blocks, repeat
   FSE modes, RLE blocks, multi-block frames, raw literals).
3. Host ``.conda`` archives (real conda-authored multi-frame zstd)
   when present — skipped cleanly elsewhere.

Plus: hand-authored frames for the SQL-oracle-visible subset (raw /
RLE / compressed blocks with raw literals; checksums from lz4-java's
XXHash64 in Spark's JVM), the checksum contract every caller keeps,
and the fuzz battery every binary parser in this
repo gets (truncation, bit flips, decompression bombs vs the
``max_out`` budget — must raise ZstdError, never hang or OOM).
"""

import base64
import glob
import io
import os
import random
import struct
import tarfile
import zipfile

import pytest

from goose_parser_spark.ops.zstdcodec import (
    ZstdError, decode_frames, decompress, is_zstd)

# libarchive 3.8.2 public test archive (info/recipe/test-archives/
# hello_world.tar.zst) — authored by the real zstd CLI, carries a
# content checksum, and exercises a compressed block with FSE-coded
# sequences. Embedded so the pin survives on hosts without conda.
HELLO_TAR_ZST = base64.b64decode(
    "KLUv/WQACQ0EADKGExegNwWETThAaNqCzP8XQKZ/ayU9fp1ZKYTVyty81C5wF/sOBDEVWolY"
    "JHXIRMNAJ7WVCMhhqFvdd6m55/d8gmJt7+w3bQtwMqFkgDKxCBMAjuU/gLiVDghsGVAfaBiE"
    "Q8BUAwQHJKAANgugvcAugBICkAQIC2iAwyutQRP4AjxO/YY=")


def test_external_fixture_checksum_and_tar():
    content, n_frames, cstate = decode_frames(HELLO_TAR_ZST)
    assert n_frames == 1
    assert cstate == "ok"  # xxh64 verified against the real encoder
    assert len(content) == 2560
    tf = tarfile.open(fileobj=io.BytesIO(content))
    assert [m.name for m in tf.getmembers()] == [
        "hello_world", "hello_world/greets"]


def test_is_zstd_sniff():
    assert is_zstd(HELLO_TAR_ZST)
    assert not is_zstd(b"\x1f\x8b\x08\x00")
    assert not is_zstd(b"")
    assert is_zstd(struct.pack("<II", 0x184D2A53, 0))


CONDA_PKGS = sorted(glob.glob("/root/miniconda/pkgs/*.conda"),
                    key=os.path.getsize)


@pytest.mark.skipif(not CONDA_PKGS, reason="no .conda archives on host")
def test_conda_inner_streams_decode_and_untar():
    """Real conda-authored zstd streams: decode and require the
    result to be a readable tar whose member list is non-empty —
    entropy-coded literals + FSE sequences at conda's level."""
    checked = 0
    for pkg in CONDA_PKGS[:4]:
        with zipfile.ZipFile(pkg) as z:
            for name in z.namelist():
                if not name.endswith(".tar.zst"):
                    continue
                content, n_frames, _ = decode_frames(
                    z.read(name), max_out=1 << 27)
                assert n_frames >= 1
                tf = tarfile.open(fileobj=io.BytesIO(content))
                tf.getmembers()
                checked += 1
    assert checked >= 2


# ---------------------------------------------------------------------------
# Round-trip vs the reference implementation (zstd-jni in Spark's JVM)
# ---------------------------------------------------------------------------


def _ref_payloads():
    rng = random.Random(20260818)
    yield b""
    yield b"x"
    yield b"hello world " * 1000
    yield bytes(rng.randrange(256) for _ in range(5000))     # incompressible
    yield b"the quick brown fox jumps over the lazy dog. " * 3000  # >1 block
    words = [bytes(rng.choice(b"abcdefg ") for _ in range(rng.randrange(2, 9)))
             for _ in range(50)]
    yield b" ".join(rng.choice(words) for _ in range(60000))  # ~300 KB text
    yield b"\x00" * 300000                                    # RLE blocks
    yield bytes(rng.randrange(4) for _ in range(200000))      # low entropy


def test_roundtrip_vs_reference_zstd(spark):
    Z = spark._jvm.com.github.luben.zstd.Zstd
    for i, payload in enumerate(_ref_payloads()):
        for level in (1, 3, 9, 19):
            comp = bytes(Z.compress(payload, level))
            assert decompress(comp) == payload, (i, level)


def test_roundtrip_random_soup_vs_reference(spark):
    """Many small structured-random payloads — shakes out table-mode
    and literal-type combinations the fixed shapes might miss."""
    Z = spark._jvm.com.github.luben.zstd.Zstd
    rng = random.Random(7)
    alphabet = [bytes([b]) * rng.randrange(1, 30) for b in range(65, 91)]
    for trial in range(40):
        n = rng.randrange(0, 4000)
        payload = b"".join(rng.choice(alphabet) for _ in range(n))[:50000]
        level = rng.choice((1, 2, 3, 5, 9, 12, 19))
        comp = bytes(Z.compress(payload, level))
        assert decompress(comp) == payload, (trial, level, len(payload))


# ---------------------------------------------------------------------------
# Hand-authored frames (the SQL-oracle-visible subset)
# ---------------------------------------------------------------------------


def _raw_block(data: bytes, last: bool) -> bytes:
    bh = (len(data) << 3) | (0 << 1) | int(last)
    return bh.to_bytes(3, "little") + data


def _rle_block(byte: int, count: int, last: bool) -> bytes:
    bh = (count << 3) | (1 << 1) | int(last)
    return bh.to_bytes(3, "little") + bytes([byte])


def _compressed_raw_literals_block(data: bytes, last: bool) -> bytes:
    """A legal Compressed block that only uses SQL-authorable parts:
    raw literals (size-format 00, 5-bit size) + zero sequences."""
    assert len(data) < 32
    content = bytes([len(data) << 3]) + data + b"\x00"
    bh = (len(content) << 3) | (2 << 1) | int(last)
    return bh.to_bytes(3, "little") + content


def _xxh64(spark, data: bytes) -> int:
    """xxHash64 (seed 0) by lz4-java, which Spark's JVM bundles: frame
    checksums come from outside the decoder under test."""
    h = spark._jvm.net.jpountz.xxhash.XXHashFactory \
        .fastestJavaInstance().hash64()
    return h.hash(data, 0, len(data), 0)


def _frame(blocks: bytes, content: bytes | None = None,
           spark=None) -> bytes:
    """Single-segment frame with a 1-byte FCS; given ``spark``, it
    carries a content checksum."""
    fhd = 0x20 | (0x04 if spark is not None else 0)
    size = len(content) if content is not None else 0
    assert size < 256
    out = struct.pack("<IBB", 0xFD2FB528, fhd, size) + blocks
    if spark is not None:
        out += struct.pack("<I", _xxh64(spark, content or b"") & 0xFFFFFFFF)
    return out


def test_authored_multi_block_frame(spark):
    content = b"0123456789abcdef" + b"QQQQQQQQ" + b"tail"
    blocks = (_raw_block(b"0123456789abcdef", False)
              + _rle_block(ord("Q"), 8, False)
              + _compressed_raw_literals_block(b"tail", True))
    frame = _frame(blocks, content, spark)
    got, n, cstate = decode_frames(frame)
    assert got == content
    assert (n, cstate) == (1, "ok")


def test_multi_frame_with_skippable():
    f1 = _frame(_raw_block(b"abc", True), b"abc")
    skip = struct.pack("<II", 0x184D2A50, 4) + b"junk"
    f2 = _frame(_rle_block(ord("z"), 5, True), b"zzzzz")
    got, n, cstate = decode_frames(f1 + skip + f2)
    assert got == b"abczzzzz"
    assert (n, cstate) == (2, "absent")


def test_checksum_mismatch_raises_and_reports(spark):
    frame = bytearray(_frame(_raw_block(b"abc", True), b"abc", spark))
    frame[-1] ^= 0xFF
    with pytest.raises(ZstdError, match="checksum"):
        decompress(bytes(frame))


def test_declared_content_size_enforced():
    bad = _frame(_raw_block(b"abcd", True), b"abc")  # declares 3, emits 4
    with pytest.raises(ZstdError, match="content size"):
        decompress(bad)


def test_dictionary_rejected():
    # FHD with dictionary-id flag 1 and a nonzero 1-byte dict id
    frame = struct.pack("<IBBB", 0xFD2FB528, 0x21, 7, 3) \
        + _raw_block(b"abc", True)
    with pytest.raises(ZstdError, match="dictionar"):
        decompress(frame)


# ---------------------------------------------------------------------------
# Fuzz battery (bounded time, bounded memory — the repo-wide bar)
# ---------------------------------------------------------------------------


def test_truncations_never_hang():
    for cut in range(0, len(HELLO_TAR_ZST), 7):
        data = HELLO_TAR_ZST[:cut]
        try:
            decompress(data)
        except ZstdError:
            pass


def test_bit_flips_never_hang_or_overallocate():
    rng = random.Random(99)
    for _ in range(300):
        data = bytearray(HELLO_TAR_ZST)
        for _ in range(rng.randrange(1, 4)):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        try:
            out = decompress(bytes(data), max_out=1 << 22)
            assert len(out) <= 1 << 22
        except ZstdError:
            pass


def test_rle_bomb_hits_budget_not_memory():
    # An RLE block may declare up to 2^21-1 repeats in 4 bytes; a
    # frame can chain them. The budget must trip, cheaply.
    blocks = b"".join(_rle_block(0, (1 << 17), False) for _ in range(100))
    blocks += _rle_block(0, 1, True)
    # windowed frame (no FCS) so no declared size short-circuits the check
    frame = struct.pack("<IBB", 0xFD2FB528, 0x00, 0x00) + blocks
    with pytest.raises(ZstdError, match="budget"):
        decompress(frame, max_out=1 << 20)


def test_match_bomb_hits_budget(spark):
    # Real encoder output scaled: 64 MB of zeros compresses to ~2 KB;
    # decoding under a 1 MB budget must raise, not allocate 64 MB.
    Z = spark._jvm.com.github.luben.zstd.Zstd
    comp = bytes(Z.compress(b"\x00" * (64 << 20), 3))
    assert len(comp) < 100_000
    with pytest.raises(ZstdError, match="budget|content size"):
        decompress(comp, max_out=1 << 20)


def test_garbage_and_wrong_magic_raise():
    with pytest.raises(ZstdError):
        decompress(b"\x00" * 50)
    with pytest.raises(ZstdError):
        decompress(b"PK\x03\x04" + b"\x00" * 20)


# ---------------------------------------------------------------------------
# Ingest integration: Content-Encoding: zstd bodies and .warc.zst shards
# ---------------------------------------------------------------------------


def test_decode_http_body_zstd(spark):
    from goose_parser_spark.sources.warc import decode_http_body

    Z = spark._jvm.com.github.luben.zstd.Zstd
    head = "HTTP/1.1 200 OK\r\nContent-Encoding: zstd"
    body = bytes(Z.compress(b"<p>real page</p>", 9))
    assert decode_http_body(head, body) == b"<p>real page</p>"
    # garbage under a zstd label: kept as-is (best-effort contract)
    assert decode_http_body(head, b"not zstd") == b"not zstd"
    # bomb: stays compressed rather than blowing the payload budget
    # (80 MB > the 64 MB per-record cap; compresses to a few KB)
    bomb = bytes(Z.compress(b"\x00" * (80 << 20), 3))
    assert decode_http_body(head, bomb) == bomb
    # chunked + zstd stacked, like the gzip variant
    both = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
            "Content-Encoding: zstd")
    chunked = (hex(len(body))[2:].encode() + b"\r\n" + body
               + b"\r\n0\r\n\r\n")
    assert decode_http_body(both, chunked) == b"<p>real page</p>"


def test_read_warc_zst_end_to_end(spark, tmp_path):
    """A whole-file-compressed .warc.zst shard reads back through
    read_warc identically to its .warc.gz sibling."""
    from goose_parser_spark.sources.warc import read_warc, write_warc_bytes

    records = [
        {"url": f"https://ex.com/{i}", "warc_ts": "2026-08-18T00:00:00Z",
         "payload": f"<html><p>doc {i}</p></html>".encode()}
        for i in range(7)
    ]
    plain = write_warc_bytes(records, gzip_members=False)
    Z = spark._jvm.com.github.luben.zstd.Zstd
    (tmp_path / "part-00000.warc.zst").write_bytes(
        bytes(Z.compress(plain, 19)))
    df = read_warc(spark, str(tmp_path))
    rows = sorted((r.url, bytes(r.html)) for r in df.collect())
    assert len(rows) == 7
    assert rows[0] == ("https://ex.com/0", b"<html><p>doc 0</p></html>")


def test_read_warc_zst_frame_per_record(spark, tmp_path):
    """Record-per-frame layout (the IIPC warc.zst shape, minus the
    dictionary): concatenated frames inflate to one WARC stream."""
    from goose_parser_spark.sources.warc import read_warc, write_warc_bytes

    Z = spark._jvm.com.github.luben.zstd.Zstd
    shard = b"".join(
        bytes(Z.compress(write_warc_bytes(
            [{"url": f"https://ex.com/r{i}",
              "warc_ts": "2026-08-18T00:00:00Z",
              "payload": f"<p>rec {i}</p>".encode()}],
            gzip_members=False), 3))
        for i in range(3))
    (tmp_path / "crawl.warc.zst").write_bytes(shard)
    df = read_warc(spark, str(tmp_path))
    urls = sorted(r.url for r in df.collect())
    assert urls == [f"https://ex.com/r{i}" for i in range(3)]


def test_read_pages_jsonl_zst(spark, tmp_path):
    """Dataset-sidecar shape: a .jsonl.zst shard written by the real
    zstd encoder reads back through the explicit-schema path with
    html restored to binary."""
    import json

    from goose_parser_spark.sources.jsonl import read_pages_jsonl_compressed

    Z = spark._jvm.com.github.luben.zstd.Zstd
    lines = "\n".join(json.dumps({
        "url": f"https://ex.com/j{i}",
        "html_b64": base64.b64encode(f"<p>{i}</p>".encode()).decode(),
        "text": f"doc {i}", "lang": "en"}) for i in range(9))
    (tmp_path / "shard-0.jsonl.zst").write_bytes(
        bytes(Z.compress(lines.encode(), 9)))
    df = read_pages_jsonl_compressed(spark, str(tmp_path))
    rows = sorted((r.url, bytes(r.html), r.text) for r in df.collect())
    assert len(rows) == 9
    assert rows[3] == ("https://ex.com/j3", b"<p>3</p>", "doc 3")


def test_zstd_text_poison_rows_and_non_zstd_errors(spark):
    """zstd_text on the map kernel: a valid stream decodes, a NULL
    payload yields no row and a corrupt one the ``n_frames = -1`` row.
    A payload the decoder rejects with something other than ZstdError
    (a string column: TypeError) gets the same poison row; it used to
    fail the task."""
    from goose_parser_spark.ops.zstdcodec import zstd_text
    df = spark.createDataFrame(
        [(1, HELLO_TAR_ZST), (2, None), (3, b"\x28\xb5\x2f\xfd junk")],
        "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in zstd_text(df).collect()}
    assert sorted(out) == [1, 3]
    assert out[1]["n_frames"] == 1 and out[1]["checksum_state"] == "ok"
    assert out[1]["content_len"] == len(decompress(HELLO_TAR_ZST))
    assert (out[3]["n_frames"], out[3]["text"]) == (-1, None)
    strings = spark.createDataFrame([(4, "\x28\xb5\x2f\xfd junk")],
                                    "doc_id long, payload string")
    (row,) = zstd_text(strings).collect()
    assert (row["doc_id"], row["n_frames"], row["content_len"]) == (4, -1, None)


def _checksummed(spark, data: bytes) -> bytes:
    """zstd-jni output WITH a content checksum (Zstd.compress has
    none)."""
    ctx = spark._jvm.com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3)
    ctx.setChecksum(True)
    return bytes(ctx.compress(data))


def test_bad_checksum_is_a_decode_error_for_every_caller(spark, tmp_path):
    """libzstd always verifies frame checksums: a frame with one flipped
    checksum byte poisons its zstd_text row, leaves an HTTP body raw
    and gets its .warc.zst / .jsonl.zst file skipped, while the good
    sibling of each decodes unchanged."""
    import json

    from goose_parser_spark.ops.zstdcodec import zstd_text
    from goose_parser_spark.sources.jsonl import read_pages_jsonl_compressed
    from goose_parser_spark.sources.warc import (
        decode_http_body, read_warc, write_warc_bytes)

    def flipped(frame: bytes) -> bytes:
        return frame[:-1] + bytes([frame[-1] ^ 0xFF])

    page = b"<p>checksummed page</p>"
    good = _checksummed(spark, page)
    bad = flipped(good)
    assert decode_frames(good)[1:] == (1, "ok")

    df = spark.createDataFrame([(1, good), (2, bad)],
                               "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in zstd_text(df).collect()}
    assert (out[1]["checksum_state"], out[1]["text"]) == (
        "ok", page.decode())
    assert (out[2]["n_frames"], out[2]["checksum_state"],
            out[2]["text"]) == (-1, None, None)

    head = "HTTP/1.1 200 OK\r\nContent-Encoding: zstd"
    assert decode_http_body(head, good) == page
    assert decode_http_body(head, bad) == bad

    def warc(tag: str) -> bytes:
        return write_warc_bytes(
            [{"url": f"https://ex.com/{tag}{i}",
              "warc_ts": "2026-08-18T00:00:00Z",
              "payload": f"<p>{tag} {i}</p>".encode()} for i in range(3)],
            gzip_members=False)

    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "good.warc.zst").write_bytes(_checksummed(spark, warc("good")))
    (wdir / "bad.warc.zst").write_bytes(
        flipped(_checksummed(spark, warc("bad"))))
    rows = sorted((r.url, bytes(r.html)) for r in read_warc(
        spark, str(wdir)).collect())
    assert rows == [(f"https://ex.com/good{i}", f"<p>good {i}</p>".encode())
                    for i in range(3)]

    def shard(tag: str) -> bytes:
        return "\n".join(json.dumps({
            "url": f"https://ex.com/{tag}{i}",
            "html_b64": base64.b64encode(f"<p>{i}</p>".encode()).decode(),
            "text": f"{tag} {i}", "lang": "en"}) for i in range(4)).encode()

    jdir = tmp_path / "jsonl"
    jdir.mkdir()
    (jdir / "good.jsonl.zst").write_bytes(_checksummed(spark, shard("good")))
    (jdir / "bad.jsonl.zst").write_bytes(
        flipped(_checksummed(spark, shard("bad"))))
    rows = sorted((r.url, bytes(r.html), r.text) for r in
                  read_pages_jsonl_compressed(spark, str(jdir)).collect())
    assert rows == [(f"https://ex.com/good{i}", f"<p>{i}</p>".encode(),
                     f"good {i}") for i in range(4)]


def test_missing_codec_is_not_a_corrupt_stream(monkeypatch):
    """A pyarrow built without zstd raises ArrowNotImplementedError;
    it must propagate, not turn into ZstdError (which decode_http_body
    would swallow, keeping compressed bytes as the page)."""
    import pyarrow as pa

    from goose_parser_spark.sources.warc import decode_http_body

    def no_codec(*args, **kwargs):
        raise pa.ArrowNotImplementedError("Support for codec 'zstd' not built")

    monkeypatch.setattr(pa, "CompressedInputStream", no_codec)
    with pytest.raises(pa.ArrowNotImplementedError):
        decompress(HELLO_TAR_ZST)
    with pytest.raises(pa.ArrowNotImplementedError):
        decode_http_body("HTTP/1.1 200 OK\r\nContent-Encoding: zstd",
                         HELLO_TAR_ZST)
