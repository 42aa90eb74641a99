"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, with decode / feature-extraction as Arrow-batched pandas
stages over ``mapInPandas``.

Three container formats are decoded for real, with pure-stdlib
byte-level parsers certified end-to-end by independent DuckDB oracles:
PPM (P6) images, 24-bit BMP images, and mono PCM16 WAV audio.
``decode_features`` sniffs the container magic and routes to those
parsers; payloads with no recognized magic get deterministic
byte-derived features (the driver corpus is UTF-8 text, which is
exactly such an opaque payload). Codecs that genuinely need external
libraries (JPEG, MP4, ...) would be added to the same magic-dispatch
table as further parsers — there is no stubbed/raising branch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load, query, spread


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           source AS media_source
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level metadata over the binary payload — size, checksum,
    source tag. Pure projection, engine-independent, oracle-checked."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
        F.col("source").alias("media_source"),
    ).orderBy("doc_id")


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque binary column + metadata struct — the canonical
    multimodal row layout: (id, payload: binary, meta: struct)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


DECODED_SCHEMA = (
    "doc_id long, kind string, n_bytes long, width int, height int, "
    "n_frames int, feat_mean double"
)


def _decode_one(payload: bytes) -> tuple[str, int, int, int, int, float]:
    """Magic-dispatch decode of one payload →
    ``(kind, n_bytes, width, height, n_frames, feat_mean)``.

    Recognized containers route to the oracle-certified pure-stdlib
    parsers: P6 PPM and BMP images map their pixel stats into
    (width, height, 1 frame, pixel mean); mono PCM16 WAV maps into
    (0, 0, n PCM frames, sample mean) — for mono PCM one audio frame IS
    one sample, so n_frames is the honest frame count; YUV4MPEG2 video
    (the writer's C444 profile, see _y4m_encode) maps into (width,
    height, n video frames, plane-byte mean). A payload
    whose magic matches but whose body fails spec validation
    (ValueError / struct truncation) is NOT a media file — e.g. text
    starting with "BM" — and falls through to the opaque branch, like a
    production decoder quarantining corrupt inputs. Opaque payloads get
    deterministic byte-derived features (content-hash dims, first-64-
    byte mean) so layout/partitioning tests can pin exact outputs.
    """
    import struct

    b = bytes(payload)
    n = len(b)
    try:
        if b[:2] == b"P6":
            w, h, _mv, size, mean = _ppm_parse(b)
            return "ppm", size, w, h, 1, mean
        if b[:2] == b"BM":
            w, h, _bpp, size, mean = _bmp_parse(b)
            return "bmp", size, w, h, 1, mean
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            rate, ns, size, mean = _wav_parse(b)
            return "wav", size, 0, 0, ns, mean
        if b[:9] == b"YUV4MPEG2":
            w, h, nf, size, mean = _y4m_stream_parse(b)
            return "y4m", size, w, h, nf, mean
    except (ValueError, struct.error, IndexError, ZeroDivisionError):
        pass
    width = 16 + (b[0] if n else 0)
    height = 16 + (b[-1] if n else 0)
    n_frames = 1 + n % 7
    feat_mean = (sum(b[:64]) / min(n, 64)) if n else 0.0
    return "opaque", n, width, height, n_frames, round(feat_mean, 4)


def decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: sniff each payload's container magic and
    decode via :func:`_decode_one`. Batch contract: input columns
    include (doc_id, payload), output DECODED_SCHEMA. Certified by
    ``multimodal_decode_dispatch`` (mixed PPM/BMP/WAV corpus, full
    DuckDB oracle) plus the per-format roundtrip ops.
    """
    for pdf in batches:
        decoded = [_decode_one(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "kind": [d[0] for d in decoded],
                "n_bytes": [d[1] for d in decoded],
                "width": [d[2] for d in decoded],
                "height": [d[3] for d in decoded],
                "n_frames": [d[4] for d in decoded],
                "feat_mean": [d[5] for d in decoded],
            }
        )
        yield out


# --------------------------------------------------------------------------
# PPM (P6) roundtrip (decode_features dispatches here on 'P6')
# --------------------------------------------------------------------------

#: PPM geometry: dims cycle with doc_id (co-prime moduli, so the
#: (width, height) pairs sweep the full 29×13 grid across the corpus)
_PPM_W_MOD, _PPM_H_MOD = 29, 13
#: fixed header comment — exercises the parser's '#'-skip path; its
#: byte length is part of the oracle's file-size formula
_PPM_COMMENT = b"# synthetic\n"


def _ppm_encode(doc_id: int, hex_digest: str) -> bytes:
    """A real (viewer-openable) binary PPM: 'P6' magic, a comment line,
    ASCII dims and maxval, then raw RGB bytes cycling the md5 hex
    digest's ASCII bytes — the same pixel-cycle arithmetic the BMP twin
    uses, minus row padding (PPM rows are unpadded)."""
    w = 1 + doc_id % _PPM_W_MOD
    h = 1 + doc_id % _PPM_H_MOD
    n_px = w * h * 3
    src = hex_digest.encode("ascii")
    px = (src * ((n_px + len(src) - 1) // len(src)))[:n_px]
    return b"P6\n" + _PPM_COMMENT + f"{w} {h}\n255\n".encode("ascii") + px


def _ppm_parse(b: bytes) -> tuple[int, int, int, int, float]:
    """Spec-faithful header tokenizer: whitespace-separated tokens with
    '#'-to-newline comments allowed between them, single whitespace
    after maxval, then raw data. Returns (w, h, maxval, file_size,
    pixel mean with round_cmp's pinned tie-break). Malformed payloads
    raise ValueError (never assert — ``python -O`` strips asserts and
    would turn truncation into a silently wrong px_mean).

    Header numbers must be CANONICAL decimals (the same
    int()-leniency class the _y4m_header fuzz test guards: bare
    int() accepts b'1_0' and b'+2', so junk would classify as ppm with
    dimensions no PPM writer ever spells), and maxval must sit in
    (0, 256) — the 1-byte-per-sample range this reader implements: the
    spec's 256..65535 values mean TWO bytes per sample, which the
    second review pass showed this parser would silently misparse
    (half the data read as 8-bit samples), so they are rejected as
    unsupported the way _bmp_parse rejects top-down BMPs."""
    import math

    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, toks = 2, []
    while len(toks) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tok = b[start:pos]
        if not tok.isdigit():  # ASCII bytes: isdigit == [0-9]+, nonempty
            raise ValueError("malformed PPM header number")
        toks.append(int(tok))
    pos += 1  # exactly one whitespace byte separates maxval from data
    w, h, maxval = toks
    if w <= 0 or h <= 0:
        raise ValueError("non-positive PPM dimensions")
    if not 0 < maxval < 256:
        raise ValueError("unsupported PPM maxval (2-byte samples)")
    n_px = w * h * 3
    data = b[pos : pos + n_px]
    if len(data) != n_px:
        raise ValueError("truncated pixel data")
    mean = sum(data) / n_px
    return w, h, maxval, len(b), math.floor(round(mean, 7) * 10000.0 + 0.5) / 10000.0


_PPM_DECODED = (
    "doc_id long, width int, height int, maxval int, n_bytes long, px_mean double"
)


def _ppm_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, hx in zip(pdf["doc_id"], pdf["hx"]):
            w, h, mv, size, mean = _ppm_parse(_ppm_encode(int(doc_id), hx))
            rows.append((int(doc_id), w, h, mv, size, mean))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "maxval", "n_bytes", "px_mean"],
        )


@query(
    "multimodal_ppm_decode",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, md5(text) AS hx,
             CAST(1 + doc_id % {_PPM_W_MOD} AS INT) AS width,
             CAST(1 + doc_id % {_PPM_H_MOD} AS INT) AS height
      FROM documents
    ),
    geo AS (
      SELECT doc_id, hx, width, height, width * height * 3 AS n_px,
             3 + {len(_PPM_COMMENT)}
               + length(CAST(width AS VARCHAR)) + 1
               + length(CAST(height AS VARCHAR)) + 1 + 4 AS hdr_len
      FROM g
    ),
    sums AS (
      SELECT doc_id, width, height, n_px, hdr_len,
             list_aggregate(list_transform(generate_series(1, 32),
                                           i -> ord(substr(hx, i, 1))), 'sum') AS sum32,
             COALESCE(list_aggregate(list_transform(generate_series(1, n_px % 32),
                                           i -> ord(substr(hx, i, 1))), 'sum'), 0)
               AS sum_rem
      FROM geo
    )
    SELECT doc_id, width, height, 255 AS maxval,
           CAST(hdr_len + n_px AS BIGINT) AS n_bytes,
           FLOOR(ROUND(((n_px // 32) * sum32 + sum_rem) * 1.0 / n_px, 7)
                 * 10000.0 + 0.5) / 10000.0 AS px_mean
    FROM sums
    ORDER BY doc_id
    """,
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level PPM (P6) decode, fully oracle-certified — the
    graduation of the former rows-only decode stub, joining the BMP and
    WAV roundtrips as the third independent byte-level decode: each
    document gets a genuine binary PPM payload (magic + comment + ASCII
    dims/maxval + raw RGB cycling the text's md5 hex bytes) and a
    spec-faithful pure-stdlib tokenizer parses it back — including the
    '#'-comment skip and the variable-length ASCII header a fixed-offset
    reader would get wrong.

    Certification is end-to-end and INDEPENDENT: DuckDB never parses
    bytes — it recomputes dims from the doc_id formulas, the file size
    from the ASCII-header length rule (digit counts of the dims!), and
    the pixel mean from the md5-hex cycle arithmetic. Scale shape: one
    Arrow-batched mapInPandas over the corpus, embarrassingly parallel,
    no shuffle but the presentation sort."""
    d = load(spark, sf_dir, "documents")
    src = d.select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("hx"))
    return src.mapInPandas(_ppm_roundtrip, schema=_PPM_DECODED).orderBy("doc_id")


#: BMP geometry derived per doc: dims cycle with doc_id, pixel bytes
#: cycle the 32-char md5 hex digest of the text (pure ASCII, so byte
#: values equal codepoints and DuckDB's ord() can replay the math)
_BMP_W_MOD, _BMP_H_MOD = 31, 17
_BMP_HDR = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def _bmp_encode(doc_id: int, hex_digest: str) -> bytes:
    """A real (viewer-openable) 24-bit BMP: little-endian headers, rows
    padded to 4-byte boundaries, bottom-up pixel data. Pixel bytes are
    the cycled ASCII bytes of the md5 hex digest."""
    import struct

    w = 1 + doc_id % _BMP_W_MOD
    h = 1 + doc_id % _BMP_H_MOD
    row = w * 3
    pad = (4 - row % 4) % 4
    n_px = w * h * 3
    src = hex_digest.encode("ascii")
    px = (src * ((n_px + len(src) - 1) // len(src)))[:n_px]
    body = bytearray()
    for r in range(h):
        body += px[r * row : (r + 1) * row] + b"\x00" * pad
    size = _BMP_HDR + len(body)
    file_hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, _BMP_HDR)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + bytes(body)


def _bmp_parse(b: bytes) -> tuple[int, int, int, int, float]:
    """Parse the header fields back out of the bytes and aggregate the
    pixel data (skipping row padding) — the byte-level decode the
    oracle certifies end-to-end."""
    import struct

    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    size, _, _, off = struct.unpack("<IHHI", b[2:14])
    _hsz, w, h, _planes, bpp = struct.unpack("<IiiHH", b[14:30])
    if w <= 0 or h <= 0:
        # h < 0 is the legal top-down variant; the writer never emits
        # it, so the parser treats it as unsupported rather than
        # silently aggregating an empty pixel window
        raise ValueError("non-positive BMP dimensions")
    if off < 54:
        # an offset pointing inside the 54-byte BITMAPINFOHEADER layout would
        # silently aggregate header bytes as "pixels" — junk accepted
        # as bmp instead of falling to the opaque quarantine
        raise ValueError("BMP pixel offset inside the header")
    row = w * 3
    pad = (4 - row % 4) % 4
    if len(b) < off + h * (row + pad):
        raise ValueError("truncated BMP pixel data")
    total = 0
    for r in range(h):
        start = off + r * (row + pad)
        total += sum(b[start : start + row])
    mean = total / (w * h * 3)
    # round_cmp's pinned tie-break (registry.round_cmp), in Python
    import math

    return w, h, bpp, size, math.floor(round(mean, 7) * 10000.0 + 0.5) / 10000.0


_BMP_DECODED = "doc_id long, width int, height int, bpp int, n_bytes long, px_mean double"


def _bmp_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, hx in zip(pdf["doc_id"], pdf["hx"]):
            w, h, bpp, size, mean = _bmp_parse(_bmp_encode(int(doc_id), hx))
            rows.append((int(doc_id), w, h, bpp, size, mean))
        yield pd.DataFrame(
            rows, columns=["doc_id", "width", "height", "bpp", "n_bytes", "px_mean"]
        )


@query(
    "multimodal_bmp_decode",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, md5(text) AS hx,
             CAST(1 + doc_id % {_BMP_W_MOD} AS INT) AS width,
             CAST(1 + doc_id % {_BMP_H_MOD} AS INT) AS height
      FROM documents
    ),
    geo AS (
      SELECT doc_id, hx, width, height,
             ((width * 3 + 3) // 4) * 4 AS stride,
             width * height * 3 AS n_px
      FROM g
    ),
    sums AS (
      SELECT doc_id, width, height, stride, n_px,
             list_aggregate(list_transform(generate_series(1, 32),
                                           i -> ord(substr(hx, i, 1))), 'sum') AS sum32,
             COALESCE(list_aggregate(list_transform(generate_series(1, n_px % 32),
                                           i -> ord(substr(hx, i, 1))), 'sum'), 0)
               AS sum_rem
      FROM geo
    )
    SELECT doc_id, width, height, 24 AS bpp,
           CAST({_BMP_HDR} + height * stride AS BIGINT) AS n_bytes,
           FLOOR(ROUND(((n_px // 32) * sum32 + sum_rem) * 1.0 / n_px, 7)
                 * 10000.0 + 0.5) / 10000.0 AS px_mean
    FROM sums
    ORDER BY doc_id
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level image decode, fully oracle-certified — the
    graduation of the decode seam the stub ops document: each document
    gets a genuine 24-bit BMP payload (little-endian headers, 4-byte row
    padding, dims from doc_id, pixels cycling the text's md5 hex bytes),
    and a pure-stdlib parser reads the header fields back and aggregates
    the pixel bytes while skipping padding.

    Certification is end-to-end and INDEPENDENT: DuckDB never parses
    bytes — it recomputes width/height from the doc_id formula, the
    file size from the BMP stride rule, and the pixel mean from the
    md5-hex cycle arithmetic. Any spec violation in writer or parser
    (wrong endianness, missing padding, off-by-one in the pixel window)
    breaks the hash match. Scale shape: one Arrow-batched mapInPandas
    over the corpus, embarrassingly parallel, no shuffle but the
    presentation sort — identical plumbing to what a PIL/ffmpeg decoder
    would use (decode_features dispatches here on the 'BM' magic)."""
    d = load(spark, sf_dir, "documents")
    src = d.select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("hx"))
    return src.mapInPandas(_bmp_roundtrip, schema=_BMP_DECODED).orderBy("doc_id")


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_offset long, frame_sig string"
FRAMES_PER_DOC = 3


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage with 1→N cardinality: uniformly sample up to
    FRAMES_PER_DOC 'frames' per payload (video/audio frame extraction
    shape). The frame decode is a deterministic stand-in (a real
    deployment's frame extractor needs a video codec library, which
    this container doesn't ship); real deployments seek into the container at
    frame_offset and decode. What is real here: the cardinality-changing
    batch contract (one input row yields a variable number of output
    rows), the BYTE-based offset arithmetic, and per-frame signatures.

    The signature is the md5 of the window's lowercase-hex encoding
    (not the raw bytes): the byte semantics are identical — hex offset
    2·o indexes exactly payload byte o — and it makes the sig
    replayable by the SQL oracle, whose ``substr`` is character-based
    and would mis-slice multi-byte UTF-8 payloads (DuckDB 1.0 has no
    BLOB substring)."""
    import binascii
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            hx = binascii.hexlify(bytes(payload)).decode("ascii")
            n_frames = 1 + n % 7  # matches decode_features
            take = min(FRAMES_PER_DOC, n_frames)
            for i in range(take):
                # uniform sampling across the (fake) frame sequence
                frame_no = (i * n_frames) // take
                offset = (frame_no * n) // max(n_frames, 1)
                window_hex = hx[2 * offset : 2 * (offset + 16)]
                rows.append(
                    (
                        int(doc_id),
                        frame_no,
                        offset,
                        hashlib.md5(window_hex.encode("ascii")).hexdigest()[:16],
                    )
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_offset", "frame_sig"]
        )


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    geo AS (
      SELECT doc_id, hx, n, 1 + n % 7 AS n_frames,
             LEAST({FRAMES_PER_DOC}, 1 + n % 7) AS take
      FROM docs
    ),
    frames AS (
      SELECT doc_id, hx, n, n_frames,
             (i.i * n_frames) // take AS frame_no
      FROM geo
      CROSS JOIN (SELECT unnest(generate_series(0, {FRAMES_PER_DOC - 1})) AS i) i
      WHERE i.i < take
    ),
    offs AS (
      SELECT doc_id, hx,
             CAST(frame_no AS INTEGER) AS frame_idx,
             CAST((frame_no * n) // GREATEST(n_frames, 1) AS BIGINT) AS frame_offset
      FROM frames
    )
    SELECT doc_id, frame_idx, frame_offset,
           substr(md5(substr(hx, 2 * frame_offset + 1, 32)), 1, 16) AS frame_sig
    FROM offs
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over the binary payload column: up to
    FRAMES_PER_DOC uniformly-spaced frames per document, one output row
    per frame. Partition-parallel, Arrow-batched, deterministic — and
    FULLY oracle-certified: DuckDB replays the frame-count/
    offset integer arithmetic and recomputes each signature from the
    hex-encoded payload window, so the 1→N batch contract, the byte
    offsets, and the sig derivation are all value-checked."""
    d = load(spark, sf_dir, "documents")
    payloads = with_binary_payload(d)
    return payloads.mapInPandas(sample_frames, schema=FRAME_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )


# --------------------------------------------------------------------------
# WAV (RIFF PCM) roundtrip — the audio twin of the BMP decode
# --------------------------------------------------------------------------

#: per-doc audio geometry: sample count and rate cycle with doc_id
_WAV_N_MOD = 400
_WAV_RATES = 5  # sample_rate = 8000 + 1000 * (doc_id % _WAV_RATES)
_WAV_HDR = 44  # canonical RIFF + fmt(16) + data headers, mono PCM16


def _wav_encode(doc_id: int, hex_digest: str) -> bytes:
    """A real (player-openable) mono 16-bit PCM WAV: RIFF/WAVE headers,
    fmt chunk, data chunk. Samples are signed 16-bit little-endian
    values built from consecutive pairs of the md5 hex digest's ASCII
    bytes, cycled — so the oracle can replay the waveform arithmetic
    without touching bytes.

    The PCM body is built at C speed (the same
    slice-of-repeated-digest idiom as the Y4M encoder,
    where the interpreted per-byte loop was most of the measured cost):
    sample i is struct.pack('<h', lo + 256·hi − 32768) with
    lo = src[2i % 32], hi = src[(2i+1) % 32]; byte-wise that is the
    digest cycle with every odd-position byte XOR 0x80 (−32768 flips
    the sign bit: (hi − 128) & 0xFF == hi ^ 0x80 for ASCII hi < 128,
    and the low byte passes through; 32 is even, so cycle parity ==
    body-position parity). Bit-equality with the per-sample
    struct.pack form is pinned in tests/test_llm_ops.py."""
    import struct

    n = 100 + doc_id % _WAV_N_MOD
    rate = 8000 + 1000 * (doc_id % _WAV_RATES)
    src = hex_digest.encode("ascii")  # 32 bytes, pure ASCII
    flipped = bytes(c ^ 0x80 if i % 2 else c for i, c in enumerate(src))
    data_len = 2 * n
    body = (flipped * ((data_len + 31) // 32))[:data_len]
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + data_len,
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        1,  # mono
        rate,
        rate * 2,  # byte rate = rate * block align
        2,  # block align
        16,  # bits per sample
        b"data",
        data_len,
    )
    return hdr + body


def _wav_header_walk(b: bytes) -> tuple[int, int]:
    """Validate the RIFF/fmt/data headers and return (sample_rate,
    n_samples) — the ONE WAV header walk BOTH readers consume
    (:func:`_wav_parse` and :func:`_wav_fingerprint_parse`).

    Accept only what is implemented: exactly the 16-byte-fmt, mono,
    16-bit-PCM layout the encoder writes.
    ``fmt_len`` is VALIDATED, not just read — every later offset (bits
    at 34, the data chunk at 36) is computed assuming a 16-byte fmt
    chunk, so an 18-byte WAVE_FORMAT_EX spelling (the most common real
    variant) parsed as if 16 would read ``bits`` out of cbSize and
    could silently aggregate misaligned bytes as samples. An odd
    ``data_len`` is likewise rejected: 16-bit PCM can't carry a half
    sample, and the old ``// 2`` floored the trailing byte away
    silently."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    fmt_id, fmt_len, codec, ch, rate = struct.unpack("<4sIHHI", b[12:28])
    if fmt_id != b"fmt " or codec != 1 or ch != 1:
        raise ValueError("unexpected fmt chunk")
    if fmt_len != 16:
        raise ValueError("unsupported fmt chunk length (only plain 16-byte PCM fmt)")
    bits = struct.unpack("<H", b[34:36])[0]
    data_id, data_len = struct.unpack("<4sI", b[36:44])
    if data_id != b"data" or bits != 16:
        raise ValueError("unexpected data chunk / bit depth")
    if data_len % 2:
        raise ValueError("odd data length for 16-bit samples")
    if len(b) < _WAV_HDR + data_len:
        raise ValueError("truncated PCM data")
    n = data_len // 2
    if n <= 0:
        raise ValueError("empty PCM data")
    return rate, n


def _wav_parse(b: bytes) -> tuple[int, int, int, float]:
    """Parse the RIFF headers back (:func:`_wav_header_walk` — the
    shared, fuzz-hardened walk) and aggregate the PCM samples — the
    byte-level decode the oracle certifies end-to-end."""
    import math
    import struct

    rate, n = _wav_header_walk(b)
    total = 0
    for i in range(n):
        (s,) = struct.unpack_from("<h", b, _WAV_HDR + 2 * i)
        total += s
    mean = total / n
    return rate, n, _WAV_HDR + 2 * n, math.floor(
        round(mean, 7) * 10000.0 + 0.5
    ) / 10000.0


_WAV_DECODED = (
    "doc_id long, sample_rate int, n_samples int, n_bytes long, sample_mean double"
)


def _wav_roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, hx in zip(pdf["doc_id"], pdf["hx"]):
            rate, n, size, mean = _wav_parse(_wav_encode(int(doc_id), hx))
            rows.append((int(doc_id), rate, n, size, mean))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "sample_rate", "n_samples", "n_bytes", "sample_mean"],
        )


@query(
    "multimodal_wav_decode",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, md5(text) AS hx,
             100 + doc_id % {_WAV_N_MOD} AS n,
             CAST(8000 + 1000 * (doc_id % {_WAV_RATES}) AS INT) AS rate
      FROM documents
    ),
    cyc AS (
      -- one full cycle = 16 samples (32 hex bytes); sample i pairs hex
      -- chars (2i mod 32, 2i+1 mod 32), signed-16 offset -32768
      SELECT doc_id, hx, n, rate,
             list_aggregate(list_transform(generate_series(0, 15),
               i -> ord(substr(hx, 2 * i + 1, 1))
                    + 256 * ord(substr(hx, 2 * i + 2, 1)) - 32768),
               'sum') AS sum16,
             COALESCE(list_aggregate(list_transform(generate_series(0, (n % 16) - 1),
               i -> ord(substr(hx, 2 * i + 1, 1))
                    + 256 * ord(substr(hx, 2 * i + 2, 1)) - 32768),
               'sum'), 0) AS sum_rem
      FROM g
    )
    SELECT doc_id, rate AS sample_rate,
           CAST(n AS INT) AS n_samples,
           CAST({_WAV_HDR} + 2 * n AS BIGINT) AS n_bytes,
           FLOOR(ROUND(((n // 16) * sum16 + sum_rem) * 1.0 / n, 7)
                 * 10000.0 + 0.5) / 10000.0 AS sample_mean
    FROM cyc
    ORDER BY doc_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level AUDIO decode, fully oracle-certified — the WAV
    twin of multimodal_bmp_decode: each document gets a genuine mono
    16-bit PCM RIFF/WAVE payload (sample count and rate from doc_id,
    signed samples built from cycled md5 hex byte pairs), and a
    pure-stdlib parser validates the RIFF/fmt/data chunk structure,
    reads the format fields back, and aggregates the waveform.

    Certification is end-to-end and INDEPENDENT: DuckDB never touches
    bytes — it recomputes the sample rate and count from the doc_id
    formulas, the file size from the PCM16 framing rule, and the
    sample mean from the 16-sample hex-pair cycle arithmetic. Any spec
    violation in writer or parser (endianness, sign offset, chunk
    lengths) breaks the hash match. Together with the BMP op this
    covers both image- and audio-container plumbing; codecs that
    genuinely need external libraries would join decode_features'
    magic-dispatch table as further parsers.

    Scale shape: one Arrow-batched mapInPandas over the corpus,
    embarrassingly parallel, no shuffle but the presentation sort."""
    d = load(spark, sf_dir, "documents")
    src = d.select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("hx"))
    return src.mapInPandas(_wav_roundtrip, schema=_WAV_DECODED).orderBy("doc_id")


#: Y4M geometry, all doc_id-derived so the oracle can replay it:
#: W = 4 + doc_id % 13, H = 4 + doc_id % 11, frames = 2 + doc_id % 7,
#: C444 (three full planes → 3·W·H bytes per frame). Frame f's byte i
#: is the md5-hex ASCII cycle ROTATED by f·_Y4M_FRAME_OFF — frames
#: differ deterministically, so the temporal features are non-trivial.
#: (Defined here, above the dispatch oracle that interpolates them at
#: module load; the encoder/parsers live in the video section below.)
_Y4M_W_MOD = 13
_Y4M_H_MOD = 11
_Y4M_NF_MOD = 7
_Y4M_FRAME_OFF = 7


# --------------------------------------------------------------------------
# Mixed-corpus magic dispatch — certifies decode_features itself
# --------------------------------------------------------------------------


def _mixed_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: give each doc a REAL container payload whose
    format cycles with doc_id (0 → PPM, 1 → BMP, 2 → WAV, 3 → Y4M) —
    the mixed corpus that forces decode_features to dispatch on magic
    bytes."""
    for pdf in batches:
        payloads = []
        for doc_id, hx in zip(pdf["doc_id"], pdf["hx"]):
            doc_id = int(doc_id)
            enc = (_ppm_encode, _bmp_encode, _wav_encode, _y4m_encode)[doc_id % 4]
            payloads.append(enc(doc_id, hx))
        yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "payload": payloads})


@query(
    "multimodal_decode_dispatch",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, md5(text) AS hx, doc_id % 4 AS k FROM documents
    ),
    ppm_geo AS (
      SELECT doc_id, hx,
             CAST(1 + doc_id % {_PPM_W_MOD} AS INT) AS w,
             CAST(1 + doc_id % {_PPM_H_MOD} AS INT) AS h
      FROM g WHERE k = 0
    ),
    ppm_sz AS (
      SELECT doc_id, hx, w, h, w * h * 3 AS n_px,
             3 + {len(_PPM_COMMENT)}
               + length(CAST(w AS VARCHAR)) + 1
               + length(CAST(h AS VARCHAR)) + 1 + 4 AS hdr_len
      FROM ppm_geo
    ),
    ppm_out AS (
      SELECT doc_id, 'ppm' AS kind,
             CAST(hdr_len + n_px AS BIGINT) AS n_bytes,
             w AS width, h AS height, CAST(1 AS INT) AS n_frames,
             FLOOR(ROUND(((n_px // 32) *
               list_aggregate(list_transform(generate_series(1, 32),
                              i -> ord(substr(hx, i, 1))), 'sum')
               + COALESCE(list_aggregate(list_transform(generate_series(1, n_px % 32),
                              i -> ord(substr(hx, i, 1))), 'sum'), 0)
               ) * 1.0 / n_px, 7) * 10000.0 + 0.5) / 10000.0 AS feat_mean
      FROM ppm_sz
    ),
    bmp_geo AS (
      SELECT doc_id, hx,
             CAST(1 + doc_id % {_BMP_W_MOD} AS INT) AS w,
             CAST(1 + doc_id % {_BMP_H_MOD} AS INT) AS h
      FROM g WHERE k = 1
    ),
    bmp_sz AS (
      SELECT doc_id, hx, w, h, w * h * 3 AS n_px,
             ((w * 3 + 3) // 4) * 4 AS stride
      FROM bmp_geo
    ),
    bmp_out AS (
      SELECT doc_id, 'bmp' AS kind,
             CAST({_BMP_HDR} + h * stride AS BIGINT) AS n_bytes,
             w AS width, h AS height, CAST(1 AS INT) AS n_frames,
             FLOOR(ROUND(((n_px // 32) *
               list_aggregate(list_transform(generate_series(1, 32),
                              i -> ord(substr(hx, i, 1))), 'sum')
               + COALESCE(list_aggregate(list_transform(generate_series(1, n_px % 32),
                              i -> ord(substr(hx, i, 1))), 'sum'), 0)
               ) * 1.0 / n_px, 7) * 10000.0 + 0.5) / 10000.0 AS feat_mean
      FROM bmp_sz
    ),
    wav_geo AS (
      SELECT doc_id, hx, 100 + doc_id % {_WAV_N_MOD} AS n
      FROM g WHERE k = 2
    ),
    wav_out AS (
      SELECT doc_id, 'wav' AS kind,
             CAST({_WAV_HDR} + 2 * n AS BIGINT) AS n_bytes,
             CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
             CAST(n AS INT) AS n_frames,
             FLOOR(ROUND(((n // 16) *
               list_aggregate(list_transform(generate_series(0, 15),
                 i -> ord(substr(hx, 2 * i + 1, 1))
                      + 256 * ord(substr(hx, 2 * i + 2, 1)) - 32768), 'sum')
               + COALESCE(list_aggregate(list_transform(generate_series(0, (n % 16) - 1),
                 i -> ord(substr(hx, 2 * i + 1, 1))
                      + 256 * ord(substr(hx, 2 * i + 2, 1)) - 32768), 'sum'), 0)
               ) * 1.0 / n, 7) * 10000.0 + 0.5) / 10000.0 AS feat_mean
      FROM wav_geo
    ),
    y4m_geo AS (
      SELECT doc_id, hx,
             CAST(4 + doc_id % {_Y4M_W_MOD} AS INT) AS w,
             CAST(4 + doc_id % {_Y4M_H_MOD} AS INT) AS h,
             CAST(2 + doc_id % {_Y4M_NF_MOD} AS INT) AS nf
      FROM g WHERE k = 3
    ),
    y4m_sz AS (
      SELECT *, 3 * w * h AS fb,
             length('YUV4MPEG2 W' || w || ' H' || h || ' F25:1 Ip A1:1 C444') + 1
               AS hdr_len
      FROM y4m_geo
    ),
    -- frame f's bytes are the md5-hex cycle rotated by f·OFF: full
    -- 32-cycles are rotation-invariant, the fb%32 tail reads offsets
    -- (i + f·OFF) % 32 — the same replay as the video_frame_sample
    -- oracle, summed over ALL frames here (f < nf, nf ≤ {_Y4M_NF_MOD + 1})
    y4m_fr AS (
      SELECT doc_id, f,
             (fb // 32) * list_aggregate(list_transform(generate_series(1, 32),
                            i -> ord(substr(hx, i, 1))), 'sum')
             + COALESCE(list_aggregate(list_transform(generate_series(0, (fb % 32) - 1),
                            i -> ord(substr(hx, ((i + f * {_Y4M_FRAME_OFF}) % 32) + 1, 1))),
                        'sum'), 0) AS fsum
      FROM y4m_sz, (SELECT unnest(generate_series(0, {_Y4M_NF_MOD})) AS f)
      WHERE f < nf
    ),
    y4m_tot AS (SELECT doc_id, SUM(fsum) AS total FROM y4m_fr GROUP BY doc_id),
    y4m_out AS (
      SELECT s.doc_id, 'y4m' AS kind,
             CAST(hdr_len + nf * (6 + fb) AS BIGINT) AS n_bytes,
             w AS width, h AS height, nf AS n_frames,
             FLOOR(ROUND(t.total * 1.0 / (nf * fb), 7) * 10000.0 + 0.5) / 10000.0
               AS feat_mean
      FROM y4m_sz s JOIN y4m_tot t USING (doc_id)
    )
    SELECT * FROM ppm_out
    UNION ALL SELECT * FROM bmp_out
    UNION ALL SELECT * FROM wav_out
    UNION ALL SELECT * FROM y4m_out
    ORDER BY doc_id
    """,
    tags=("multimodal",),
)
def multimodal_decode_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the magic-dispatch DECODER itself, not just the
    per-format roundtrips. Every document gets a real container payload
    whose format cycles with doc_id (PPM / BMP / WAV / Y4M), and
    ``decode_features`` — the one entry point a production pipeline
    would call on an unknown blob — must sniff each magic, route to the
    right pure-stdlib parser, and map format-specific geometry into the
    common feature schema.

    Certification is end-to-end and INDEPENDENT: DuckDB never sees a
    byte — it re-derives each branch's dims/size/mean from the doc_id
    formulas and the md5-hex cycle arithmetic (rotated per-frame for
    the Y4M stratum), unioned across the four formats. A dispatch bug
    (wrong parser, wrong schema mapping, magic collision) breaks the
    hash match.

    Scale shape: two chained Arrow-batched mapInPandas stages (encode,
    then decode) in ONE stage pipeline — embarrassingly parallel, no
    shuffle but the presentation sort."""
    d = load(spark, sf_dir, "documents")
    src = d.select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("hx"))
    payloads = src.mapInPandas(_mixed_encode, schema="doc_id long, payload binary")
    return payloads.mapInPandas(decode_features, schema=DECODED_SCHEMA).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# Perceptual image near-dup: aHash over decoded BMP pixels + banded
# Hamming blocking (the BMP decode above + dedup.py's simhash banding)
# --------------------------------------------------------------------------

#: aHash geometry: 60 sample points (house 60-bit signature width, same
#: as text_simhash, so the banding constants are shared verbatim), each
#: the nearest-neighbor pixel byte at index ⌊j·n_px/60⌋ of the decoded
#: scanline stream, thresholded against the image's GLOBAL byte mean.
#: The compare is integer cross-multiplication (p·n_px > Σpixels) — no
#: float anywhere, so the two engines cannot disagree on a boundary.
#: The banded pairing tail is IMPORTED whole — the Spark helper
#: (`_banded_hamming_pairs`) and its oracle twin
#: (`_BANDED_PAIRS_SQL_TAIL`) are THE single definitions in dedup.py
#: shared by all three modalities, so a banding retune reaches all
#: three. Importing dedup here registers its ops before multimodal's;
#: registry order does not matter (the correctness-run order is
#: computed by ``certification.correctness_order``).
from .dedup import (  # noqa: E402
    _BANDED_PAIRS_SQL_TAIL,
    _banded_hamming_pairs,
)


def _hashed_src(d: DataFrame, spark: SparkSession, fan_out: bool) -> DataFrame:
    """(doc_id, hx): the md5-digest source the synthetic-container ops
    build payloads from — one definition (inline copies of the hash +
    fan-out idiom would drift on a retune). ``fan_out=True`` applies
    the bounded spread() for the single-split testdata (a single-file
    table is a single-task narrow stage) — a MEASURED per-op decision
    (see the A/B notes at each call site; cheap loops lose to the
    shuffle, heavy ones win) and a no-op to remove at production split
    counts."""
    src = d.select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("hx"))
    if fan_out:
        # sparkContext raises on Spark Connect sessions — same fixed
        # fallback as functions.quantiles._probe_executor_python_env
        try:
            par = spark.sparkContext.defaultParallelism
        except Exception:  # pragma: no cover - Connect-only path
            par = 8
        src = spread(src, "doc_id", n=min(8, par))
    return src


_PHASH_BITS = 60


def _bmp_phash_parse(b: bytes) -> int:
    """Decode a BMP payload's pixel bytes (padding skipped — the same
    byte-level walk :func:`_bmp_parse` certifies) and fold them into the
    60-bit average-hash: bit j is set when the sampled pixel at
    ⌊j·n_px/60⌋ is strictly brighter than the image mean."""
    import struct

    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    _size, _r1, _r2, off = struct.unpack("<IHHI", b[2:14])
    _hsz, w, h, _planes, _bpp = struct.unpack("<IiiHH", b[14:30])
    if w <= 0 or h <= 0:
        raise ValueError("non-positive BMP dimensions")
    row = w * 3
    pad = (4 - row % 4) % 4
    px = bytearray()
    for r in range(h):
        start = off + r * (row + pad)
        px += b[start : start + row]
    n_px = len(px)
    total = sum(px)
    sig = 0
    for j in range(_PHASH_BITS):
        if px[(j * n_px) // _PHASH_BITS] * n_px > total:
            sig |= 1 << j
    return sig


def _bmp_phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: encode each doc's certified BMP payload and
    parse it straight back into the perceptual hash — the same
    write-then-decode seam the roundtrip ops certify, with the hash
    computed from the DECODED BYTES (the oracle recomputes it from the
    md5-hex cycle arithmetic instead; neither side sees the other's
    path)."""
    for pdf in batches:
        rows = [
            (int(doc_id), _bmp_phash_parse(_bmp_encode(int(doc_id), hx)))
            for doc_id, hx in zip(pdf["doc_id"], pdf["hx"])
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "phash"])


@query(
    "image_phash_neardup",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, md5(text) AS hx,
             (1 + doc_id % {_BMP_W_MOD}) * (1 + doc_id % {_BMP_H_MOD}) * 3 AS n_px
      FROM documents
    ),
    tot AS (
      SELECT doc_id, hx, n_px,
             (n_px // 32) * list_aggregate(list_transform(generate_series(1, 32),
                                           i -> ord(substr(hx, i, 1))), 'sum')
             + COALESCE(list_aggregate(list_transform(generate_series(1, n_px % 32),
                                           i -> ord(substr(hx, i, 1))), 'sum'), 0)
               AS total
      FROM g
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN ord(substr(hx, ((j * n_px) // {_PHASH_BITS}) % 32 + 1, 1))
                                * n_px > total
                      THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM tot, (SELECT unnest(generate_series(0, {_PHASH_BITS - 1})) AS j)
      GROUP BY doc_id
    ){_BANDED_PAIRS_SQL_TAIL}""",
    tags=("multimodal",),
)
def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual IMAGE near-duplicate detection:
    aHash-class fingerprints over the decoded BMP corpus, paired by the
    same multi-band Hamming blocking the text simhash op certifies —
    dedup extended to the multimodal column family by composing two
    certified primitives (`multimodal_bmp_decode`'s byte-level parser
    lineage; `dedup._simhash_bands` + its hot-bucket cap, constants
    shared so the pigeonhole guarantee carries over verbatim: any pair
    within Hamming ≤ 4 of 60 bits shares an intact 12-bit band).

    The hash is a nearest-neighbor 60-point resample of the scanline
    byte stream thresholded at the global pixel mean via integer
    cross-multiplication (p·n_px > Σpx) — zero floats, so engine
    tie-breaks cannot exist. Tiny images (n_px < 60) sample pixels
    repeatedly: their sparse, correlated signatures collapse into a few
    hot (band, key) buckets, which is exactly what the ≤64 bucket cap
    drops before the self-join (the cap is load-bearing here, not just
    at 100 TB).

    Certification is independent: Spark hashes the DECODED payload
    bytes (encode → parse → sample); DuckDB never sees a byte — it
    re-derives each sample from the md5-hex cycle arithmetic and the
    doc_id geometry formulas, then replays the banding in integer SQL.

    Scale shape: hashing is one Arrow-batched mapInPandas (no shuffle);
    banding explodes ×5 inside codegen; candidates come from equi-joins
    on (band, key) with the hot-bucket broadcast filter — never a cross
    product; the Hamming verify is a bit_count on two longs. Identical
    plan family to `simhash_near_pairs`, which holds at 100 TB for the
    same reasons (band width is the knob that bounds bucket load)."""
    d = load(spark, sf_dir, "documents")
    # no fan-out: the aHash is cheap enough that spread() MEASURED
    # SLOWER here (interleaved min-of-3 at sf0.1: 0.90 single vs 1.00
    # spread — the shuffle + Arrow re-batch costs more than the
    # single-task compute). The heavier audio/video loops keep it.
    src = _hashed_src(d, spark, fan_out=False)
    sig = src.mapInPandas(_bmp_phash, schema="doc_id long, phash long").select(
        "doc_id", F.col("phash").alias("simhash")
    )
    return _banded_hamming_pairs(sig)


# --------------------------------------------------------------------------
# Audio fingerprint near-dup: frame-energy-delta signature over decoded
# WAV PCM + the same banded Hamming blocking — the AUDIO twin of
# image_phash_neardup, completing the multimodal near-dup family
# (text simhash / image aHash / audio fingerprint all share one
# 60-bit banding contract).
# --------------------------------------------------------------------------

#: fingerprint geometry: 61 equal-span frames over the PCM stream
#: (frame of sample i is ⌊i·61/n⌋; every frame is nonempty because
#: n ≥ 100 > 61 by the WAV geometry), INTEGER per-frame energy Σ|s|,
#: and bit j of the 60-bit signature set when E[j+1] > E[j] — the
#: energy-DELTA sign, the Chromaprint/Shazam-class temporal feature
#: (robust to global gain, unlike the image op's mean threshold).
#: Strict integer > on integer sums: the engines cannot disagree on a
#: boundary, no rounding pair needed.
_AUDIO_FRAMES = _PHASH_BITS + 1


def _wav_fingerprint_parse(b: bytes) -> int:
    """Decode a WAV payload's PCM samples via the SHARED
    :func:`_wav_header_walk` (one validating walk for both readers)
    and fold them into the 60-bit
    energy-delta fingerprint."""
    import numpy as np

    _rate, n = _wav_header_walk(b)
    if n < _AUDIO_FRAMES:
        raise ValueError("too few samples to frame")
    s = np.frombuffer(b, dtype="<i2", offset=_WAV_HDR, count=n).astype(np.int64)
    fr = (np.arange(n, dtype=np.int64) * _AUDIO_FRAMES) // n
    # bincount accumulates in float64 — exact here (|s| ≤ 32768, frame
    # length ≤ 9 ⇒ energies < 2^19 ≪ 2^53), then back to int64 so the
    # delta compare is the integer compare the oracle replays
    fe = np.bincount(fr, weights=np.abs(s), minlength=_AUDIO_FRAMES).astype(np.int64)
    bits = (fe[1:] > fe[:-1]).astype(np.int64)
    return int((bits << np.arange(_PHASH_BITS, dtype=np.int64)).sum())


def _wav_fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: encode each doc's certified WAV payload and
    parse it straight back into the fingerprint — hash computed from
    the DECODED BYTES; the oracle re-derives each sample from the
    md5-hex cycle arithmetic instead (neither side sees the other's
    path)."""
    for pdf in batches:
        rows = [
            (int(doc_id), _wav_fingerprint_parse(_wav_encode(int(doc_id), hx)))
            for doc_id, hx in zip(pdf["doc_id"], pdf["hx"])
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "afp"])


@query(
    "audio_fingerprint_neardup",
    oracle=f"""
    WITH geo AS (
      SELECT doc_id, md5(text) AS hx, 100 + doc_id % {_WAV_N_MOD} AS n
      FROM documents
    ),
    samp AS (
      SELECT doc_id, n, i,
             abs(ord(substr(hx, (2*i) % 32 + 1, 1))
                 + 256 * ord(substr(hx, (2*i+1) % 32 + 1, 1)) - 32768) AS e,
             CAST((i * {_AUDIO_FRAMES}) // n AS INT) AS fr
      FROM geo, unnest(generate_series(0, n - 1)) AS t(i)
    ),
    fe AS (
      SELECT doc_id, fr, SUM(e) AS energy FROM samp GROUP BY doc_id, fr
    ),
    sig AS (
      SELECT lo.doc_id,
             CAST(SUM(CASE WHEN hi.energy > lo.energy
                      THEN (1::BIGINT << lo.fr) ELSE 0 END) AS BIGINT) AS simhash
      FROM fe lo JOIN fe hi
        ON lo.doc_id = hi.doc_id AND hi.fr = lo.fr + 1
      GROUP BY lo.doc_id
    ){_BANDED_PAIRS_SQL_TAIL}""",
    tags=("multimodal",),
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-duplicate detection: energy-delta
    fingerprints over the decoded WAV corpus, paired by the same
    multi-band Hamming blocking as `text_simhash` and
    `image_phash_neardup` — the multimodal near-dup family closed over
    its third modality by composing two certified primitives
    (`multimodal_wav_decode`'s byte-level parser lineage;
    `dedup._simhash_bands` + its hot-bucket cap, constants shared so
    the pigeonhole guarantee carries verbatim: any pair within
    Hamming ≤ 4 of 60 bits shares an intact 12-bit band).

    The signature is the SIGN OF THE FRAME-ENERGY DELTA (61 equal-span
    frames, Σ|s| per frame, bit j ⇔ E[j+1] > E[j]) — the temporal
    feature real audio fingerprinters (Chromaprint, Shazam-class
    systems) build on, gain-robust where a mean threshold is not. All
    sums and compares are integer, so the engines cannot disagree on a
    boundary.

    Certification is independent: Spark hashes the DECODED payload
    bytes (encode → header walk → np.frombuffer → bincount); DuckDB
    never sees a byte — it re-derives each PCM sample from the md5-hex
    cycle arithmetic and the doc_id geometry, then replays framing and
    banding in integer SQL.

    Scale shape: identical plan family to `image_phash_neardup` —
    one Arrow-batched mapInPandas for the hashes (shuffle-free at
    production split counts; locally behind the measured bench-only
    fan-out below), banding
    explodes ×5 inside codegen, candidates from equi-joins on
    (band, key) behind the broadcast hot-bucket filter (never a cross
    product), Hamming verify is a bit_count on two longs. The 16-char
    md5-cycle waveform makes signatures correlated, so the bucket cap
    is load-bearing at THIS scale too, exactly like the image op."""
    d = load(spark, sf_dir, "documents")
    # fan-out PAYS here: the per-doc Python sample loop is heavy
    # enough (interleaved min-of-3 at sf0.1: 1.14 single vs 0.95
    # spread — unlike the cheaper image aHash, where it measured
    # slower)
    src = _hashed_src(d, spark, fan_out=True)
    sig = src.mapInPandas(_wav_fingerprint, schema="doc_id long, afp long").select(
        "doc_id", F.col("afp").alias("simhash")
    )
    return _banded_hamming_pairs(sig)


# --------------------------------------------------------------------------
# Video: a real Y4M (YUV4MPEG2) multi-frame container + the FRAME-SAMPLE
# operation — decode, nearest-neighbor-sample K frames, integer
# per-frame byte sums and a motion proxy. Completes the multimodal
# column family over its fourth modality (text / image / audio / video).
# --------------------------------------------------------------------------

#: frame-sample geometry: K sampled frames, sample j reads frame
#: ⌊j·n_frames/K⌋ (the same nearest-neighbor resample idiom as the
#: image aHash) — duplicates when n_frames < K are kept, deterministic.
#: (The Y4M container geometry constants live above the magic-dispatch
#: section, whose oracle interpolates them at module load.)
_VIDEO_SAMPLES = 4


def _y4m_encode(doc_id: int, hex_digest: str) -> bytes:
    """A real (ffmpeg-openable) YUV4MPEG2 stream: ASCII stream header,
    then per-frame ``FRAME\\n`` markers + raw C444 planes. Plane bytes
    come from the md5-hex digest's ASCII codes, cycled with a per-frame
    rotation — so the oracle can replay every byte without seeing one."""
    w = 4 + doc_id % _Y4M_W_MOD
    h = 4 + doc_id % _Y4M_H_MOD
    nf = 2 + doc_id % _Y4M_NF_MOD
    src = hex_digest.encode("ascii")  # 32 bytes, pure ASCII
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode("ascii"))
    fb = 3 * w * h
    for f in range(nf):
        out += b"FRAME\n"
        # byte i of frame f is src[(i + f·OFF) % 32]: a C-speed slice
        # of the repeated digest starting at the rotation point —
        # equality with the per-byte form is pinned by the closed-form
        # tests
        r = (f * _Y4M_FRAME_OFF) % 32
        out += (src * ((r + fb) // 32 + 1))[r : r + fb]
    return bytes(out)


def _y4m_header(b: bytes) -> tuple[int, int, int, int]:
    """Parse the stream header of the writer's Y4M profile (C444, plain
    FRAME markers): returns (w, h, frame_bytes, data_start). Malformed
    headers raise ValueError. ONE definition shared by the frame
    sampler and the magic dispatch's stream decode (two header walks
    would drift on any profile change).

    Dimension bodies must be CANONICAL positive decimals — the
    Hypothesis patrol (tests/test_llm_ops.py::test_y4m_header_fuzz)
    shows the truthiness guard alone accepts 'W-1 H-6' (both negative,
    frame_bytes positive), and bare
    int() admits Python-only spellings ('W1_0' → 10, 'W+2' → 2)
    no Y4M writer emits — so junk would classify as y4m instead of falling
    to the dispatch's opaque quarantine. isdigit() + a nonzero check
    rejects signs, underscores, and empty bodies in one gate (the
    ascii decode above it already excludes the non-ASCII digit
    spellings where isdigit and int() disagree)."""
    nl = b.index(b"\n")
    parts = b[:nl].decode("ascii").split(" ")
    if parts[0] != "YUV4MPEG2":
        raise ValueError("not a Y4M payload")
    w = h = None
    for p in parts[1:]:
        if p.startswith("W") or p.startswith("H"):
            if not p[1:].isdigit():
                raise ValueError("malformed dimension field")
            if p.startswith("W"):
                w = int(p[1:])
            else:
                h = int(p[1:])
        elif p.startswith("C") and p != "C444":
            raise ValueError("unsupported colorspace")
    if not w or not h:
        raise ValueError("missing or zero dimensions")
    return w, h, 3 * w * h, nl + 1


def _y4m_stream_parse(b: bytes) -> tuple[int, int, int, int, float]:
    """Whole-stream decode for the magic dispatch:
    walk every frame and aggregate ALL plane bytes — returns (w, h,
    n_frames, file_size, plane-byte mean with round_cmp's pinned
    tie-break). Each frame's planes are summed as one C-speed
    bytes-slice sum — no per-byte Python, which would dominate the
    cost."""
    import math

    w, h, fb, pos = _y4m_header(b)
    nf = 0
    total = 0
    while pos < len(b):
        if b[pos : pos + 6] != b"FRAME\n":
            raise ValueError("bad frame marker")
        pos += 6
        if pos + fb > len(b):
            raise ValueError("truncated frame")
        total += sum(b[pos : pos + fb])
        pos += fb
        nf += 1
    if nf == 0:
        raise ValueError("no frames")
    mean = total / (nf * fb)
    return w, h, nf, len(b), math.floor(round(mean, 7) * 10000.0 + 0.5) / 10000.0


def _y4m_frame_sample_parse(
    b: bytes,
) -> tuple[int, int, int, int, list[int], int]:
    """Parse the Y4M headers back (via the shared ``_y4m_header``),
    walk every frame, and compute the frame-sample features: integer
    byte sums of the K sampled frames plus the motion proxy (sum of
    |Δ| between consecutive sampled sums)."""
    w, h, fb, pos = _y4m_header(b)
    frames = []
    while pos < len(b):
        if b[pos : pos + 6] != b"FRAME\n":
            raise ValueError("bad frame marker")
        pos += 6
        if pos + fb > len(b):
            raise ValueError("truncated frame")
        frames.append(b[pos : pos + fb])
        pos += fb
    nf = len(frames)
    if nf == 0:
        raise ValueError("no frames")
    sums = [
        sum(frames[(j * nf) // _VIDEO_SAMPLES]) for j in range(_VIDEO_SAMPLES)
    ]
    motion = sum(abs(sums[k + 1] - sums[k]) for k in range(_VIDEO_SAMPLES - 1))
    return w, h, nf, len(b), sums, motion


#: schema and row layout are GENERATED from _VIDEO_SAMPLES, and the
#: oracle below interpolates the same K, so a retune cannot desync them
_VIDEO_SAMPLE_COLS = [f"s{j}" for j in range(_VIDEO_SAMPLES)]
_VIDEO_SAMPLED = (
    "doc_id long, width int, height int, n_frames int, n_bytes long, "
    + ", ".join(f"{c} long" for c in _VIDEO_SAMPLE_COLS)
    + ", motion long"
)


def _y4m_frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, hx in zip(pdf["doc_id"], pdf["hx"]):
            w, h, nf, nb, s, motion = _y4m_frame_sample_parse(
                _y4m_encode(int(doc_id), hx)
            )
            rows.append((int(doc_id), w, h, nf, nb, *s, motion))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "width", "height", "n_frames", "n_bytes"]
            + _VIDEO_SAMPLE_COLS
            + ["motion"],
        )


@query(
    "video_frame_sample",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, md5(text) AS hx,
             4 + doc_id % {_Y4M_W_MOD} AS w,
             4 + doc_id % {_Y4M_H_MOD} AS h,
             2 + doc_id % {_Y4M_NF_MOD} AS nf
      FROM documents
    ),
    geo AS (
      SELECT *, 3 * w * h AS fb,
             length('YUV4MPEG2 W' || w || ' H' || h || ' F25:1 Ip A1:1 C444') + 1
               AS hdr_len
      FROM g
    ),
    samp AS (
      SELECT doc_id, j, CAST((j * nf) // {_VIDEO_SAMPLES} AS INT) AS fr, hx, fb
      FROM geo, (SELECT unnest(generate_series(0, {_VIDEO_SAMPLES - 1})) AS j)
    ),
    sums AS (
      SELECT doc_id, j,
             (fb // 32) * list_aggregate(list_transform(generate_series(1, 32),
                            i -> ord(substr(hx, i, 1))), 'sum')
             + COALESCE(list_aggregate(list_transform(generate_series(0, (fb % 32) - 1),
                            i -> ord(substr(hx, ((i + fr * {_Y4M_FRAME_OFF}) % 32) + 1, 1))),
                        'sum'), 0) AS fsum
      FROM samp
    ),
    piv AS (
      SELECT doc_id,
             {", ".join(f"CAST(MAX(CASE WHEN j = {j} THEN fsum END) AS BIGINT) AS s{j}" for j in range(_VIDEO_SAMPLES))}
      FROM sums GROUP BY doc_id
    )
    SELECT geo.doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(hdr_len + nf * (6 + fb) AS BIGINT) AS n_bytes,
           {", ".join(_VIDEO_SAMPLE_COLS)},
           CAST({" + ".join(f"abs(s{j + 1} - s{j})" for j in range(_VIDEO_SAMPLES - 1))} AS BIGINT) AS motion
    FROM geo JOIN piv USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("multimodal",),
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO decode + FRAME-SAMPLE — the fourth modality of the
    multimodal column family, and the frame-sampling operation a
    training-data pipeline runs on video blobs before feature
    extraction. Every document gets a real Y4M (YUV4MPEG2) payload —
    ASCII stream header, ``FRAME`` markers, raw C444 planes, openable
    by any player — which the op decodes byte-level and samples at
    4 nearest-neighbor frame positions (⌊j·n_frames/K⌋, the same
    resample idiom as the image aHash), emitting integer per-sample
    byte sums and the inter-sample motion proxy Σ|Δ| (the
    scene-change / static-clip signal). All sums and deltas are
    integers: the engines cannot disagree on a boundary.

    Certification is independent, like every op in this family: Spark
    walks the CONTAINER BYTES (encode → header parse → frame walk →
    byte sums); DuckDB never sees a byte — it replays each frame's
    rotated md5-hex cycle arithmetic (full 32-cycles are
    rotation-invariant; only the partial tail needs the per-frame
    offset) and the doc_id geometry formulas.

    Scale shape: one Arrow-batched mapInPandas over the corpus,
    embarrassingly parallel — shuffle-free at production split counts
    but the presentation sort (locally behind the measured bench-only
    fan-out below), identical plan family to `multimodal_wav_decode`.
    The plan is blob-count parallel; a real decoder (PyAV/ffmpeg) would
    slot into the batched UDF behind the same schema."""
    d = load(spark, sf_dir, "documents")
    # fan-out still pays, barely, after the C-speed encode rewrite
    # (interleaved min-of-3 at sf0.1: 0.55 single vs 0.48 spread; it
    # was 1.48 vs 0.74 with a per-byte Python loop)
    src = _hashed_src(d, spark, fan_out=True)
    return src.mapInPandas(_y4m_frame_sample, schema=_VIDEO_SAMPLED).orderBy(
        "doc_id"
    )
