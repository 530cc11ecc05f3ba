"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (the part that matters at 100 TB):
- media payloads are `binary` columns with a typed metadata struct
  (media_type, codec, width/height or sample_rate, n_bytes) — never
  parsed on the JVM side;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages: one Python worker per partition, whole Arrow
  record batches in, so per-row Python overhead is amortized;
- partitioning guidance: media rows are large — repartition by
  ``n_bytes`` ranges (or bucket by content hash) before mapInPandas so
  batches have bounded memory, and keep
  spark.sql.execution.arrow.maxRecordsPerBatch small (media rows ≫
  normal rows).

Decode honesty split:
- HEADER METADATA (image width/height/bit-depth, audio sample-rate/
  channels/bits-per-sample) is decoded FOR REAL with stdlib ``struct``
  alone — PNG IHDR and WAV fmt-chunk parsing need no media library
  (:func:`parse_media_header`, :func:`extract_media_meta`).
- PIXEL/SAMPLE content work (resize, spectrogram, frame decode) is
  STUBBED: this container has no PIL/librosa/ffmpeg. ``decode_stub``
  raises NotImplementedError for content decode of unrecognized bytes
  and provides a deterministic fake (content-hash-derived
  pseudo-features) so the Spark-side plumbing — schema, batching, UDF
  signature — is fully real and testable.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T
from ..functions.barrier import shared_cut

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),     # image | audio | video
    T.StructField("codec", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("byte_mean", T.DoubleType()),      # fake feature
    T.StructField("byte_entropy_q", T.IntegerType()),  # fake feature
])


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_media_header(payload: bytes) -> dict | None:
    """REAL header-metadata decode with stdlib ``struct`` only.

    - PNG: the IHDR chunk is mandatory and first (PNG spec §11.2.1):
      width/height as big-endian u32 at bytes 16..24, bit depth at 24.
      CRC is not verified — this extracts metadata, it does not validate
      archives.
    - WAV: RIFF container scan for the ``fmt `` chunk (not assumed to be
      first — LIST/INFO chunks legally precede it): little-endian
      channels (u16), sample rate (u32), bits-per-sample (u16), honoring
      RIFF's odd-size pad byte.
    - JPEG: marker-segment scan from SOI to the first SOF frame header
      (baseline 0xC0 … lossless 0xC3, progressive 0xC2; APPn/DQT/DHT
      segments are skipped by their big-endian lengths, scan stops at
      SOS/EOI): precision (u8), height then width as big-endian u16s
      (JPEG stores HEIGHT first — the classic transposition bug the
      planted fixture would catch).

    Returns None for unrecognized bytes (caller falls back to the
    deterministic fake path / 'unknown' metadata).
    """
    b = payload
    if len(b) >= 26 and b[:8] == PNG_SIG and b[12:16] == b"IHDR":
        width, height = struct.unpack(">II", b[16:24])
        return {"media_type": "image", "codec": "png",
                "width": width, "height": height,
                "sample_rate": None, "channels": None, "bit_depth": b[24]}
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        off = 2
        while off + 2 <= len(b) and b[off] == 0xFF:
            # runs of 0xFF fill bytes may legally pad any marker
            # (ITU T.81 §B.1.1.2) — skip to the last 0xFF of the run
            while off + 2 <= len(b) and b[off + 1] == 0xFF:
                off += 1
            if off + 2 > len(b):
                break                        # payload ends inside a fill run
            marker = b[off + 1]
            if marker in (0xD9, 0xDA) or marker == 0x00:
                break                        # EOI / SOS / stuffed-byte desync
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                off += 2                     # TEM / RSTn: standalone, no length
                continue
            if off + 4 > len(b):
                break
            (size,) = struct.unpack(">H", b[off + 2:off + 4])
            if 0xC0 <= marker <= 0xC3 and off + 9 <= len(b):
                precision = b[off + 4]
                height, width = struct.unpack(">HH", b[off + 5:off + 9])
                codec = {0xC0: "jpeg-baseline",
                         0xC2: "jpeg-progressive"}.get(marker, "jpeg")
                return {"media_type": "image", "codec": codec,
                        "width": width, "height": height,
                        "sample_rate": None, "channels": None,
                        "bit_depth": precision}
            off += 2 + size                  # length includes its 2 bytes
        return None
    if len(b) >= 3 and b[:2] == b"P5" and b[2:3].isspace():
        try:
            w, h, maxval, _ = _parse_pgm_header(b)
        except ValueError:
            return None
        return {"media_type": "image", "codec": "pgm",
                "width": w, "height": h, "sample_rate": None,
                "channels": None, "bit_depth": 8 if maxval < 256 else 16}
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        off = 12
        while off + 8 <= len(b):
            chunk_id = b[off:off + 4]
            (size,) = struct.unpack("<I", b[off + 4:off + 8])
            if chunk_id == b"fmt " and size >= 16 and off + 24 <= len(b):
                channels, sample_rate = struct.unpack(
                    "<HI", b[off + 10:off + 16])
                (bits,) = struct.unpack("<H", b[off + 22:off + 24])
                return {"media_type": "audio", "codec": "wav",
                        "width": None, "height": None,
                        "sample_rate": sample_rate, "channels": channels,
                        "bit_depth": bits}
            off += 8 + size + (size & 1)   # chunks are word-aligned
    return None


def decode_stub(payload: bytes, media_type: str, real: bool = False) -> dict:
    """Deterministic fake CONTENT decode. ``real=True`` first tries the
    stdlib header parse (:func:`parse_media_header`); pixel/sample work
    on unrecognized bytes still needs PIL/librosa/ffmpeg and raises."""
    if real:
        meta = parse_media_header(payload)
        if meta is not None:
            return {**meta, "n_bytes": len(payload)}
        raise NotImplementedError(
            "content decode of unrecognized media requires "
            "PIL/librosa/ffmpeg; not in this container")
    n = len(payload)
    s = sum(payload[:256])
    return {
        "n_bytes": n,
        "byte_mean": (s / min(n, 256)) if n else 0.0,
        "byte_entropy_q": (s % 17),
    }


def attach_media_meta(df: DataFrame, payload_col: str = "payload",
                      media_type: str = "image") -> DataFrame:
    """Typed metadata struct derived JVM-side (no Python) where possible."""
    return df.withColumn("media_meta", F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit("fake/raw").alias("codec"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.length(F.col(payload_col)).cast("long").alias("n_bytes")))


def extract_features(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The mapInPandas stage is the template for any real decoder: swap
    ``decode_stub`` for the codec call; schema/batching stay identical.
    """
    mt_col = "media_meta"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # null payloads (failed fetch, pruned column) degrade to
            # empty-payload features, never crash the batch
            feats = [decode_stub(b"" if p is None else
                                 (p if isinstance(p, (bytes, bytearray))
                                  else bytes(p)),
                                 (m or {}).get("media_type", "unknown"))
                     for p, m in zip(pdf[payload_col], pdf[mt_col])]
            media_types = [(m or {}).get("media_type", "unknown")
                           for m in pdf[mt_col]]
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "media_type": media_types,
                "n_bytes": [f["n_bytes"] for f in feats],
                "byte_mean": [f["byte_mean"] for f in feats],
                "byte_entropy_q": [f["byte_entropy_q"] for f in feats],
            })

    return df.mapInPandas(run, FEATURE_SCHEMA)


MEDIA_HEADER_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("bit_depth", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
])

_UNKNOWN_META = {"media_type": "unknown", "codec": None, "width": None,
                 "height": None, "sample_rate": None, "channels": None,
                 "bit_depth": None}


def extract_media_meta(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """REAL header-metadata extraction over binary payloads — the same
    Arrow-batched ``mapInPandas`` shape as :func:`extract_features`, but
    the decode is :func:`parse_media_header` (stdlib struct), not a fake.
    Unrecognized bytes degrade to media_type='unknown', never crash."""
    cols = [f.name for f in MEDIA_HEADER_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                meta = parse_media_header(b) or _UNKNOWN_META
                rows.append({"doc_id": int(did), **meta, "n_bytes": len(b)})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, MEDIA_HEADER_SCHEMA)


def _hex_be(col: Column, n_bytes: int) -> Column:
    """Fixed-width big-endian hex of a non-negative integral column."""
    return F.lpad(F.lower(F.hex(col.cast("bigint"))), 2 * n_bytes, "0")


def _hex_le(col: Column, n_bytes: int) -> Column:
    """Little-endian byte order: the big-endian hex with bytes reversed."""
    h = _hex_be(col, n_bytes)
    return F.concat(*[F.substring(h, 2 * i + 1, 2)
                      for i in reversed(range(n_bytes))])


def synthesize_planted_media(docs: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """Deterministic VALID media headers planted from doc_id — the
    oracle-checkable fixture for :func:`extract_media_meta`.

    Even ids are images (width = id%512+16, height = id%256+16, 8-bit):
    id%4==2 a PNG signature + IHDR chunk; id%4==0 a JPEG — SOI, a real
    JFIF APP0 segment (so the parser must SKIP a segment to reach the
    frame header), then SOF0 (or SOF2 when id%8==0 → progressive) with
    height-before-width per the JPEG spec, then EOI. Odd ids a
    RIFF/WAVE header with a 16-byte PCM fmt chunk (sample_rate = 8000 +
    (id%5)*8000, channels = 1 + (id/2)%2, 16-bit). All byte-assembly is
    JVM-side hex/unhex — the Python side only ever PARSES, so a
    struct-unpack bug cannot cancel itself out against the builder.
    """
    did = F.col(id_col)
    w, h = did % 512 + 16, did % 256 + 16
    png = F.concat(
        F.lit("89504e470d0a1a0a"),            # PNG signature
        F.lit("0000000d49484452"),            # IHDR length 13 + type
        _hex_be(w, 4), _hex_be(h, 4),
        F.lit("0802000000"),                  # bit depth 8, RGB, no interlace
        F.lit("00000000"))                    # CRC (not verified)
    jpg = F.concat(
        F.lit("ffd8"),                                   # SOI
        F.lit("ffe000104a46494600010100000100010000"),   # APP0/JFIF, len 16
        # a quarter of the baseline JPEGs (id%16==4) interleave a 0xFF
        # fill run, a standalone TEM and an RST2 before the frame header
        # — legal per T.81 and present in real crawls; the r7 scan fix
        # is thereby exercised by the CERTIFIED fixture, not only by
        # unit tests (adds 7 bytes, accounted in the n_bytes oracle);
        # id%16==12 keeps the plain baseline variant
        F.when(did % 16 == 4, F.lit("ffffffff01ffd2")).otherwise(F.lit("")),
        F.when(did % 8 == 0, F.lit("ffc2")).otherwise(F.lit("ffc0")),
        F.lit("001108"),                      # SOF length 17, precision 8
        _hex_be(h, 2), _hex_be(w, 2),         # HEIGHT first (JPEG spec)
        F.lit("03011100021101031101"),        # 3 YCbCr component specs
        F.lit("ffd9"))                        # EOI
    sr = F.lit(8000) + (did % 5) * 8000
    ch = F.lit(1) + (did / F.lit(2)).cast("bigint") % 2
    wav = F.concat(
        F.lit("52494646"), _hex_le(F.lit(36), 4), F.lit("57415645"),  # RIFF
        F.lit("666d7420"), _hex_le(F.lit(16), 4),                     # fmt
        _hex_le(F.lit(1), 2), _hex_le(ch, 2),                # PCM, channels
        _hex_le(sr, 4), _hex_le(sr * ch * 2, 4),             # rate, byterate
        _hex_le(ch * 2, 2), _hex_le(F.lit(16), 2))           # align, bits
    return docs.select(
        id_col,
        F.unhex(F.when(did % 4 == 2, png)
                 .when(did % 2 == 0, jpg)
                 .otherwise(wav)).alias("payload"))


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents fixture: payload =
    utf-8 bytes of text. Keeps every pipeline stage runnable in-container."""
    return attach_media_meta(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload")))


# --------------------------------------------------------------------------
# Perceptual hashing (dHash) over REAL-decoded grayscale images
# --------------------------------------------------------------------------

def _parse_pgm_header(b: bytes) -> tuple[int, int, int, int]:
    """Parse a binary-Netpbm (P5) header for REAL with stdlib only:
    'P5' then width, height, maxval as whitespace-separated ASCII ints
    ('#' comment lines legal between tokens per the Netpbm spec), then
    ONE whitespace byte before the raw pixel payload. Returns
    (width, height, maxval, pixel_offset); raises ValueError on
    malformed headers."""
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(b) and b[pos:pos + 1].isspace():
            pos += 1
        if b[pos:pos + 1] == b"#":                 # comment to end-of-line
            while pos < len(b) and b[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < len(b) and b[pos:pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("bad PGM header token")
        vals.append(int(b[start:pos]))
    if pos >= len(b) or not b[pos:pos + 1].isspace():
        raise ValueError("missing pixel-section separator")
    return vals[0], vals[1], vals[2], pos + 1


def decode_pgm(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, pixels) from a binary PGM — a REAL uncompressed-
    image decode needing no media library (maxval ≤ 255 only; the raw
    section must hold exactly w·h bytes)."""
    w, h, maxval, off = _parse_pgm_header(payload)
    if maxval > 255:
        raise NotImplementedError("16-bit PGM needs no consumers here")
    px = payload[off:off + w * h]
    if len(px) != w * h or w <= 0 or h <= 0:
        raise ValueError("truncated PGM payload")
    return w, h, px


# --------------------------------------------------------------------------
# baseline JPEG, DC-only subset: a REAL entropy-coded scan with stdlib only
# --------------------------------------------------------------------------
# The planted image family's second container format (the PGM path above
# decodes uncompressed pixels; crawl images are JPEG). Scope is the
# DC-ONLY subset of baseline sequential DCT (ITU T.81): grayscale, one
# component, 8-bit, no subsampling, every block's AC coefficients zero
# (EOB immediately after the DC code). Within that subset everything is
# the real format — marker segments, DQT/DHT/SOF0/SOS parsing, canonical
# Huffman coding, DC prediction, byte stuffing — and the DC-only inverse
# DCT is EXACT integer arithmetic (the IDCT of a lone F(0,0) is the
# constant F(0,0)/8 per sample), so decoded pixels are bit-reproducible
# and the DuckDB oracle can regenerate them arithmetically. Anything
# outside the subset (progressive, multi-component, nonzero AC, restart
# markers, 16-bit tables) raises NotImplementedError -> the Arrow stages
# drop the payload, same contract as every other decoder here.

# ITU T.81 Annex K.3.1 luminance DC table (lengths 1..16, then symbols)
_JPG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPG_DC_VALS = tuple(range(12))
# minimal AC table: the lone EOB symbol (run/size 0x00) at length 2 —
# a legal canonical table; the DC-only scan never emits another AC code
_JPG_AC_BITS = (0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPG_AC_VALS = (0x00,)
_JPG_Q0 = 8          # quant step for F(0,0): pixel = DC*8/8 + 128 exact


def _huff_canonical(bits: tuple[int, ...], vals: tuple[int, ...]):
    """Canonical Huffman assignment (T.81 C.2): {symbol: (code, len)}."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit packer with JPEG byte stuffing (0xFF -> 0xFF 0x00)
    and the spec's 1-fill to the final byte boundary (F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self._acc, self._n = 0, 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:
                    self.out.append(0x00)
                self._acc, self._n = 0, 0

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def encode_dc_only_jpeg(w: int, h: int, dcs: list[int]) -> bytes:
    """Assemble a VALID baseline JPEG whose blocks are the constants
    ``dc + 128`` — one quantized DC coefficient per 8x8 block in raster
    order, AC all zero. The planted-fixture builder (the decoder below
    never shares this bit-packing logic)."""
    import struct as st

    bw, bh = (w + 7) // 8, (h + 7) // 8
    if len(dcs) != bw * bh:
        raise ValueError("need one DC per 8x8 block")
    dc_codes = _huff_canonical(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _huff_canonical(_JPG_AC_BITS, _JPG_AC_VALS)
    out = bytearray(b"\xff\xd8")                                   # SOI
    out += b"\xff\xdb" + st.pack(">H", 67) + b"\x00" + bytes([_JPG_Q0] * 64)
    out += (b"\xff\xc0" + st.pack(">H", 11) + b"\x08"              # SOF0
            + st.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0]))
    out += (b"\xff\xc4" + st.pack(">H", 2 + 17 + len(_JPG_DC_VALS)
                                  + 17 + len(_JPG_AC_VALS))        # DHT
            + b"\x00" + bytes(_JPG_DC_BITS) + bytes(_JPG_DC_VALS)
            + b"\x10" + bytes(_JPG_AC_BITS) + bytes(_JPG_AC_VALS))
    out += (b"\xff\xda" + st.pack(">H", 8) + b"\x01"               # SOS
            + bytes([1, 0x00]) + bytes([0, 63, 0]))
    wtr, prev = _BitWriter(), 0
    for dc in dcs:
        diff, prev = dc - prev, dc
        s = abs(diff).bit_length()
        code, ln = dc_codes[s]
        wtr.write(code, ln)
        if s:
            wtr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        code, ln = ac_codes[0x00]                                  # EOB
        wtr.write(code, ln)
    out += wtr.flush()
    out += b"\xff\xd9"                                             # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment, un-stuffing
    0xFF 0x00 and refusing markers mid-scan."""

    def __init__(self, b: bytes, pos: int):
        self.b, self.pos = b, pos
        self._acc, self._n = 0, 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.b):
                raise ValueError("scan truncated")
            byte = self.b[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.b):
                    raise ValueError("scan truncated at stuffing")
                nxt = self.b[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                elif 0xD0 <= nxt <= 0xD7:
                    raise NotImplementedError("restart markers unsupported")
                else:
                    raise ValueError("marker inside entropy scan")
            self._acc, self._n = byte, 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(rd: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | rd.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, pixels) from a DC-only grayscale baseline JPEG —
    a REAL subset decode with stdlib only: marker walk, DQT/DHT/SOF0/SOS
    parse, canonical Huffman DC decode with prediction, byte
    un-stuffing, exact integer DC-only IDCT (constant blocks), edge
    crop. NotImplementedError on legal-but-out-of-subset streams
    (progressive/multi-component/nonzero AC/16-bit tables/restarts);
    ValueError on malformed bytes — including segments whose declared
    lengths lie about their contents (short DHT symbol tables, missing
    quant tables, truncated SOF/SOS), which the fuzz sweep showed would
    otherwise leak IndexError/KeyError/struct.error out of the Arrow
    stage and kill the task on one corrupt crawl image."""
    try:
        return _decode_jpeg_gray(payload)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed JPEG segment: {e}") from e


def _decode_jpeg_gray(payload: bytes) -> tuple[int, int, bytes]:
    import struct as st

    b = payload
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, bytes] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    comp_q = 0
    off = 2
    while off + 4 <= len(b):
        if b[off] != 0xFF:
            raise ValueError("desynced marker stream")
        marker = b[off + 1]
        if marker == 0xD9:
            break
        (size,) = st.unpack(">H", b[off + 2:off + 4])
        seg = b[off + 4:off + 2 + size]
        if marker == 0xDB:                                         # DQT
            p = 0
            while p < len(seg):
                if seg[p] >> 4:
                    raise NotImplementedError("16-bit quant tables")
                qt[seg[p] & 0x0F] = seg[p + 1:p + 65]
                p += 65
        elif marker == 0xC4:                                       # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0x0F
                bits = seg[p + 1:p + 17]
                nsym = sum(bits)
                vals = seg[p + 17:p + 17 + nsym]
                tbl, code, k = {}, 0, 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        tbl[(ln, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(cls, tid)] = tbl
                p += 17 + nsym
        elif marker == 0xC0:                                       # SOF0
            if seg[0] != 8:
                raise NotImplementedError("non-8-bit precision")
            h, w = st.unpack(">HH", seg[1:5])
            if seg[5] != 1:
                raise NotImplementedError("multi-component JPEG")
            if seg[7] != 0x11:
                raise NotImplementedError("subsampled JPEG")
            comp_q = seg[8]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise NotImplementedError("non-baseline SOF")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals unsupported")
        elif marker == 0xDA:                                       # SOS
            if w is None or not qt or (0, seg[2] >> 4) not in huff:
                raise ValueError("SOS before SOF/DQT/DHT")
            dc_tbl = huff[(0, seg[2] >> 4)]
            ac_tbl = huff[(1, seg[2] & 0x0F)]
            q0 = qt[comp_q][0]
            rd = _BitReader(b, off + 2 + size)
            bw, bh = (w + 7) // 8, (h + 7) // 8
            import numpy as np
            img = np.empty((bh * 8, bw * 8), dtype=np.uint8)
            dc = 0
            for by in range(bh):
                for bx in range(bw):
                    s = _huff_decode(rd, dc_tbl)
                    if s:
                        v = rd.bits(s)
                        if v < (1 << (s - 1)):
                            v -= (1 << s) - 1
                        dc += v
                    if _huff_decode(rd, ac_tbl) != 0x00:
                        raise NotImplementedError(
                            "AC coefficients outside the DC-only subset")
                    val = dc * q0
                    # round half away from zero; exact when 8 | val
                    # (every planted block: q0 = 8)
                    mag = (abs(val) + 4) // 8
                    p = (mag if val >= 0 else -mag) + 128
                    img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = min(
                        255, max(0, p))
            return w, h, img[:h, :w].tobytes()
        off += 2 + size
    raise ValueError("no scan in JPEG")


# --------------------------------------------------------------------------
# PNG, 8-bit grayscale subset: REAL zlib inflate + filter reconstruction
# --------------------------------------------------------------------------
# The image family's THIRD container. Within the subset (8-bit, color
# type 0 grayscale, no interlace) everything is the real format: chunk
# walk with length/CRC framing, IDAT concatenation across chunks, zlib
# DEFLATE inflate (stdlib zlib — an actual compressed bitstream, unlike
# the uncompressed PGM path), and the per-scanline filter reconstruction
# of RFC 2083 §6 (None/Sub/Up/Average/Paeth — the planted builder cycles
# y % 5 through ALL FIVE so every image exercises every reconstruction
# branch). Outside the subset (16-bit, RGB/palette/alpha, Adam7) raises
# NotImplementedError → the Arrow stages drop the payload, the same
# contract as the JPEG decoder.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png_gray(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, pixels) from an 8-bit grayscale PNG — chunk walk,
    multi-chunk IDAT inflate, and exact filter reconstruction."""
    b = payload
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    off, w, h, idat = 8, None, None, bytearray()
    while off + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[off:off + 4])
        typ = b[off + 4:off + 8]
        data = b[off + 8:off + 8 + ln]
        if len(data) != ln:
            raise ValueError("truncated chunk")
        crc = b[off + 8 + ln:off + 12 + ln]
        if len(crc) != 4:
            raise ValueError("truncated chunk CRC")
        if zlib.crc32(typ + data) != struct.unpack(">I", crc)[0]:
            # a bit-flipped but well-framed IHDR/IDAT must drop, not
            # decode to wrong pixels — same strictness as the tar
            # walker's checksum contract
            raise ValueError(f"PNG chunk CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            if ln != 13:
                raise ValueError("bad IHDR length")
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8 or color != 0:
                raise NotImplementedError(
                    "only 8-bit grayscale PNG has consumers here")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            if inter != 0:
                raise NotImplementedError("Adam7 interlace unsupported")
            if w == 0 or h == 0 or w * h > (1 << 26):
                # zero-area is malformed; a forged IHDR claiming a
                # multi-gigapixel canvas would turn the inflate cap
                # below into an unbounded allocation
                raise ValueError("implausible PNG dimensions")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        off += 12 + ln                      # len + type + data + crc
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    try:
        # cap inflation at the expected pixel payload: a forged IHDR or
        # a zip-bomb IDAT must not allocate unbounded memory inside an
        # executor — anything past (w+1)*h is malformed either way
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), (w + 1) * h + 1)
    except zlib.error as e:
        # zlib.error is NOT a ValueError: uncaught it would kill the
        # whole Arrow stage on one corrupt crawl image instead of
        # dropping the row (the extract_media_meta IndexError lesson)
        raise ValueError(f"corrupt DEFLATE stream: {e}") from e
    if len(raw) != (w + 1) * h:
        raise ValueError("inflated size mismatch")
    out, prev = bytearray(), bytes(w)
    for y in range(h):
        ft = raw[y * (w + 1)]
        line = bytearray(raw[y * (w + 1) + 1:(y + 1) * (w + 1)])
        if ft == 0:
            pass
        elif ft == 1:                       # Sub
            for x in range(1, w):
                line[x] = (line[x] + line[x - 1]) & 255
        elif ft == 2:                       # Up
            for x in range(w):
                line[x] = (line[x] + prev[x]) & 255
        elif ft == 3:                       # Average
            for x in range(w):
                a = line[x - 1] if x else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 255
        elif ft == 4:                       # Paeth
            for x in range(w):
                a = line[x - 1] if x else 0
                up = prev[x]
                c = prev[x - 1] if x else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else \
                    (up if pb <= pc else c)
                line[x] = (line[x] + pr) & 255
        else:
            raise ValueError("invalid filter type")
        out += line
        prev = bytes(line)
    return w, h, bytes(out)


def synthesize_planted_png(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID 8-bit grayscale PNGs planted from doc_id
    — real chunk framing with CRCs, a real DEFLATE stream, and forward
    filtering that cycles y % 5 through all five filter types, so the
    query-side reconstruction exercises every branch on every image.
    Builder and decoder share no unpacking logic, and the DuckDB oracle
    regenerates pixels from the md5 formula — a filter-math bug pair
    cannot cancel out. Arrow-batched and repartitioned first."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                page = did // 2
                w, h = PGM_W, PGM_H
                rows = [[_planted_png_pixel(page, x, y, did)
                         for x in range(w)] for y in range(h)]
                raw = bytearray()
                prev = [0] * w
                for y in range(h):
                    cur, ft = rows[y], y % 5
                    raw.append(ft)
                    for x in range(w):
                        a = cur[x - 1] if x else 0
                        up = prev[x]
                        c = prev[x - 1] if x else 0
                        if ft == 0:
                            enc = cur[x]
                        elif ft == 1:
                            enc = cur[x] - a
                        elif ft == 2:
                            enc = cur[x] - up
                        elif ft == 3:
                            enc = cur[x] - ((a + up) >> 1)
                        else:
                            p = a + up - c
                            pa, pb, pc = (abs(p - a), abs(p - up),
                                          abs(p - c))
                            pr = a if (pa <= pb and pa <= pc) else \
                                (up if pb <= pc else c)
                            enc = cur[x] - pr
                        raw.append(enc & 255)
                    prev = cur
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
                payload = (_PNG_SIG + chunk(b"IHDR", ihdr)
                           + chunk(b"IDAT", zlib.compress(bytes(raw)))
                           + chunk(b"IEND", b""))
                ids.append(did)
                payloads.append(payload)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.select(id_col).mapInPandas(run, schema)


def planted_png_dhash_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_dhash` over the planted PNG
    fixture — the PGM oracle's cell-sum shape with the 'p:'-salted
    pixel formula; never touches bytes (inflate or filter bugs on the
    Spark side hash-mismatch)."""
    px = _PNG_PX_DUCK.format(page=f"({id_col} // 2)", x="px.x", y="px.y",
                             did=id_col)
    return f"""
    WITH cells AS (
      SELECT {id_col}, g.cx, g.cy, SUM({px}) AS s
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {PGM_W * PGM_H - 1}))
                    AS i) n,
           LATERAL (SELECT n.i % {PGM_W} AS x, n.i // {PGM_W} AS y) px,
           LATERAL (SELECT px.x // 2 AS cx, px.y // 2 AS cy) g
      GROUP BY {id_col}, g.cx, g.cy
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.s > b.s
                    THEN CAST(pow(2, a.cy * 10 + a.cx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM cells a JOIN cells b
      ON a.{id_col} = b.{id_col} AND a.cy = b.cy AND b.cx = a.cx + 1
    WHERE a.cx < 10
    GROUP BY a.{id_col}
    """


# --------------------------------------------------------------------------
# GIF, grayscale-palette subset: REAL LZW decode (the image family's
# FOURTH container, and its second real decompressor after DEFLATE)
# --------------------------------------------------------------------------
# Within the subset (global grayscale color table, single full-frame
# non-interlaced image) everything is the real format per the GIF89a
# spec: logical screen descriptor, color-table walk, extension-block
# skipping, sub-block reassembly, and a genuine variable-width LZW
# bitstream (LSB-first packing, CLEAR/END codes, dictionary growth with
# the spec's code-width schedule, 12-bit cap). Outside the subset
# (local color tables, interlace, color palettes, subimages) raises
# NotImplementedError → the Arrow stages drop the row, the same
# contract as JPEG/PNG.

def _lzw_decode(data: bytes, min_code: int, max_pixels: int) -> bytes:
    """GIF-variant LZW: variable code width from ``min_code + 1`` up to
    12 bits, LSB-first bit packing, CLEAR resets the table, END
    terminates. The decoder's width grows one code EARLIER than the
    table-size check suggests (when next_code reaches max_code - 1):
    the encoder registers each new string one code ahead of the
    decoder, so this is the schedule that keeps both sides bit-synced —
    the classic GIF off-by-one. Raises ValueError on truncation, codes
    out of range, or output overrun (zip-bomb guard)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    nbits = len(data) * 8
    # table entries as full bytes (not prefix-code chains): simpler and
    # fine because the output is capped at max_pixels anyway
    table: list = [bytes([i]) for i in range(clear)] + [None, None]
    width = min_code + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    while True:
        if bitpos + width > nbits:
            raise ValueError("truncated LZW stream")
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [None, None]
            width = min_code + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise ValueError("first LZW code is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if entry is None:
                raise ValueError("LZW code references CLEAR/END slot")
        elif code == len(table):
            entry = prev + prev[:1]          # the cScSc case
        else:
            raise ValueError("LZW code out of range")
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
        out += entry
        if len(out) > max_pixels:
            raise ValueError("LZW output overruns the pixel count")
        prev = entry


def _lzw_encode(idx: bytes, min_code: int) -> bytes:
    """GIF-variant LZW compressor for the planted builder — real greedy
    longest-match with dictionary growth (NOT the fixed-width
    'uncompressed GIF' trick, so the decoder's growth/cScSc paths are
    on the certified path). The emit width is not the encoder's own
    table state but an explicit SIMULATION of the decoder's: the
    decoder appends an entry on every data code after the first —
    including the encoder's final wbuf flush, which registers nothing —
    so deriving width from the encoder's next_code desyncs exactly at
    growth boundaries. Tracking (dec_len, first) mirrors
    :func:`_lzw_decode` bit for bit."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    bits = bytearray()
    bitpos = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitpos
        need = (bitpos + width + 7) >> 3
        while len(bits) < need:
            bits.append(0)
        v = int.from_bytes(bits[bitpos >> 3:(bitpos >> 3) + 3], "little")
        v |= code << (bitpos & 7)
        bits[bitpos >> 3:(bitpos >> 3) + 3] = v.to_bytes(3, "little")
        bitpos += width

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    dec_len, width, first = clear + 2, min_code + 1, True

    def after_data_code() -> None:
        nonlocal dec_len, width, first
        if first:
            first = False
            return
        dec_len += 1
        if dec_len >= (1 << width) - 1 and width < 12:
            width += 1

    emit(clear, width)
    wbuf = b""
    for ch in idx:
        nxt = wbuf + bytes([ch])
        if nxt in table:
            wbuf = nxt
            continue
        emit(table[wbuf], width)
        after_data_code()
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
        else:                                # table full: reset both sides
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            dec_len, width, first = clear + 2, min_code + 1, True
        wbuf = bytes([ch])
    if wbuf:
        emit(table[wbuf], width)
        after_data_code()
    emit(end, width)
    return bytes(bits[:(bitpos + 7) >> 3])


def decode_gif_gray(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, pixels) from a grayscale-palette GIF — header,
    screen descriptor, color-table walk, extension skip, sub-block
    reassembly, real LZW inflate, palette mapping."""
    b = payload
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(b) < 13:
        raise ValueError("truncated screen descriptor")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    if w == 0 or h == 0 or w * h > (1 << 26):
        raise ValueError("implausible GIF dimensions")
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table")
    n_colors = 2 << (packed & 7)
    off = 13
    gct = b[off:off + 3 * n_colors]
    if len(gct) < 3 * n_colors:
        raise ValueError("truncated color table")
    pal = []
    for i in range(n_colors):
        r, g, bl = gct[3 * i:3 * i + 3]
        if r != g or g != bl:
            raise NotImplementedError("non-grayscale GIF palette")
        pal.append(r)
    off += 3 * n_colors
    while True:
        if off >= len(b):
            raise ValueError("no image descriptor")
        marker = b[off]
        if marker == 0x2C:
            break
        if marker == 0x21:                   # extension: label + blocks
            off += 2
            while True:
                if off >= len(b):
                    raise ValueError("truncated extension block")
                sz = b[off]
                off += 1 + sz
                if sz == 0:
                    break
        elif marker == 0x3B:
            raise ValueError("trailer before any image")
        else:
            raise ValueError("unknown GIF block marker")
    if off + 10 > len(b):
        raise ValueError("truncated image descriptor")
    left, top, iw, ih, ipacked = struct.unpack("<HHHHB", b[off + 1:off + 10])
    if ipacked & 0x80:
        raise NotImplementedError("local color tables unsupported")
    if ipacked & 0x40:
        raise NotImplementedError("interlaced GIF unsupported")
    if (left, top, iw, ih) != (0, 0, w, h):
        raise NotImplementedError("subimage frames unsupported")
    off += 10
    if off >= len(b):
        raise ValueError("missing LZW minimum code size")
    min_code = b[off]
    off += 1
    if not 2 <= min_code <= 8:
        raise ValueError("invalid LZW minimum code size")
    data = bytearray()
    while True:
        if off >= len(b):
            raise ValueError("unterminated image data")
        sz = b[off]
        off += 1
        if sz == 0:
            break
        blk = b[off:off + sz]
        if len(blk) != sz:
            raise ValueError("truncated image sub-block")
        data += blk
        off += sz
    idx = _lzw_decode(bytes(data), min_code, w * h)
    if len(idx) != w * h:
        raise ValueError("decoded pixel count mismatch")
    if max(idx) >= n_colors:
        raise ValueError("palette index out of range")
    return w, h, bytes(pal[i] for i in idx)


def decode_bmp_gray(payload: bytes) -> tuple[int, int, bytes]:
    """REAL 8-bit palette BMP decode (BITMAPINFOHEADER): 14-byte file
    header (data offset at byte 10), 40-byte DIB header validated field
    by field (planes=1, bpp=8, BI_RGB only — RLE and other depths raise
    the drop-class NotImplementedError), a BGRA palette mapped to gray
    (entries must be achromatic, B=G=R), rows padded to 4-byte
    boundaries and stored BOTTOM-UP when height is positive / top-down
    when negative — the two layout rules naive readers get wrong.
    Returns (w, h, pixels) top-down like every other decoder here."""
    b = payload
    if b[:2] != b"BM" or len(b) < 54:
        raise ValueError("not a BMP or truncated file header")
    data_off = struct.unpack("<I", b[10:14])[0]
    dib, w, h_raw, planes, bpp = struct.unpack("<IiihH", b[14:30])
    compression = struct.unpack("<I", b[30:34])[0]
    if dib < 40:
        raise ValueError("pre-BITMAPINFOHEADER DIB unsupported")
    if planes != 1:
        raise ValueError("bad plane count")
    if compression != 0:
        raise NotImplementedError("compressed BMP unsupported")
    if bpp != 8:
        raise NotImplementedError(f"{bpp}-bpp BMP unsupported")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0 or w * h > 1 << 24:
        raise ValueError("bad BMP dimensions")
    n_colors = struct.unpack("<I", b[46:50])[0] or 256
    pal_off = 14 + dib
    pal_end = pal_off + 4 * n_colors
    if pal_end > len(b) or data_off < pal_end:
        raise ValueError("truncated or overlapping palette")
    pal = []
    for i in range(n_colors):
        blue, green, red = b[pal_off + 4 * i:pal_off + 4 * i + 3]
        if not (blue == green == red):
            raise ValueError("non-grayscale palette entry")
        pal.append(blue)
    stride = (w + 3) & ~3
    if data_off + stride * h > len(b):
        raise ValueError("truncated BMP pixel data")
    rows = []
    for r in range(h):
        src = r if top_down else h - 1 - r
        line = b[data_off + src * stride:data_off + src * stride + w]
        rows.append(bytes(pal[i] for i in line))
    return w, h, b"".join(rows)


def decode_ppm_luma(payload: bytes) -> tuple[int, int, bytes]:
    """REAL color decode: binary PPM (P6, maxval ≤ 255) → ITU-R BT.601
    integer luma ((299R + 587G + 114B) // 1000) — the COLOR member of
    the image family. Every other decoder here is grayscale-native;
    crawl images are RGB, and hashing them requires a defined,
    bit-reproducible luma reduction, not a library's float matmul.
    Same Netpbm header walk as PGM (comments legal, one separator
    byte), 3 bytes per pixel."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM")
    w, h, maxval, off = _parse_pgm_header(payload)
    if maxval > 255:
        raise NotImplementedError("16-bit PPM needs no consumers here")
    px = payload[off:off + 3 * w * h]
    if len(px) != 3 * w * h or w <= 0 or h <= 0:
        raise ValueError("truncated PPM payload")
    return w, h, bytes(
        (299 * px[3 * i] + 587 * px[3 * i + 1] + 114 * px[3 * i + 2])
        // 1000 for i in range(w * h))


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Format-dispatching grayscale pixel decode: binary PGM, the
    DC-only baseline-JPEG subset, 8-bit grayscale PNG, grayscale-
    palette GIF, 8-bit palette BMP, or color PPM via BT.601 luma. The
    image-family operators hash all six container formats through this
    single entry point."""
    if payload[:2] == b"P5":
        return decode_pgm(payload)
    if payload[:2] == b"P6":
        return decode_ppm_luma(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_gray(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png_gray(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_gray(payload)
    if payload[:2] == b"BM":
        return decode_bmp_gray(payload)
    raise ValueError("unrecognized image container")


def dhash_int(w: int, h: int, px: bytes, hash_w: int = 10,
              hash_h: int = 6) -> int:
    """Difference hash over an area-downscaled grayscale image — in PURE
    integer arithmetic, so the value is bit-reproducible anywhere.

    The image is partitioned into a (hash_w+1) × hash_h grid with floor
    boundaries (col x covers [x·w/(hash_w+1), (x+1)·w/(hash_w+1))); bit
    (y·hash_w + x) is 1 iff the mean of cell (x, y) exceeds the mean of
    cell (x+1, y). Means are compared by integer cross-multiplication
    (sum_a·area_b > sum_b·area_a) — no float ever enters, so unequal
    cell areas still compare exactly. 10×6 = 60 bits, exactly the shape
    :func:`dedup.simhash_pairs`'s 4×15-bit pigeonhole banding expects.
    """
    import numpy as np

    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w).astype(np.int64)
    gx, gy = hash_w + 1, hash_h
    xb = [x * w // gx for x in range(gx + 1)]
    yb = [y * h // gy for y in range(gy + 1)]
    sums = np.empty((gy, gx), dtype=np.int64)
    areas = np.empty((gy, gx), dtype=np.int64)
    for y in range(gy):
        for x in range(gx):
            block = a[yb[y]:yb[y + 1], xb[x]:xb[x + 1]]
            sums[y, x] = int(block.sum())
            areas[y, x] = block.size
    out = 0
    for y in range(gy):
        for x in range(hash_w):
            if sums[y, x] * areas[y, x + 1] > sums[y, x + 1] * areas[y, x]:
                out |= 1 << (y * hash_w + x)
    return out


PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("simhash", T.LongType()),      # named for simhash_pairs
])


def image_dhash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): 60-bit perceptual dHash per image — the same
    Arrow ``mapInPandas`` stage as :func:`extract_media_meta`, decoding
    PGM and DC-only-JPEG payloads for real (:func:`decode_image`
    dispatches on the container magic). Undecodable payloads are dropped
    (a hash of garbage would poison the near-dup buckets). The output
    column is named ``simhash`` so :func:`dedup.simhash_pairs` banding
    applies unchanged — the multimodal member of the dedup family."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                try:
                    w, h, px = decode_image(b)
                except (ValueError, NotImplementedError):
                    continue
                ids.append(int(did))
                hashes.append(dhash_int(w, h, px))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "simhash": pd.Series(hashes, dtype="int64")})

    return df.mapInPandas(run, PHASH_SCHEMA)


# planted 22×12 pixels: md5-derived base value per (page, x, y) — the
# repo's deterministic-coin pattern (sampling.hash_unit), because any
# POLYNOMIAL-mod formula leaves the hash a function of the base modulo a
# small period, collapsing distinct pages onto identical images (first
# drafts: a linear formula hashed EVERY page identically → 7k pairs from
# 500 docs; a squared one still yielded only 154 distinct hashes). With
# iid-uniform pixels, cross-page hamming concentrates near 30/60 bits —
# never inside the gate. Odd ids perturb ONE pixel by +40: one cell sum
# moves, flipping at most its two adjacent-compare bits, so each
# (2k, 2k+1) pair is a planted near-duplicate within hamming ≤ 2.
PGM_W, PGM_H = 22, 12
# odd ids brighten ONE whole 2×2 downscale cell by +40/px (+160 to the
# cell sum — enough to usually flip its two adjacent-compare bits; a
# single-pixel +40 left ~80% of pairs at hamming 0, under-exercising the
# nonzero-distance path). x//2 is spelled (x - x%2)/2-free so the ONE
# text parses in both dialects.
_PERTURB = (" + (CASE WHEN ({did}) % 2 = 1"
            " AND ({x}) - ({x}) % 2 = 2 * (({page}) % 11)"
            " AND ({y}) - ({y}) % 2 = 2 * (({page}) % 6)"
            " THEN 40 ELSE 0 END)")
# first 8 md5 hex chars of 'page:x:y' → 32-bit int, mod 180, +20: 20..199
_PGM_PX_SPARK = ("(CAST(conv(substring(md5(CAST({page} AS STRING) || ':'"
                 " || CAST({x} AS STRING) || ':' || CAST({y} AS STRING)),"
                 " 1, 8), 16, 10) AS BIGINT) % 180 + 20)" + _PERTURB)
_PGM_PX_DUCK = ("(CAST(('0x' || substr(md5(CAST({page} AS VARCHAR) || ':'"
                " || CAST({x} AS VARCHAR) || ':' || CAST({y} AS VARCHAR)),"
                " 1, 8))::UBIGINT AS BIGINT) % 180 + 20)" + _PERTURB)


def _planted_png_pixel(page: int, x: int, y: int, did: int) -> int:
    """Python spelling of the PNG planting formula — the PGM formula
    with a 'p:' salt (disjoint key space), same one-pixel odd-id
    perturbation (+40 at a 2×2-cell-aligned position)."""
    v = int(hashlib.md5(f"p:{page}:{x}:{y}".encode()).hexdigest()[:8],
            16) % 180 + 20
    if (did % 2 == 1 and x - x % 2 == 2 * (page % 11)
            and y - y % 2 == 2 * (page % 6)):
        v += 40
    return v


_PNG_PX_DUCK = ("(CAST(('0x' || substr(md5('p:' || CAST({page} AS VARCHAR)"
                " || ':' || CAST({x} AS VARCHAR) || ':'"
                " || CAST({y} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
                " % 180 + 20" + _PERTURB + ")")


def _planted_gif_pixel(page: int, x: int, y: int, did: int) -> int:
    """Python spelling of the GIF planting formula — the PGM formula
    with a 'g:' salt (disjoint key space), same one-cell odd-id
    perturbation."""
    v = int(hashlib.md5(f"g:{page}:{x}:{y}".encode()).hexdigest()[:8],
            16) % 180 + 20
    if (did % 2 == 1 and x - x % 2 == 2 * (page % 11)
            and y - y % 2 == 2 * (page % 6)):
        v += 40
    return v


_GIF_PX_DUCK = ("(CAST(('0x' || substr(md5('g:' || CAST({page} AS VARCHAR)"
                " || ':' || CAST({x} AS VARCHAR) || ':'"
                " || CAST({y} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
                " % 180 + 20" + _PERTURB + ")")


def synthesize_planted_gif(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID grayscale-palette GIFs planted from
    doc_id — logical screen descriptor, a 256-entry identity-ramp
    global color table, a graphic-control extension the reader must
    SKIP, and a REAL variable-width LZW stream (:func:`_lzw_encode` —
    greedy longest-match with dictionary growth, so the decoder's
    width-growth and cScSc paths run on every image; 264 pixels under a
    9-bit start width cross one growth boundary by construction).
    Builder and decoder share only the bit-schedule contract (pinned by
    an 8k-case round-trip fuzz test); the DuckDB oracle regenerates
    pixels from the 'g:'-salted md5 formula, never from bytes — an LZW
    bug on either side hash-mismatches."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    gct = bytes(v for i in range(256) for v in (i, i, i))
    gce = bytes([0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                page = did // 2
                w, h = PGM_W, PGM_H
                px = bytes(_planted_gif_pixel(page, x, y, did)
                           for y in range(h) for x in range(w))
                lsd = struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
                idesc = b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
                lzw = _lzw_encode(px, 8)
                sub = b"".join(
                    bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
                    for i in range(0, len(lzw), 255)) + b"\x00"
                payloads.append(b"GIF89a" + lsd + gct + gce + idesc
                                + bytes([8]) + sub + b"\x3B")
                ids.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.select(id_col).mapInPandas(run, schema)


def planted_gif_dhash_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_dhash` over the planted GIF
    fixture — the PGM oracle's cell-sum shape with the 'g:'-salted
    pixel formula; never touches bytes (an LZW or palette bug on the
    Spark side hash-mismatches)."""
    px = _GIF_PX_DUCK.format(page=f"({id_col} // 2)", x="px.x", y="px.y",
                             did=id_col)
    return f"""
    WITH cells AS (
      SELECT {id_col}, g.cx, g.cy, SUM({px}) AS s
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {PGM_W * PGM_H - 1}))
                    AS i) n,
           LATERAL (SELECT n.i % {PGM_W} AS x, n.i // {PGM_W} AS y) px,
           LATERAL (SELECT px.x // 2 AS cx, px.y // 2 AS cy) g
      GROUP BY {id_col}, g.cx, g.cy
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.s > b.s
                    THEN CAST(pow(2, a.cy * 10 + a.cx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM cells a JOIN cells b
      ON a.{id_col} = b.{id_col} AND a.cy = b.cy AND b.cx = a.cx + 1
    WHERE a.cx < 10
    GROUP BY a.{id_col}
    """


def _planted_bmp_pixel(page: int, x: int, y: int, did: int) -> int:
    """Python spelling of the BMP planting formula — the PGM formula
    with a 'b:' salt (disjoint key space), same one-cell odd-id
    perturbation."""
    v = int(hashlib.md5(f"b:{page}:{x}:{y}".encode()).hexdigest()[:8],
            16) % 180 + 20
    if (did % 2 == 1 and x - x % 2 == 2 * (page % 11)
            and y - y % 2 == 2 * (page % 6)):
        v += 40
    return v


_BMP_PX_DUCK = ("(CAST(('0x' || substr(md5('b:' || CAST({page} AS VARCHAR)"
                " || ':' || CAST({x} AS VARCHAR) || ':'"
                " || CAST({y} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
                " % 180 + 20" + _PERTURB + ")")


def synthesize_planted_bmp(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID 8-bit palette BMPs planted from doc_id —
    BITMAPFILEHEADER with the data offset, BITMAPINFOHEADER, a 256-entry
    identity-ramp grayscale palette, and BOTTOM-UP rows padded to 4-byte
    strides (the two layout rules :func:`decode_bmp_gray` must invert).
    Builder assembles bytes; the DuckDB oracle regenerates pixels from
    the 'b:'-salted md5 formula, never from bytes — a stride, palette,
    or row-order bug on the Spark side hash-mismatches."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    w, h = PGM_W, PGM_H
    stride = (w + 3) & ~3
    pal = bytes(v for i in range(256) for v in (i, i, i, 0))
    data_off = 14 + 40 + len(pal)
    file_hdr = b"BM" + struct.pack("<IHHI", data_off + stride * h,
                                   0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                      stride * h, 2835, 2835, 256, 0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                page = did // 2
                rows = []
                for y in range(h - 1, -1, -1):      # bottom-up storage
                    line = bytes(_planted_bmp_pixel(page, x, y, did)
                                 for x in range(w))
                    rows.append(line + b"\0" * (stride - w))
                payloads.append(file_hdr + dib + pal + b"".join(rows))
                ids.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.select(id_col).mapInPandas(run, schema)


def planted_bmp_dhash_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_dhash` over the planted BMP
    fixture — the GIF oracle's cell-sum shape with the 'b:'-salted
    pixel formula."""
    px = _BMP_PX_DUCK.format(page=f"({id_col} // 2)", x="px.x", y="px.y",
                             did=id_col)
    return f"""
    WITH cells AS (
      SELECT {id_col}, g.cx, g.cy, SUM({px}) AS s
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {PGM_W * PGM_H - 1}))
                    AS i) n,
           LATERAL (SELECT n.i % {PGM_W} AS x, n.i // {PGM_W} AS y) px,
           LATERAL (SELECT px.x // 2 AS cx, px.y // 2 AS cy) g
      GROUP BY {id_col}, g.cx, g.cy
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.s > b.s
                    THEN CAST(pow(2, a.cy * 10 + a.cx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM cells a JOIN cells b
      ON a.{id_col} = b.{id_col} AND a.cy = b.cy AND b.cx = a.cx + 1
    WHERE a.cx < 10
    GROUP BY a.{id_col}
    """


def synthesize_planted_pgm(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID binary-PGM images planted arithmetically
    from doc_id — byte assembly is JVM-side hex/unhex (the Python side
    only ever PARSES, so a decoder bug cannot cancel out against the
    builder). Two ids per page; the odd id differs by one perturbed
    pixel → a planted near-duplicate pair per page."""
    # the fixture parquet arrives as ONE split at test SFs, and the
    # per-pixel md5 planting is the heavy part of this builder (profiled
    # 4.1 s of a 4.9 s pipeline, single-threaded) — spread the row-wise
    # work across the cluster first; values are per-row, so the shuffle
    # changes nothing downstream
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    px = _PGM_PX_SPARK.format(page=f"({id_col} div 2)", x=f"(i % {PGM_W})",
                              y=f"(i div {PGM_W})", did=id_col)
    header_hex = F.hex(F.concat(
        F.lit("P5\n"), F.lit(f"{PGM_W} {PGM_H}\n255\n")))
    body_hex = F.expr(
        f"concat_ws('', transform(sequence(0, {PGM_W * PGM_H - 1}),"
        f" i -> lpad(hex({px}), 2, '0')))")
    return docs.select(
        id_col, F.unhex(F.concat(header_hex, body_hex)).alias("payload"))


def planted_pgm_dhash_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_dhash` over the planted fixture:
    regenerates cell sums from the SAME pixel arithmetic (never decoding
    bytes — an off-by-one in the Spark-side parse/downscale
    hash-mismatches) and assembles the 60-bit hash with exact integer
    powers. Cells are the fixture's exact 2×2 blocks (22→11, 12→6), so
    equal areas make the cross-multiplied mean compare a plain sum
    compare."""
    px = _PGM_PX_DUCK.format(page=f"({id_col} // 2)", x="px.x", y="px.y",
                             did=id_col)
    return f"""
    WITH cells AS (
      SELECT {id_col}, g.cx, g.cy, SUM({px}) AS s
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {PGM_W * PGM_H - 1}))
                    AS i) n,
           LATERAL (SELECT n.i % {PGM_W} AS x, n.i // {PGM_W} AS y) px,
           LATERAL (SELECT px.x // 2 AS cx, px.y // 2 AS cy) g
      GROUP BY {id_col}, g.cx, g.cy
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.s > b.s
                    THEN CAST(pow(2, a.cy * 10 + a.cx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM cells a JOIN cells b
      ON a.{id_col} = b.{id_col} AND a.cy = b.cy AND b.cx = a.cx + 1
    WHERE a.cx < 10
    GROUP BY a.{id_col}
    """


def planted_pgm_neardup_sql(table: str = "documents",
                            max_hamming: int = 3,
                            id_col: str = "doc_id") -> str:
    """Near-dup image pairs over the planted hashes — the banded join
    spelled relationally (4 × 15-bit bands, exact pigeonhole for
    hamming ≤ 3), mirroring :func:`dedup.simhash_pairs`."""
    return f"""
    WITH sigs AS ({planted_pgm_dhash_sql(table, id_col)}),
    melted AS (
      SELECT {id_col}, simhash, b AS band,
             (simhash // CAST(pow(32768, b) AS BIGINT)) % 32768 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    )
    SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM melted a JOIN melted b
      ON a.band = b.band AND a.nib = b.nib AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def planted_pgm_incremental_sql(table: str = "documents",
                                max_hamming: int = 3,
                                id_col: str = "doc_id") -> str:
    """Oracle for the incremental image dedup row: the same planted
    hashes and banding, candidates restricted to corpus-side (even ids,
    the persisted store) × batch-side (odd ids, the increment)."""
    return f"""
    WITH sigs AS ({planted_pgm_dhash_sql(table, id_col)}),
    melted AS (
      SELECT {id_col}, simhash, b AS band,
             (simhash // CAST(pow(32768, b) AS BIGINT)) % 32768 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    )
    SELECT DISTINCT b.{id_col} AS batch_id, c.{id_col} AS corpus_id,
           bit_count(xor(c.simhash, b.simhash)) AS hamming
    FROM melted c JOIN melted b
      ON c.band = b.band AND c.nib = b.nib
    WHERE c.{id_col} % 2 = 0 AND b.{id_col} % 2 = 1
      AND bit_count(xor(c.simhash, b.simhash)) <= {max_hamming}
    """


PIXEL_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.IntegerType()),
    T.StructField("px_max", T.IntegerType()),
    T.StructField("px_mean", T.DoubleType()),
])


# planted DC-only JPEGs: 88×48 px = 11×6 blocks of 8×8, each block the
# CONSTANT v(page, bx, by) = md5-derived in [20, 199] ('j:' salt keeps
# the key space disjoint from the PGM pixel keys). The dHash grid for
# 88×48 is exactly the block grid (cells 8×8 with equal areas), so the
# oracle compares adjacent block constants directly. Odd ids brighten
# ONE block by +40 (≤ 239, never clamped): the planted near-dup pair,
# hamming ≤ 2 by construction — same discipline as the PGM fixture.
JPG_W, JPG_H = 88, 48
_JPG_BX, _JPG_BY = JPG_W // 8, JPG_H // 8
_JPG_V_DUCK = ("(CAST(('0x' || substr(md5('j:' || CAST({page} AS VARCHAR)"
               " || ':' || CAST({bx} AS VARCHAR) || ':'"
               " || CAST({by} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
               " % 180 + 20"
               " + (CASE WHEN ({did}) % 2 = 1"
               " AND ({bx}) = ({page}) % 11 AND ({by}) = ({page}) % 6"
               " THEN 40 ELSE 0 END))")


def _planted_jpeg_block(page: int, bx: int, by: int, did: int) -> int:
    """The Python spelling of the SAME planting formula the DuckDB
    oracle evaluates (hashlib md5 == DuckDB md5 over utf-8 text)."""
    v = int(hashlib.md5(f"j:{page}:{bx}:{by}".encode()).hexdigest()[:8],
            16) % 180 + 20
    if did % 2 == 1 and bx == page % 11 and by == page % 6:
        v += 40
    return v


def synthesize_planted_jpeg(docs: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID DC-only baseline JPEGs planted from
    doc_id — the image family's second real container. The builder packs
    the scan with :func:`encode_dc_only_jpeg` (Huffman + DC prediction +
    byte stuffing); the query-side decoder walks the same format with
    INDEPENDENT unpacking logic, and the DuckDB oracle regenerates every
    expected block value arithmetically from the md5 formula — a
    builder/decoder bug pair cannot cancel out against the oracle's
    values. Arrow-batched and repartitioned first (the fixture parquet
    is one split; per-row md5+bit-packing is the heavy part)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                page = did // 2
                dcs = [_planted_jpeg_block(page, bx, by, did) - 128
                       for by in range(_JPG_BY) for bx in range(_JPG_BX)]
                ids.append(did)
                payloads.append(encode_dc_only_jpeg(JPG_W, JPG_H, dcs))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.select(id_col).mapInPandas(run, schema)


def planted_jpeg_dhash_sql(table: str = "documents",
                           id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_dhash` over the planted JPEG
    fixture: the dHash cells coincide with the 8×8 blocks (equal areas),
    so adjacent-cell mean compares reduce to comparing the planted block
    constants — regenerated from the md5 formula, never from bytes."""
    v = _JPG_V_DUCK.format(page=f"({id_col} // 2)", bx="g.bx", by="g.by",
                           did=id_col)
    return f"""
    WITH blocks AS (
      SELECT {id_col}, g.bx, g.by, {v} AS v
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0,
                    {_JPG_BX * _JPG_BY - 1})) AS i) n,
           LATERAL (SELECT n.i % {_JPG_BX} AS bx, n.i // {_JPG_BX} AS by) g
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.v > b.v
                    THEN CAST(pow(2, a.by * 10 + a.bx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM blocks a JOIN blocks b
      ON a.{id_col} = b.{id_col} AND a.by = b.by AND b.bx = a.bx + 1
    WHERE a.bx < 10
    GROUP BY a.{id_col}
    """


def image_pixel_stats(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "doc_id") -> DataFrame:
    """REAL pixel statistics over decoded PGM payloads — brightness sum/
    min/max/mean and dimensions, the content-level features a vision
    curation pass gates on (all-black/all-white frames, low-contrast
    junk). Same Arrow ``mapInPandas`` shape as the hashing stage; the
    mean is the only non-integer and is one IEEE division of two exact
    integers (bit-identical cross-engine). Undecodable payloads drop."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "px_sum",
                                   "px_min", "px_max", "px_mean")}
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                try:
                    w, h, px = decode_pgm(b)
                except (ValueError, NotImplementedError):
                    continue
                a = np.frombuffer(px, dtype=np.uint8)
                s = int(a.sum(dtype=np.int64))
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["px_sum"].append(s)
                out["px_min"].append(int(a.min()))
                out["px_max"].append(int(a.max()))
                out["px_mean"].append(s / (w * h))
            yield pd.DataFrame({
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "width": pd.Series(out["width"], dtype="int32"),
                "height": pd.Series(out["height"], dtype="int32"),
                "px_sum": pd.Series(out["px_sum"], dtype="int64"),
                "px_min": pd.Series(out["px_min"], dtype="int32"),
                "px_max": pd.Series(out["px_max"], dtype="int32"),
                "px_mean": pd.Series(out["px_mean"], dtype="float64"),
            })

    return df.mapInPandas(run, PIXEL_STATS_SCHEMA)


def planted_pgm_stats_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_pixel_stats` over the planted
    fixture — pixel values regenerated arithmetically, aggregated per
    doc; the mean is CAST(sum AS DOUBLE) / area (exact integers in, one
    IEEE division, bit-identical to the Python side's ``s / (w*h)``)."""
    px = _PGM_PX_DUCK.format(page=f"({id_col} // 2)", x="px.x", y="px.y",
                             did=id_col)
    return f"""
    SELECT {id_col},
           CAST({PGM_W} AS INTEGER) AS width,
           CAST({PGM_H} AS INTEGER) AS height,
           CAST(SUM({px}) AS BIGINT) AS px_sum,
           CAST(MIN({px}) AS INTEGER) AS px_min,
           CAST(MAX({px}) AS INTEGER) AS px_max,
           CAST(SUM({px}) AS DOUBLE) / {PGM_W * PGM_H} AS px_mean
    FROM {table},
         LATERAL (SELECT unnest(generate_series(0, {PGM_W * PGM_H - 1}))
                  AS i) n,
         LATERAL (SELECT n.i % {PGM_W} AS x, n.i // {PGM_W} AS y) px
    GROUP BY {id_col}
    """


# --------------------------------------------------------------------------
# Audio content decode: PCM samples from the WAV data chunk
# --------------------------------------------------------------------------

AUDIO_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("amp_min", T.IntegerType()),
    T.StructField("amp_max", T.IntegerType()),
    T.StructField("sum_sq", T.LongType()),
    T.StructField("amp_mean", T.DoubleType()),
])


def decode_wav_samples(payload: bytes) -> tuple[int, list[int]]:
    """REAL PCM decode with stdlib struct only: RIFF chunk scan to the
    ``fmt `` chunk (rate/bits — 16-bit mono PCM supported) and the
    ``data`` chunk, then little-endian signed-int16 unpacking. Raises
    ValueError on anything else (callers drop the row) — a chunk whose
    declared size overruns the buffer surfaces as ValueError, never
    struct.error (which would escape the Arrow stage)."""
    try:
        return _decode_wav_samples(payload)
    except struct.error as e:
        raise ValueError(f"malformed RIFF chunk: {e}") from e


def _ulaw2lin(u: int) -> int:
    """G.711 µ-law byte → linear sample (the public-domain CCITT
    expansion: bias 0x84, 3-bit segment, 4-bit mantissa)."""
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u >> 4) & 0x07
    return (0x84 - t) if u & 0x80 else (t - 0x84)


def _alaw2lin(a: int) -> int:
    """G.711 A-law byte → linear sample (CCITT expansion: XOR 0x55,
    segment 0/1 special-cased, sign bit positive when set)."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


def _decode_wav_samples(payload: bytes) -> tuple[int, list[int]]:
    b = payload
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    tag, rate, bits, data = None, None, None, None
    off = 12
    while off + 8 <= len(b):
        cid = b[off:off + 4]
        (size,) = struct.unpack("<I", b[off + 4:off + 8])
        if cid == b"fmt " and size >= 16:
            tag, channels, rate = struct.unpack("<HHI", b[off + 8:off + 16])
            (bits,) = struct.unpack("<H", b[off + 22:off + 24])
            if channels != 1:
                raise ValueError("only mono PCM supported here")
        elif cid == b"data":
            data = b[off + 8:off + 8 + size]
            if len(data) != size:
                raise ValueError("truncated data chunk")
        off += 8 + size + (size & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if tag == 1 and bits == 16:
        n = len(data) // 2
        return rate, list(struct.unpack(f"<{n}h", data[:2 * n]))
    # G.711 companded telephony audio — the call-recording formats a
    # contact-center feed actually ships (8 kHz, one byte per sample).
    if tag == 7 and bits == 8:
        return rate, [_ulaw2lin(u) for u in data]
    if tag == 6 and bits == 8:
        return rate, [_alaw2lin(a) for a in data]
    raise ValueError(f"unsupported WAV format tag {tag}/{bits}-bit")


def audio_sample_stats(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """REAL amplitude statistics over decoded PCM samples — min/max,
    integer energy (sum of squares) and mean amplitude, the content
    features an audio curation pass gates on (silence, clipping, DC
    offset). Same Arrow shape as :func:`image_pixel_stats`; the mean is
    one IEEE division of exact integers. Undecodable payloads drop."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                try:
                    rate, xs = decode_wav_samples(b)
                except ValueError:
                    continue
                if not xs:
                    continue
                s = sum(xs)
                rows.append({
                    "doc_id": int(did), "sample_rate": rate,
                    "n_samples": len(xs),
                    "amp_min": min(xs), "amp_max": max(xs),
                    "sum_sq": sum(x * x for x in xs),
                    "amp_mean": s / len(xs),
                })
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields])

    return df.mapInPandas(run, AUDIO_STATS_SCHEMA)


# planted PCM: N int16 samples per doc, value ((did*31 + k*17) % 2048)
# - 1024 (full negative/positive swing, deterministic per position).
WAV_N_SAMPLES = 64
_WAV_SAMPLE = "(({did}) * 31 + ({k}) * 17) % 2048 - 1024"


def synthesize_planted_wav_pcm(docs: DataFrame,
                               id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID 16-bit mono PCM WAVs with a real data
    chunk planted arithmetically — JVM-side byte assembly (the Python
    side only ever PARSES). Sample rate = 8000 + (id%5)*8000."""
    # single-split fixture input + per-sample hex assembly: spread the
    # row-wise work first (same reasoning as synthesize_planted_pgm)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    did = F.col(id_col)
    sr = F.lit(8000) + (did % 5) * 8000
    n_bytes = WAV_N_SAMPLES * 2
    sample = _WAV_SAMPLE.format(did=id_col, k="k")
    # int16 two's complement, little-endian hex
    data_hex = F.expr(
        f"concat_ws('', transform(sequence(0, {WAV_N_SAMPLES - 1}),"
        f" k -> concat(substring(lpad(hex((({sample}) + 65536) % 65536),"
        f" 4, '0'), 3, 2), substring(lpad(hex((({sample}) + 65536)"
        f" % 65536), 4, '0'), 1, 2))))")
    wav_hex = F.concat(
        F.hex(F.lit("RIFF")), _hex_le(F.lit(36 + n_bytes), 4),
        F.hex(F.lit("WAVE")),
        F.hex(F.lit("fmt ")), _hex_le(F.lit(16), 4),
        _hex_le(F.lit(1), 2), _hex_le(F.lit(1), 2),        # PCM, mono
        _hex_le(sr, 4), _hex_le(sr * 2, 4),                # rate, byterate
        _hex_le(F.lit(2), 2), _hex_le(F.lit(16), 2),       # align, bits
        F.hex(F.lit("data")), _hex_le(F.lit(n_bytes), 4),
        data_hex)
    return docs.select(id_col, F.unhex(wav_hex).alias("payload"))


G711_N_SAMPLES = 64
# planted companded bytes: full 0..255 coverage across docs
_G711_BYTE = "(({did}) * 13 + ({k}) * 7) % 256"


def synthesize_planted_g711_wav(docs: DataFrame,
                                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID G.711 telephony WAVs — format tag 7
    (µ-law) on odd ids, 6 (A-law) on even, 8 kHz mono 8-bit, companded
    bytes planted arithmetically. JVM-side byte assembly (the Python
    side only ever PARSES), like the PCM fixture."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    did = F.col(id_col)
    tag = F.when(did % 2 == 1, F.lit(7)).otherwise(F.lit(6))
    byte = _G711_BYTE.format(did=id_col, k="k")
    data_hex = F.expr(
        f"concat_ws('', transform(sequence(0, {G711_N_SAMPLES - 1}),"
        f" k -> lpad(hex({byte}), 2, '0')))")
    wav_hex = F.concat(
        F.hex(F.lit("RIFF")), _hex_le(F.lit(36 + G711_N_SAMPLES), 4),
        F.hex(F.lit("WAVE")),
        F.hex(F.lit("fmt ")), _hex_le(F.lit(16), 4),
        _hex_le(tag, 2), _hex_le(F.lit(1), 2),             # G.711, mono
        _hex_le(F.lit(8000), 4), _hex_le(F.lit(8000), 4),  # rate, byterate
        _hex_le(F.lit(1), 2), _hex_le(F.lit(8), 2),        # align, bits
        F.hex(F.lit("data")), _hex_le(F.lit(G711_N_SAMPLES), 4),
        data_hex)
    return docs.select(id_col, F.unhex(wav_hex).alias("payload"))


def _ulaw_sql(b: str) -> str:
    """Dialect-common SQL spelling of :func:`_ulaw2lin` over byte expr
    ``b`` — pure &/arithmetic (shifts as multiplies, NOT as 255-x), so
    the one text runs on Spark and DuckDB."""
    u = f"(255 - ({b}))"
    t = f"((({u}) & 15) * 8 + 132)"
    # segment = bits 4-6 = (u & 112)/16 — exact float division into
    # pow, because neither `div` (Spark-only) nor `//` (DuckDB-only)
    # parses in both dialects
    ts = (f"(({t}) * CAST(pow(2, (({u}) & 112) / 16.0) AS BIGINT))")
    return (f"(CASE WHEN (({u}) & 128) != 0 THEN 132 - ({ts})"
            f" ELSE ({ts}) - 132 END)")


def _alaw_sql(b: str) -> str:
    """Dialect-common :func:`_alaw2lin`: XOR 0x55 spelled
    arithmetically (x + 85 - 2*(x & 85)) because ^ is power in DuckDB."""
    a = f"(({b}) + 85 - 2 * (({b}) & 85))"
    t = f"((({a}) & 15) * 16)"
    seg = f"((({a}) & 112) / 16.0)"
    t2 = (f"(CASE WHEN ({seg}) = 0 THEN ({t}) + 8"
          f" WHEN ({seg}) = 1 THEN ({t}) + 264"
          f" ELSE (({t}) + 264)"
          f" * CAST(pow(2, ({seg}) - 1) AS BIGINT) END)")
    return (f"(CASE WHEN (({a}) & 128) != 0 THEN ({t2})"
            f" ELSE -({t2}) END)")


def planted_g711_stats_sql(table: str = "documents",
                           id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`audio_sample_stats` over the planted
    G.711 fixture: companded bytes regenerated arithmetically and
    expanded by the same CCITT formulas in SQL — a companding-table bug
    on either side hash-mismatches."""
    byte = _G711_BYTE.format(did=id_col, k="k.k")
    sample = (f"(CASE WHEN {id_col} % 2 = 1 THEN {_ulaw_sql(byte)}"
              f" ELSE {_alaw_sql(byte)} END)")
    return f"""
    SELECT {id_col},
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST({G711_N_SAMPLES} AS BIGINT) AS n_samples,
           CAST(MIN({sample}) AS INTEGER) AS amp_min,
           CAST(MAX({sample}) AS INTEGER) AS amp_max,
           CAST(SUM(({sample}) * ({sample})) AS BIGINT) AS sum_sq,
           CAST(SUM({sample}) AS DOUBLE) / {G711_N_SAMPLES} AS amp_mean
    FROM {table},
         LATERAL (SELECT unnest(generate_series(0, {G711_N_SAMPLES - 1}))
                  AS k) k
    GROUP BY {id_col}
    """


_PPM_CH_SPARK = ("(CAST(conv(substring(md5('c{ch}:' || CAST({page} AS"
                 " STRING) || ':' || CAST({x} AS STRING) || ':'"
                 " || CAST({y} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
                 " % 180 + 20)")
_PPM_CH_DUCK = ("(CAST(('0x' || substr(md5('c{ch}:' || CAST({page} AS"
                " VARCHAR) || ':' || CAST({x} AS VARCHAR) || ':'"
                " || CAST({y} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
                " % 180 + 20)")


def synthesize_planted_ppm(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID binary P6 color images — three
    md5-planted channels per pixel ('cr:'/'cg:'/'cb:' salts), the
    odd-id perturbation applied to the GREEN channel (the luma-heavy
    one) so near-dup pairs survive the BT.601 reduction. JVM-side
    hex/unhex assembly like the PGM fixture (the Python side only ever
    PARSES)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    page = f"({id_col} div 2)"
    x, y = f"(i % {PGM_W})", f"(i div {PGM_W})"
    chans = {c: _PPM_CH_SPARK.format(ch=c, page=page, x=x, y=y)
             for c in "rgb"}
    chans["g"] = ("(" + chans["g"]
                  + _PERTURB.format(did=id_col, page=page, x=x, y=y)
                  + ")")
    header_hex = F.hex(F.concat(
        F.lit("P6\n"), F.lit(f"{PGM_W} {PGM_H}\n255\n")))
    body_hex = F.expr(
        f"concat_ws('', transform(sequence(0, {PGM_W * PGM_H - 1}),"
        f" i -> concat(lpad(hex({chans['r']}), 2, '0'),"
        f" lpad(hex({chans['g']}), 2, '0'),"
        f" lpad(hex({chans['b']}), 2, '0'))))")
    return docs.select(
        id_col, F.unhex(F.concat(header_hex, body_hex)).alias("payload"))


def planted_ppm_dhash_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`image_dhash` over the planted PPM
    fixture: three channels regenerated arithmetically, reduced by the
    same integer BT.601 luma, cell-summed — a channel-order or
    luma-rounding bug on the Spark side hash-mismatches."""
    page = f"({id_col} // 2)"
    chans = {c: _PPM_CH_DUCK.format(ch=c, page=page, x="px.x", y="px.y")
             for c in "rgb"}
    g = ("(" + chans["g"]
         + _PERTURB.format(did=id_col, page=page, x="px.x", y="px.y")
         + ")")
    luma = (f"((299 * {chans['r']} + 587 * {g} + 114 * {chans['b']})"
            f" // 1000)")
    return f"""
    WITH cells AS (
      SELECT {id_col}, cg.cx, cg.cy, SUM({luma}) AS s
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {PGM_W * PGM_H - 1}))
                    AS i) n,
           LATERAL (SELECT n.i % {PGM_W} AS x, n.i // {PGM_W} AS y) px,
           LATERAL (SELECT px.x // 2 AS cx, px.y // 2 AS cy) cg
      GROUP BY {id_col}, cg.cx, cg.cy
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.s > b.s
                    THEN CAST(pow(2, a.cy * 10 + a.cx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM cells a JOIN cells b
      ON a.{id_col} = b.{id_col} AND a.cy = b.cy AND b.cx = a.cx + 1
    WHERE a.cx < 10
    GROUP BY a.{id_col}
    """


def planted_wav_stats_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`audio_sample_stats` over the planted
    PCM — sample values regenerated arithmetically; the mean is
    CAST(sum AS DOUBLE)/n, matching Python's ``s / len(xs)``."""
    sample = _WAV_SAMPLE.format(did=id_col, k="k.k")
    return f"""
    SELECT {id_col},
           CAST(8000 + ({id_col} % 5) * 8000 AS INTEGER) AS sample_rate,
           CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
           CAST(MIN({sample}) AS INTEGER) AS amp_min,
           CAST(MAX({sample}) AS INTEGER) AS amp_max,
           CAST(SUM(({sample}) * ({sample})) AS BIGINT) AS sum_sq,
           CAST(SUM({sample}) AS DOUBLE) / {WAV_N_SAMPLES} AS amp_mean
    FROM {table},
         LATERAL (SELECT unnest(generate_series(0, {WAV_N_SAMPLES - 1}))
                  AS k) k
    GROUP BY {id_col}
    """


# --------------------------------------------------------------------------
# MP3 frame walk: MPEG-1 Layer III header hop (the audio container #2)
# --------------------------------------------------------------------------
# Like the MP4 box walk for video, this is a REAL container traversal:
# each frame's byte length derives from its own header (144·bitrate/
# samplerate + padding, ISO 11172-3), so the walker cannot fake the
# count — one wrong table entry or a missed padding bit desynchronizes
# the hop and the stream reads as garbage. Scope: MPEG-1 Layer III
# without CRC (header 0xFF 0xFB), optional leading ID3v2 tag
# (synchsafe-size skip). Anything else returns None → the row drops.

_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                 256, 320, 0)                     # kbps, L3/MPEG-1
_MP3_RATES = (44100, 48000, 32000)

MP3_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("bitrate_kbps", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])


def parse_mp3_meta(payload: bytes) -> dict | None:
    """Walk MPEG-1 Layer III frames by their header-derived lengths;
    returns frame count, rates and exact integer duration, or None for
    anything outside the subset (mid-stream junk, truncated frames,
    trailing garbage, CRC frames, reserved table indexes)."""
    b = payload
    off = 0
    if b[:3] == b"ID3":
        if len(b) < 10:
            return None
        if (b[6] | b[7] | b[8] | b[9]) & 0x80:
            return None                       # not synchsafe
        off = 10 + ((b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9])
    n_frames, sr, br0 = 0, None, None
    while off + 4 <= len(b):
        h = b[off:off + 4]
        if h[0] != 0xFF or h[1] != 0xFB:      # sync + MPEG-1 L3, no CRC
            return None
        bi, si, pad = h[2] >> 4, (h[2] >> 2) & 3, (h[2] >> 1) & 1
        if bi in (0, 15) or si == 3:
            return None                       # free-form / reserved
        br, sr = _MP3_BITRATES[bi], _MP3_RATES[si]
        if br0 is None:
            br0 = br
        flen = (144 * br * 1000) // sr + pad
        if off + flen > len(b):
            return None                       # truncated frame
        n_frames += 1
        off += flen
    if n_frames == 0 or off != len(b):
        return None                           # trailing garbage
    return {"n_frames": n_frames, "sample_rate": sr,
            "bitrate_kbps": br0,
            "duration_ms": n_frames * 1152 * 1000 // sr}


def extract_mp3_meta(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched MP3 frame-walk metadata — frame count, rates, and
    exact integer duration (1152 samples per MPEG-1 L3 frame).
    Unparseable payloads drop."""
    cols = [f.name for f in MP3_META_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                m = parse_mp3_meta(b)
                if m is not None:
                    rows.append({"doc_id": int(did), **m})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, MP3_META_SCHEMA)


# planted MP3s: n_frames = 3 + id%5, bitrate index 1 + id%14, samplerate
# index id%3, per-frame padding (id + f) % 2 — every stream mixes padded
# and unpadded frames, so the hop must honor the padding bit; id%4==1
# additionally prepends an ID3v2 tag (synchsafe size id%100) the walker
# must skip. All byte assembly JVM-side hex/unhex.
_MP3_BR_SQL = ("element_at(array(32, 40, 48, 56, 64, 80, 96, 112, 128,"
               " 160, 192, 224, 256, 320), CAST({bi} AS INT))")
_MP3_SR_SQL = "element_at(array(44100, 48000, 32000), CAST({si} AS INT) + 1)"


def synthesize_planted_mp3(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID MPEG-1 Layer III frame sequences planted
    arithmetically — headers 0xFF 0xFB with real bitrate/samplerate/
    padding fields and zero-filled frame bodies of the EXACT
    header-implied length (the Python side only ever PARSES)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    did = id_col
    bi = f"(1 + {did} % 14)"
    si = f"({did} % 3)"
    br = _MP3_BR_SQL.format(bi=bi)
    sr = _MP3_SR_SQL.format(si=si)
    n_frames = f"(3 + {did} % 5)"
    pad = f"(({did} + f) % 2)"
    flen = f"(CAST(144 * {br} AS BIGINT) * 1000 div {sr} + {pad})"
    frame_hex = (f"concat('FFFB', lpad(hex({bi} * 16 + {si} * 4"
                 f" + {pad} * 2), 2, '0'), '00',"
                 f" repeat('00', CAST({flen} AS INT) - 4))")
    frames_hex = (f"concat_ws('', transform(sequence(0, {n_frames} - 1),"
                  f" f -> {frame_hex}))")
    tagsz = f"({did} % 100)"
    id3_hex = (f"CASE WHEN {did} % 4 = 1 THEN concat(hex('ID3'),"
               f" '0400', '00', '000000', lpad(hex({tagsz}), 2, '0'),"
               f" repeat('00', CAST({tagsz} AS INT))) ELSE '' END")
    return docs.select(
        id_col,
        F.unhex(F.expr(f"concat({id3_hex}, {frames_hex})"))
        .alias("payload"))


def planted_mp3_meta_sql(table: str = "documents",
                         id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`extract_mp3_meta` over the planted
    fixture — every field regenerated arithmetically (the frame-length
    hop itself is what the Spark side must get right to agree)."""
    bi = f"(1 + {id_col} % 14)"
    si = f"({id_col} % 3)"
    br = (f"([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,"
          f" 256, 320])[{bi}]")
    sr = f"([44100, 48000, 32000])[{si} + 1]"
    nf = f"(3 + {id_col} % 5)"
    return f"""
    SELECT {id_col},
           CAST({nf} AS INTEGER) AS n_frames,
           CAST({sr} AS INTEGER) AS sample_rate,
           CAST({br} AS INTEGER) AS bitrate_kbps,
           CAST({nf} * 1152 * 1000 // {sr} AS BIGINT) AS duration_ms
    FROM {table}
    """


# --------------------------------------------------------------------------
# Audio perceptual fingerprint: frame-energy deltas over decoded PCM
# --------------------------------------------------------------------------

AUDIO_FP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("fp", T.LongType()),
])

# 64 frames of 4 samples over the 256-sample pair fixture → 63 delta bits.
# Real deployments use longer windows (Chromaprint-style fingerprints are
# 32 bits × thousands of frames); 63 bits fills a BIGINT exactly (bits
# 0..62; all-set = 2^63-1) and both engines band it with exact pow(2, f)
# doubles (every power of two ≤ 2^62 is exactly representable). Width
# matters for BANDING selectivity, not just collision odds: 4×16-bit
# bands give 64 Ki buckets per band like the image family — an earlier
# 31-bit/4×8-bit draft had 256 buckets per band, which at corpus scale
# floods the candidate stage with chance band collisions.
AUDIO_FP_FRAMES = 64
WAV_PAIR_SAMPLES = 256


def audio_fingerprint(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "doc_id",
                      n_frames: int = AUDIO_FP_FRAMES) -> DataFrame:
    """Energy-delta acoustic fingerprint over REALLY-decoded PCM — the
    audio member of the perceptual-hash dedup family (image dHash is the
    vision member). Samples split into ``n_frames`` equal frames; frame
    energy is the exact integer sum of squares; bit ``f`` is set when
    ``energy[f] > energy[f+1]`` (the same adjacent-compare delta coding
    dHash uses on pixel cells — pure integers, bit-reproducible on any
    worker). This is the shape of published audio fingerprints
    (Haitsma–Kalker / Chromaprint band-energy deltas) minus the FFT:
    with no scipy in the stack, time-domain frame energy stands in for
    band energy, and the banding/dedup machinery downstream is
    identical. Undecodable or too-short payloads drop."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                try:
                    _rate, xs = decode_wav_samples(b)
                except ValueError:
                    continue
                if len(xs) < n_frames:
                    continue
                flen = len(xs) // n_frames
                e = [sum(x * x for x in xs[f * flen:(f + 1) * flen])
                     for f in range(n_frames)]
                fps.append(sum(1 << f for f in range(n_frames - 1)
                               if e[f] > e[f + 1]))
                ids.append(int(did))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "fp": pd.Series(fps, dtype="int64")})

    return df.mapInPandas(run, AUDIO_FP_SCHEMA)


# planted near-dup PCM pairs: two ids per page share the page's sample
# sequence; the odd id adds +300 to ONE sample (index page %
# WAV_PAIR_SAMPLES, i.e. page % 256). That
# moves exactly one frame energy, so the pair's fingerprints differ in at
# most the two delta bits adjacent to that frame — a planted near-dup at
# hamming ≤ 2, the audio analogue of the PGM/JPEG one-block perturbation.
# Samples are md5-derived ('a:' salt), NOT a linear ramp: a periodic
# formula gives pages correlated frame-energy profiles and the fingerprint
# space collapses into structural collisions (measured: 12k pairs across
# 500 docs); md5 keeps cross-page fingerprints uniform so planted pairs
# dominate (chance pairs within hamming 3 are ~2e-6 of the 2^31 space).
_WAV_PERTURB = (" + (CASE WHEN ({did}) % 2 = 1"
                " AND ({k}) = ({page}) % {n} THEN 300 ELSE 0 END)")
_WAV_S_SPARK = ("(CAST(conv(substring(md5('a:' || CAST({page} AS STRING)"
                " || ':' || CAST({k} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
                " % 2048 - 1024" + _WAV_PERTURB + ")")
_WAV_S_DUCK = ("(CAST(('0x' || substr(md5('a:' || CAST({page} AS VARCHAR)"
               " || ':' || CAST({k} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
               " % 2048 - 1024" + _WAV_PERTURB + ")")


def synthesize_planted_wav_pairs(docs: DataFrame,
                                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID 16-bit mono PCM WAVs planted as near-dup
    PAIRS (page = id//2; odd ids perturb one sample) — JVM-side hex
    assembly like :func:`synthesize_planted_wav_pcm`, 256 samples so the
    fingerprint has 63 bits (chance collisions within hamming 3 are
    ~10^-15-rare; the planted pairs are the only pairs)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    page = f"({id_col} div 2)"
    sr = F.lit(8000) + (F.expr(page) % 5) * 8000
    n = WAV_PAIR_SAMPLES
    n_bytes = n * 2
    sample = _WAV_S_SPARK.format(page=page, k="k", did=id_col, n=n)
    data_hex = F.expr(
        f"concat_ws('', transform(sequence(0, {n - 1}),"
        f" k -> concat(substring(lpad(hex((({sample}) + 65536) % 65536),"
        f" 4, '0'), 3, 2), substring(lpad(hex((({sample}) + 65536)"
        f" % 65536), 4, '0'), 1, 2))))")
    wav_hex = F.concat(
        F.hex(F.lit("RIFF")), _hex_le(F.lit(36 + n_bytes), 4),
        F.hex(F.lit("WAVE")),
        F.hex(F.lit("fmt ")), _hex_le(F.lit(16), 4),
        _hex_le(F.lit(1), 2), _hex_le(F.lit(1), 2),        # PCM, mono
        _hex_le(sr, 4), _hex_le(sr * 2, 4),                # rate, byterate
        _hex_le(F.lit(2), 2), _hex_le(F.lit(16), 2),       # align, bits
        F.hex(F.lit("data")), _hex_le(F.lit(n_bytes), 4),
        data_hex)
    return docs.select(id_col, F.unhex(wav_hex).alias("payload"))


def planted_wav_fp_sql(table: str = "documents",
                       id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`audio_fingerprint` over the planted pair
    fixture: frame energies regenerated from the sample formula (never
    decoding bytes — a chunk-offset or endianness bug on the Spark side
    hash-mismatches), delta bits assembled with exact integer powers."""
    n, nf = WAV_PAIR_SAMPLES, AUDIO_FP_FRAMES
    flen = n // nf
    s = _WAV_S_DUCK.format(page=f"({id_col} // 2)", k="k.k",
                           did=id_col, n=n)
    return f"""
    WITH frames AS (
      SELECT {id_col}, k.k // {flen} AS f, SUM(({s}) * ({s})) AS e
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {n - 1})) AS k) k
      GROUP BY {id_col}, k.k // {flen}
    )
    SELECT a.{id_col},
           CAST(SUM(CASE WHEN a.e > b.e
                    THEN CAST(pow(2, a.f) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS fp
    FROM frames a JOIN frames b
      ON a.{id_col} = b.{id_col} AND b.f = a.f + 1
    GROUP BY a.{id_col}
    """


def planted_wav_neardup_sql(table: str = "documents", max_hamming: int = 3,
                            id_col: str = "doc_id") -> str:
    """Near-dup audio pairs over the planted fingerprints — the banded
    join spelled relationally (4 × 16-bit bands over the 63-bit value,
    exact pigeonhole for hamming ≤ 3), mirroring
    :func:`dedup.banded_hamming_pairs`."""
    return f"""
    WITH sigs AS ({planted_wav_fp_sql(table, id_col)}),
    melted AS (
      SELECT {id_col}, fp, b AS band,
             (fp // CAST(pow(65536, b) AS BIGINT)) % 65536 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    )
    SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           bit_count(xor(a.fp, b.fp)) AS hamming
    FROM melted a JOIN melted b
      ON a.band = b.band AND a.nib = b.nib AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


# --------------------------------------------------------------------------
# Video container decode: ISO BMFF (MP4) box walk to the movie header
# --------------------------------------------------------------------------

VIDEO_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("brand", T.StringType()),
    T.StructField("timescale", T.IntegerType()),
    T.StructField("duration", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("n_boxes", T.IntegerType()),
])


def parse_mp4_meta(payload: bytes) -> dict | None:
    """REAL ISO-BMFF walk with stdlib struct only: top-level boxes are
    [size u32 BE][4cc type][payload]; ``moov`` is a container whose
    children walk the same way; ``mvhd`` v0 carries timescale and
    duration as big-endian u32s at fixed offsets. A box whose declared
    size overruns the buffer stops the walk (never mis-slice); returns
    None when no valid mvhd is found."""
    def walk(b: bytes, lo: int, hi: int):
        off = lo
        while off + 8 <= hi:
            (size,) = struct.unpack(">I", b[off:off + 4])
            if size < 8 or off + size > hi:
                return
            yield b[off + 4:off + 8], off + 8, off + size
            off += size

    b = payload
    brand, timescale, duration, n_boxes = None, None, None, 0
    for typ, lo, hi in walk(b, 0, len(b)):
        n_boxes += 1
        if typ == b"ftyp" and hi - lo >= 4:
            brand = b[lo:lo + 4].decode("ascii", "replace")
        elif typ == b"moov":
            for ityp, ilo, ihi in walk(b, lo, hi):
                n_boxes += 1
                if ityp == b"mvhd" and ihi - ilo >= 20 and b[ilo] == 0:
                    timescale, duration = struct.unpack(
                        ">II", b[ilo + 12:ilo + 20])
    if timescale is None or timescale == 0:
        # timescale == 0 would make duration_s a ZeroDivisionError; a
        # zero-timescale mvhd is malformed, so it drops like any other
        # unparseable payload.
        return None
    return {"brand": brand, "timescale": timescale, "duration": duration,
            "duration_s": duration / timescale, "n_boxes": n_boxes}


def extract_video_meta(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched MP4 movie-header extraction — the video member of
    the multimodal decode family (image pixels, audio samples, video
    container). Unparseable payloads drop; duration_s is one IEEE
    division of two exact u32s."""
    cols = [f.name for f in VIDEO_META_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                m = parse_mp4_meta(b)
                if m is not None:
                    rows.append({"doc_id": int(did), **m})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, VIDEO_META_SCHEMA)


def synthesize_planted_mp4(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID minimal MP4s planted arithmetically —
    ftyp('isom') + moov > mvhd v0 (timescale 1000·(1 + id%4), duration
    timescale·(1 + id%120) ticks, a 'free' sibling box so the walk must
    SKIP a box inside moov to reach nothing further). All byte assembly
    JVM-side hex/unhex."""
    did = F.col(id_col)
    ts = (F.lit(1000) * (did % 4 + 1)).cast("bigint")
    dur = (ts * (did % 120 + 1)).cast("bigint")
    ftyp = F.concat(_hex_be(F.lit(16), 4), F.hex(F.lit("ftypisom")),
                    F.lit("00000200"))                       # minor version
    # mvhd v0: FullBox(1+3) + ctime/mtime u32s + timescale + duration +
    # rate/volume/reserved/matrix/predefineds/next_track = 108 bytes total
    mvhd_tail_zeros = "00" * 80
    mvhd = F.concat(_hex_be(F.lit(108), 4), F.hex(F.lit("mvhd")),
                    F.lit("00000000"),                       # version+flags
                    F.lit("00000000"), F.lit("00000000"),    # ctime, mtime
                    _hex_be(ts, 4), _hex_be(dur, 4),
                    F.lit(mvhd_tail_zeros))
    free = F.concat(_hex_be(F.lit(12), 4), F.hex(F.lit("free")),
                    F.lit("00000000"))
    moov = F.concat(_hex_be(F.lit(8 + 12 + 108), 4), F.hex(F.lit("moov")),
                    free, mvhd)
    return docs.select(id_col,
                       F.unhex(F.concat(ftyp, moov)).alias("payload"))


def planted_mp4_meta_sql(table: str = "documents",
                         id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`extract_video_meta` over the planted
    fixture — every field regenerated arithmetically; duration_s is
    CAST/CAST division matching Python's u32/u32."""
    ts = f"1000 * ({id_col} % 4 + 1)"
    dur = f"({ts}) * ({id_col} % 120 + 1)"
    return f"""
    SELECT {id_col},
           'isom' AS brand,
           CAST({ts} AS INTEGER) AS timescale,
           CAST({dur} AS BIGINT) AS duration,
           CAST({dur} AS DOUBLE) / ({ts}) AS duration_s,
           CAST(4 AS INTEGER) AS n_boxes
    FROM {table}
    """


def frame_sample(df: DataFrame, every_n_bytes: int = 64,
                 payload_col: str = "payload") -> DataFrame:
    """'Frame sampling' on the fake payload: slice every Nth byte-window —
    JVM-side substring math, the shape of real video frame-sampling where
    the decode itself would be the mapInPandas stage above."""
    return df.withColumn(
        "frames",
        F.expr(f"transform(sequence(1, greatest(1, length({payload_col}) div {every_n_bytes})),"
               f" i -> substring({payload_col}, (i - 1) * {every_n_bytes} + 1, {every_n_bytes}))"))


# --------------------------------------------------------------------------
# Video FRAME decode: MJPEG-in-MP4 sample-table walk + per-frame dHash
# --------------------------------------------------------------------------

VIDEO_FRAMES = 3          # frames planted (and sampled) per video
VIDEO_FP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("simhash", T.LongType()),
])


def _box_walk(b: bytes, lo: int, hi: int):
    """Size-guarded ISO-BMFF box iterator: yields (type, body_lo,
    body_hi); a declared size overrunning its parent stops the walk —
    never mis-slices (the :func:`parse_mp4_meta` discipline)."""
    off = lo
    while off + 8 <= hi:
        (size,) = struct.unpack(">I", b[off:off + 4])
        if size < 8 or off + size > hi:
            return
        yield b[off + 4:off + 8], off + 8, off + size
        off += size


def _box_child(b: bytes, lo: int, hi: int, typ: bytes):
    for t, clo, chi in _box_walk(b, lo, hi):
        if t == typ:
            return clo, chi
    return None


class _NoSampleTable(ValueError):
    """moov carries no usable stbl sample tables — distinct from a
    CORRUPT table so the dispatcher may still try the fragmented-MP4
    (moof/traf/trun) walk; a mismatched or truncated table never
    falls through."""


def _parse_stbl_samples(b: bytes) -> list[bytes]:
    """Progressive-MP4 path: moov > trak > mdia > minf > stbl with
    ``stsz`` (v0; fixed-size or per-sample table) and ``stco`` (u32
    chunk offsets), one sample per chunk — exactly what a
    1-sample-per-chunk MJPEG track stores. Missing boxes/tables raise
    :class:`_NoSampleTable` (the file may be fragmented); a PRESENT but
    mismatched/truncated table raises plain ValueError (corrupt, drop)."""
    span = _box_child(b, 0, len(b), b"moov")
    for typ in (b"trak", b"mdia", b"minf", b"stbl"):
        if span is None:
            raise _NoSampleTable("missing box on the moov>...>stbl path")
        span = _box_child(b, span[0], span[1], typ)
    if span is None:
        raise _NoSampleTable("missing box on the moov>...>stbl path")
    sizes, offsets = None, None
    for t, lo, hi in _box_walk(b, span[0], span[1]):
        if t == b"stsz" and hi - lo >= 12 and b[lo] == 0:
            fixed, count = struct.unpack(">II", b[lo + 4:lo + 12])
            if fixed:
                sizes = [fixed] * count
            else:
                if hi - lo < 12 + 4 * count:
                    raise ValueError("truncated stsz table")
                sizes = list(struct.unpack(f">{count}I",
                                           b[lo + 12:lo + 12 + 4 * count]))
        elif t == b"stco" and hi - lo >= 8 and b[lo] == 0:
            (count,) = struct.unpack(">I", b[lo + 4:lo + 8])
            if hi - lo < 8 + 4 * count:
                raise ValueError("truncated stco table")
            offsets = list(struct.unpack(f">{count}I",
                                         b[lo + 8:lo + 8 + 4 * count]))
    if sizes is None or offsets is None:
        raise _NoSampleTable("missing stsz/stco")
    if len(sizes) != len(offsets):
        raise ValueError("multi-sample chunks not supported (need stsc)")
    out = []
    for off, size in zip(offsets, sizes):
        if off + size > len(b):
            raise ValueError("sample overruns the buffer")
        out.append(b[off:off + size])
    return out


def _u32(b: bytes, p: int, hi: int, what: str) -> int:
    if p + 4 > hi:
        raise ValueError(f"truncated {what}")
    return struct.unpack(">I", b[p:p + 4])[0]


def _parse_fragment_samples(b: bytes) -> list[bytes]:
    """Fragmented-MP4 (DASH/CMAF) path: real-world streaming video
    ships moof/traf/trun fragments instead of a moov-resident sample
    table (ISO 14496-12 §8.8). Per top-level ``moof``: ``tfhd`` resolves
    the base data offset (explicit u64 base-data-offset flag 0x000001,
    or default-base-is-moof 0x020000 → the moof box's own first byte)
    and an optional default_sample_size (0x000010); each ``trun`` (v0)
    then yields sample_count samples laid out contiguously at
    base + data_offset, sizes from the per-sample table (flag 0x000200),
    else tfhd's default, else the mvex>trex default. Flag-conditioned
    fields that don't affect the slice (durations 0x000100, per-sample
    flags 0x000400, composition offsets 0x000800, first-sample-flags
    0x000004) are skipped with bounds checks. Anything outside the
    subset raises NotImplementedError; malformed framing raises
    ValueError — both are the Arrow drop contract."""
    trex_dss = None
    moov = _box_child(b, 0, len(b), b"moov")
    if moov is not None:
        mvex = _box_child(b, moov[0], moov[1], b"mvex")
        if mvex is not None:
            trex = _box_child(b, mvex[0], mvex[1], b"trex")
            if trex is not None and trex[1] - trex[0] >= 24:
                (trex_dss,) = struct.unpack(
                    ">I", b[trex[0] + 16:trex[0] + 20])
    out: list[bytes] = []
    for typ, lo, hi in _box_walk(b, 0, len(b)):
        if typ != b"moof":
            continue
        moof_start = lo - 8
        for t2, l2, h2 in _box_walk(b, lo, hi):
            if t2 != b"traf":
                continue
            base, tfhd_dss, truns = None, None, []
            for t3, l3, h3 in _box_walk(b, l2, h2):
                if t3 == b"tfhd":
                    if h3 - l3 < 8:
                        raise ValueError("truncated tfhd")
                    if b[l3] != 0:
                        raise NotImplementedError("tfhd version != 0")
                    flags = int.from_bytes(b[l3 + 1:l3 + 4], "big")
                    p = l3 + 8                      # ver/flags + track_ID
                    if flags & 0x000001:
                        if p + 8 > h3:
                            raise ValueError("truncated tfhd base offset")
                        (base,) = struct.unpack(">Q", b[p:p + 8])
                        p += 8
                    if flags & 0x000002:            # sample_description
                        p += 4
                    if flags & 0x000008:            # default duration
                        p += 4
                    if flags & 0x000010:
                        tfhd_dss = _u32(b, p, h3, "tfhd default size")
                        p += 4
                    if base is None:
                        if not flags & 0x020000:
                            raise NotImplementedError(
                                "tfhd without base-data-offset or"
                                " default-base-is-moof")
                        base = moof_start
                elif t3 == b"trun":
                    truns.append((l3, h3))
            if base is None:
                raise ValueError("traf missing tfhd")
            for l3, h3 in truns:
                if h3 - l3 < 8:
                    raise ValueError("truncated trun")
                if b[l3] != 0:
                    raise NotImplementedError("trun version != 0")
                flags = int.from_bytes(b[l3 + 1:l3 + 4], "big")
                count = _u32(b, l3 + 4, h3, "trun count")
                p = l3 + 8
                if not flags & 0x000001:
                    raise NotImplementedError("trun without data_offset")
                if p + 4 > h3:
                    raise ValueError("truncated trun data_offset")
                (doff,) = struct.unpack(">i", b[p:p + 4])
                p += 4
                pos = base + doff
                if flags & 0x000004:                # first_sample_flags
                    p += 4
                for _ in range(count):
                    if flags & 0x000100:            # duration
                        p += 4
                    if flags & 0x000200:
                        size = _u32(b, p, h3, "trun sample size")
                        p += 4
                    elif tfhd_dss is not None:
                        size = tfhd_dss
                    elif trex_dss is not None:
                        size = trex_dss
                    else:
                        raise ValueError(
                            "no sample size in trun/tfhd/trex")
                    if flags & 0x000400:            # sample flags
                        p += 4
                    if flags & 0x000800:            # composition offset
                        p += 4
                    if p > h3:
                        raise ValueError("truncated trun entries")
                    if pos < 0 or pos + size > len(b):
                        raise ValueError("sample overruns the buffer")
                    out.append(b[pos:pos + size])
                    pos += size
    if not out:
        raise ValueError("no samples in any moof fragment")
    return out


def parse_mp4_samples(payload: bytes) -> list[bytes]:
    """REAL ISO-BMFF sample extraction with stdlib struct only, both
    layouts a crawl actually sees: a moov-resident stbl (progressive
    MP4 — :func:`_parse_stbl_samples`) first; when the sample tables
    are genuinely ABSENT (not corrupt), the fragmented moof/traf/trun
    walk (:func:`_parse_fragment_samples`, the DASH/CMAF shape).
    Unsupported variants raise NotImplementedError, malformed framing
    ValueError — callers' Arrow stages drop the row either way."""
    try:
        return _parse_stbl_samples(payload)
    except _NoSampleTable:
        return _parse_fragment_samples(payload)


def video_frame_hashes(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, frame_idx, simhash): frame-sampled perceptual hashing —
    the video member of the dedup family. The Arrow stage REALLY walks
    the MP4 sample table (:func:`parse_mp4_samples`), entropy-decodes
    each sampled frame (:func:`decode_image` dispatches to the DC-only
    JPEG decoder) and dHashes the pixels with the SAME integer
    :func:`dhash_int` the image family certifies. Undecodable containers
    or frames drop — a hash of garbage would poison near-dup buckets."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hs = [], [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                try:
                    frames = parse_mp4_samples(b)
                except ValueError:
                    continue
                for j, fb in enumerate(frames):
                    try:
                        w, h, px = decode_image(fb)
                    except (ValueError, NotImplementedError):
                        continue
                    ids.append(int(did))
                    idxs.append(j)
                    hs.append(dhash_int(w, h, px))
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "simhash": pd.Series(hs, dtype="int64")})

    return df.mapInPandas(run, VIDEO_FP_SCHEMA)


def _planted_video_block(page: int, frame: int, bx: int, by: int,
                         did: int) -> int:
    """Python spelling of the video-frame planting formula ('v:' salt
    keeps the key space disjoint from the still-JPEG 'j:' keys). Odd ids
    brighten ONE block of ONE frame (frame page%3) by +40: a planted
    near-dup VIDEO pair whose total frame-hamming is ≤ 2."""
    v = int(hashlib.md5(f"v:{page}:{frame}:{bx}:{by}".encode())
            .hexdigest()[:8], 16) % 180 + 20
    if (did % 2 == 1 and frame == page % VIDEO_FRAMES
            and bx == page % _JPG_BX and by == page % _JPG_BY):
        v += 40
    return v


_VID_V_DUCK = ("(CAST(('0x' || substr(md5('v:' || CAST({page} AS VARCHAR)"
               " || ':' || CAST({frame} AS VARCHAR) || ':'"
               " || CAST({bx} AS VARCHAR) || ':'"
               " || CAST({by} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)"
               " % 180 + 20"
               " + (CASE WHEN ({did}) % 2 = 1"
               " AND ({frame}) = ({page}) % {nf}"
               " AND ({bx}) = ({page}) % 11 AND ({by}) = ({page}) % 6"
               " THEN 40 ELSE 0 END))")


def synthesize_planted_mjpeg(docs: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID MJPEG-in-MP4 videos planted from doc_id —
    ftyp + moov(mvhd + trak > mdia > minf > stbl{stsd,stts,stsc,stsz,
    stco}) + mdat holding VIDEO_FRAMES DC-only baseline JPEGs, one
    sample per chunk, stco carrying ABSOLUTE file offsets the reader
    must honor. The query-side reader walks the sample table with
    independent logic; the DuckDB oracle regenerates every block value
    from the md5 formula — builder/reader bugs cannot cancel out.
    Arrow-batched and repartitioned (per-frame md5 + Huffman packing is
    the heavy part; the fixture parquet arrives as one split)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                page = did // 2
                frames = []
                for j in range(VIDEO_FRAMES):
                    dcs = [_planted_video_block(page, j, bx, by, did) - 128
                           for by in range(_JPG_BY) for bx in range(_JPG_BX)]
                    frames.append(encode_dc_only_jpeg(JPG_W, JPG_H, dcs))
                ftyp = box(b"ftyp", b"isom" + b"\x00\x00\x02\x00")
                mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + bytes(8)
                           + struct.pack(">II", 1000, 1000 * VIDEO_FRAMES)
                           + bytes(80))
                stsd = box(b"stsd", b"\x00\x00\x00\x00"
                           + struct.pack(">I", 0))
                stts = box(b"stts", b"\x00\x00\x00\x00"
                           + struct.pack(">III", 1, VIDEO_FRAMES, 1000))
                stsc = box(b"stsc", b"\x00\x00\x00\x00"
                           + struct.pack(">IIII", 1, 1, 1, 1))
                stsz = box(b"stsz", b"\x00\x00\x00\x00"
                           + struct.pack(">II", 0, VIDEO_FRAMES)
                           + b"".join(struct.pack(">I", len(f))
                                      for f in frames))
                # stco carries ABSOLUTE file offsets, which depend on
                # moov's size — but stco's own size is fixed by the
                # sample count, so a zero-filled stco fixes every box
                # size, then the real offsets are packed
                stco = box(b"stco", b"\x00\x00\x00\x00"
                           + struct.pack(">I", VIDEO_FRAMES)
                           + bytes(4 * VIDEO_FRAMES))
                stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
                moov = box(b"moov", mvhd + box(
                    b"trak", box(b"mdia", box(b"minf", stbl))))
                data_at = len(ftyp) + len(moov) + 8      # mdat header
                offs, acc = [], data_at
                for f in frames:
                    offs.append(acc)
                    acc += len(f)
                stco = box(b"stco", b"\x00\x00\x00\x00"
                           + struct.pack(">I", VIDEO_FRAMES)
                           + b"".join(struct.pack(">I", o) for o in offs))
                stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
                moov = box(b"moov", mvhd + box(
                    b"trak", box(b"mdia", box(b"minf", stbl))))
                mdat = box(b"mdat", b"".join(frames))
                ids.append(did)
                payloads.append(ftyp + moov + mdat)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.select(id_col).mapInPandas(run, schema)


def synthesize_planted_fmp4(docs: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): the SAME planted frames as
    :func:`synthesize_planted_mjpeg`, re-shipped as VALID fragmented
    MP4 (the DASH/CMAF layout): ftyp('iso5') + moov{mvhd, mvex>trex,
    trak>mdia>minf>stbl(stsd only — NO stsz/stco, so the reader must
    take the fragment path)} + one moof(mfhd + traf{tfhd, trun}) + mdat
    per frame. The three fragments deliberately resolve their sample
    size three different ways — per-sample trun table (frame 0), tfhd
    default_sample_size (frame 1), mvex>trex default (frame 2) — so
    every resolution branch of :func:`_parse_fragment_samples` is on
    the certified path. trun data offsets are moof-relative
    (default-base-is-moof), patched in after the moof size is known.
    Because the frames are bit-identical to the progressive fixture's,
    the SAME DuckDB oracle certifies both containers — any fragment-walk
    bug hash-mismatches."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def full(typ: bytes, flags: int, payload: bytes) -> bytes:
        return box(typ, b"\x00" + flags.to_bytes(3, "big") + payload)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                did = int(did)
                page = did // 2
                frames = []
                for j in range(VIDEO_FRAMES):
                    dcs = [_planted_video_block(page, j, bx, by, did) - 128
                           for by in range(_JPG_BY) for bx in range(_JPG_BX)]
                    frames.append(encode_dc_only_jpeg(JPG_W, JPG_H, dcs))
                ftyp = box(b"ftyp", b"iso5" + b"\x00\x00\x02\x00")
                mvhd = full(b"mvhd", 0, bytes(8)
                            + struct.pack(">II", 1000, 1000 * VIDEO_FRAMES)
                            + bytes(80))
                trex = full(b"trex", 0, struct.pack(
                    ">IIIII", 1, 1, 1000, len(frames[-1]), 0))
                stbl = box(b"stbl", full(b"stsd", 0, struct.pack(">I", 0)))
                moov = box(b"moov", mvhd + box(b"mvex", trex)
                           + box(b"trak", box(b"mdia", box(b"minf", stbl))))
                frags = []
                for j, f in enumerate(frames):
                    mfhd = full(b"mfhd", 0, struct.pack(">I", j + 1))
                    if j == VIDEO_FRAMES - 1:   # trex default-size path
                        tfhd = full(b"tfhd", 0x020000, struct.pack(">I", 1))
                        trun = full(b"trun", 0x000101,
                                    struct.pack(">IiI", 1, 0, 1000))
                    elif j % 2 == 1:            # tfhd default-size path
                        tfhd = full(b"tfhd", 0x020010,
                                    struct.pack(">II", 1, len(f)))
                        trun = full(b"trun", 0x000101,
                                    struct.pack(">IiI", 1, 0, 1000))
                    else:                       # per-sample trun sizes
                        tfhd = full(b"tfhd", 0x020000, struct.pack(">I", 1))
                        trun = full(b"trun", 0x000301,
                                    struct.pack(">IiII", 1, 0, 1000, len(f)))
                    moof = box(b"moof", mfhd + box(b"traf", tfhd + trun))
                    # patch data_offset now that the moof size is fixed
                    # (the offset field's width never changes it); the
                    # sample sits right after the 8-byte mdat header
                    ti = moof.rindex(b"trun") + 4 + 8
                    moof = (moof[:ti] + struct.pack(">i", len(moof) + 8)
                            + moof[ti + 4:])
                    frags.append(moof + box(b"mdat", f))
                ids.append(did)
                payloads.append(ftyp + moov + b"".join(frags))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.select(id_col).mapInPandas(run, schema)


def planted_mjpeg_hash_sql(table: str = "documents",
                           id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`video_frame_hashes` over the planted
    MJPEG fixture: per-(doc, frame) dHash from md5-regenerated block
    constants (cells coincide with the 8×8 blocks), never from bytes."""
    v = _VID_V_DUCK.format(page=f"({id_col} // 2)", frame="fr.f",
                           bx="g.bx", by="g.by", did=id_col,
                           nf=VIDEO_FRAMES)
    return f"""
    WITH blocks AS (
      SELECT {id_col}, fr.f, g.bx, g.by, {v} AS v
      FROM {table},
           LATERAL (SELECT unnest(generate_series(0, {VIDEO_FRAMES - 1}))
                    AS f) fr,
           LATERAL (SELECT unnest(generate_series(0,
                    {_JPG_BX * _JPG_BY - 1})) AS i) n,
           LATERAL (SELECT n.i % {_JPG_BX} AS bx, n.i // {_JPG_BX} AS by) g
    )
    SELECT a.{id_col}, CAST(a.f AS INTEGER) AS frame_idx,
           CAST(SUM(CASE WHEN a.v > b.v
                    THEN CAST(pow(2, a.by * 10 + a.bx) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM blocks a JOIN blocks b
      ON a.{id_col} = b.{id_col} AND a.f = b.f AND a.by = b.by
     AND b.bx = a.bx + 1
    WHERE a.bx < 10
    GROUP BY a.{id_col}, a.f
    """


def video_neardup(hashes: DataFrame, max_total_hamming: int = 4,
                  id_col: str = "doc_id",
                  max_bucket: int = 1000) -> DataFrame:
    """Video near-dup pairs: total frame-aligned Hamming distance over
    the per-frame perceptual hashes, candidates from pigeonhole banding
    per (frame, band). A pair within total distance T over F frames has
    some frame within floor(T/F) ≤ 3, and that frame shares at least one
    of its 4 15-bit bands — so bucketing on (frame_idx, band, nib) loses
    no true pair, and the exact total-distance check runs only on
    band-colliding candidates. Same star-fallback cap as
    :func:`dedup.banded_hamming_pairs` for over-sized buckets.

    Two hard edges of that guarantee are enforced, not assumed:

    * recall: the pigeonhole argument needs floor(T / F) ≤ n_bands - 1
      (= 3); a larger ``max_total_hamming`` would silently lose
      candidate pairs, so it raises instead.
    * missing frames: the exact stage counts matched frame indexes and
      requires FULL overlap on both sides — a video with an
      undecodable/dropped frame would otherwise sum fewer per-frame
      distances and score as nearer than it is. Since a single 60-bit
      frame hash can differ by more than any permitted threshold
      (T ≤ 4·F - 1 < 60), "missing frame = max distance" and "require
      equal frame coverage" reject exactly the same pairs.
    """
    if max_total_hamming // VIDEO_FRAMES > 3:
        raise ValueError(
            f"max_total_hamming={max_total_hamming} breaks the pigeonhole"
            f" candidate guarantee: floor(T/{VIDEO_FRAMES}) must be <= 3"
            f" (4 bands of 15 bits); got {max_total_hamming // VIDEO_FRAMES}")
    # the frame-hash table feeds four consumers (coverage counts, band
    # melt, both sides of the verify self-join); one shared cut keeps the
    # synthesize + Arrow JPEG-decode subtree from re-running per read
    hashes = shared_cut(hashes)
    nf = hashes.groupBy(id_col).agg(F.count("*").alias("nf"))
    melted = hashes.select(
        F.col(id_col), F.col("frame_idx"), F.col("simhash"),
        F.expr("explode(transform(sequence(0, 3),"
               " b -> struct(b AS band, (simhash div CAST(pow(32768, b)"
               " AS BIGINT)) % 32768 AS nib)))").alias("bn")) \
        .select(id_col, "frame_idx", "simhash", "bn.band", "bn.nib")
    buckets = (melted.groupBy("frame_idx", "band", "nib")
               .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("xs"))
               .filter(F.size("xs") >= 2))
    pairs = F.expr(f"""
        CASE WHEN size(xs) <= {max_bucket}
        THEN flatten(transform(xs, (a, i) ->
               transform(slice(xs, i + 2, size(xs)), b ->
                 struct(a AS doc_a, b AS doc_b))))
        ELSE transform(slice(xs, 2, size(xs)), b ->
               struct(xs[0] AS doc_a, b AS doc_b))
        END""")
    cand = (buckets.select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b").distinct())
    ha = hashes.select(F.col(id_col).alias("doc_a"),
                       F.col("frame_idx").alias("fa"),
                       F.col("simhash").alias("sha"))
    hb = hashes.select(F.col(id_col).alias("doc_b"),
                       F.col("frame_idx").alias("fb"),
                       F.col("simhash").alias("shb"))
    return (cand.join(ha, "doc_a")
            .join(hb, ["doc_b"])
            .filter(F.col("fa") == F.col("fb"))
            .groupBy("doc_a", "doc_b")
            .agg(F.expr("CAST(SUM(bit_count(sha ^ shb)) AS BIGINT)")
                 .alias("hamming"),
                 F.count("*").alias("_nm"))
            .join(nf.select(F.col(id_col).alias("doc_a"),
                            F.col("nf").alias("_nfa")), "doc_a")
            .join(nf.select(F.col(id_col).alias("doc_b"),
                            F.col("nf").alias("_nfb")), "doc_b")
            .filter((F.col("_nm") == F.col("_nfa"))
                    & (F.col("_nm") == F.col("_nfb"))
                    & (F.col("hamming") <= max_total_hamming))
            .select("doc_a", "doc_b", "hamming"))


def planted_mjpeg_neardup_sql(table: str = "documents",
                              max_total_hamming: int = 4,
                              id_col: str = "doc_id") -> str:
    """Near-dup video pairs over the planted frame hashes — banding and
    the frame-aligned total distance spelled relationally."""
    return f"""
    WITH sigs AS ({planted_mjpeg_hash_sql(table, id_col)}),
    melted AS (
      SELECT {id_col}, frame_idx, simhash, b AS band,
             (simhash // CAST(pow(32768, b) AS BIGINT)) % 32768 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM melted a JOIN melted b
        ON a.frame_idx = b.frame_idx AND a.band = b.band
       AND a.nib = b.nib AND a.{id_col} < b.{id_col}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(SUM(bit_count(xor(sa.simhash, sb.simhash))) AS BIGINT)
               AS hamming
    FROM cand c
    JOIN sigs sa ON sa.{id_col} = c.doc_a
    JOIN sigs sb ON sb.{id_col} = c.doc_b
     AND sb.frame_idx = sa.frame_idx
    GROUP BY c.doc_a, c.doc_b
    HAVING SUM(bit_count(xor(sa.simhash, sb.simhash)))
           <= {max_total_hamming}
    """


# --------------------------------------------------------------------------
# FLAC STREAMINFO walk: the audio container #3 (lossless archives)
# --------------------------------------------------------------------------

FLAC_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("bits_per_sample", T.LongType()),
    T.StructField("total_samples", T.LongType()),
    T.StructField("n_meta_blocks", T.LongType()),
])


def parse_flac_meta(payload: bytes) -> dict | None:
    """REAL FLAC metadata walk (the lossless-archive container a speech
    corpus's masters ship in): 'fLaC' magic, then metadata blocks each
    headed by (last-flag bit | 7-bit type, 24-bit big-endian length) —
    the hop is header-derived like every container walk here. The spec
    mandates STREAMINFO (type 0, 34 bytes) first; its packed 64-bit
    field is sample_rate(20) channels-1(3) bits-1(5) total_samples(36).
    Non-FLAC → None (drop); structural violations (bad first block,
    truncated block, missing last-flag) → ValueError (drop)."""
    b = payload
    if len(b) < 4 or b[:4] != b"fLaC":
        return None
    off = 4
    n_blocks = 0
    info = None
    last = False
    while not last:
        if off + 4 > len(b):
            raise ValueError("truncated FLAC block header")
        hdr = b[off]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(b[off + 1:off + 4], "big")
        body = b[off + 4:off + 4 + length]
        if len(body) != length:
            raise ValueError("truncated FLAC block body")
        if n_blocks == 0:
            if btype != 0 or length != 34:
                raise ValueError("first block must be STREAMINFO(34)")
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
            }
        n_blocks += 1
        off += 4 + length
    info["n_meta_blocks"] = n_blocks
    return info


def extract_flac_meta(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched FLAC STREAMINFO extraction; undecodable drop."""
    cols = [f.name for f in FLAC_META_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                b = (b"" if p is None else
                     (p if isinstance(p, (bytes, bytearray)) else bytes(p)))
                try:
                    m = parse_flac_meta(b)
                except ValueError:
                    continue
                if m is not None:
                    rows.append({"doc_id": int(did), **m})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, FLAC_META_SCHEMA)


def synthesize_planted_flac(docs: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload): VALID FLAC metadata sections — STREAMINFO
    with arithmetic fields (rate 8000+(id%5)*8000, channels 1+(id%2),
    16-bit, total 1000+(id%100) samples), then for id%3==0 a PADDING
    block the walker must hop, then a VORBIS_COMMENT-typed last block.
    JVM-side hex/unhex assembly (the Python side only ever PARSES)."""
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism)
    did = F.col(id_col)
    rate = F.lit(8000) + (did % 5) * 8000
    channels = (did % 2) + 1            # stored as channels-1
    total = F.lit(1000) + (did % 100)
    # packed 64-bit field: rate<<44 | (ch-1)<<41 | (bits-1)<<36 | total
    packed = (rate.cast("long") * F.lit(1 << 44).cast("long")
              + (channels - 1).cast("long") * F.lit(1 << 41).cast("long")
              + F.lit(15).cast("long") * F.lit(1 << 36).cast("long")
              + total.cast("long"))
    si_body = F.concat(
        _hex_be(F.lit(4096), 2), _hex_be(F.lit(4096), 2),   # blocksizes
        _hex_be(F.lit(0), 3), _hex_be(F.lit(0), 3),         # framesizes
        _hex_be(packed, 8),
        F.lit("00" * 16))                                   # md5 zero
    streaminfo = F.concat(_hex_be(F.lit(0), 1), _hex_be(F.lit(34), 3),
                          si_body)
    padding = F.when(did % 3 == 0,
                     F.concat(_hex_be(F.lit(1), 1), _hex_be(F.lit(8), 3),
                              F.lit("00" * 8))).otherwise(F.lit(""))
    comment = F.concat(_hex_be(F.lit(0x80 | 4), 1), _hex_be(F.lit(4), 3),
                       F.hex(F.lit("etl!")))
    flac_hex = F.concat(F.hex(F.lit("fLaC")), streaminfo, padding,
                        comment)
    return docs.select(id_col, F.unhex(flac_hex).alias("payload"))


def planted_flac_meta_sql(table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`extract_flac_meta` over the planted
    fixture: every field regenerated arithmetically."""
    return f"""
    SELECT {id_col},
           CAST(8000 + ({id_col} % 5) * 8000 AS BIGINT) AS sample_rate,
           CAST(({id_col} % 2) + 1 AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(1000 + ({id_col} % 100) AS BIGINT) AS total_samples,
           CAST(CASE WHEN {id_col} % 3 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_meta_blocks
    FROM {table}
    """
