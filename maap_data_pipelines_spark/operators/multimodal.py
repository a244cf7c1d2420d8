"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a typed metadata
struct alongside (media_type, width, height, n_bytes). Decode /
feature-extract run as Arrow-batched ``mapInPandas`` — the Spark-side
plumbing (schema, batch shape, partitioning) is real and tested; the
actual codec call is STUBBED (no image/audio libraries in this
environment) behind ``decode_media``, which raises NotImplementedError
unless ``allow_stub=True`` substitutes a deterministic fake.

At 100 TB: binary payloads ride the same parquet scans as every other
column (columnar pruning means metadata-only queries never read the
bytes); feature extraction is embarrassingly parallel over Arrow record
batches with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .dedup import _cc_sql, _components

FEATURE_DIM = 16

MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, "
    "n_bytes bigint, payload binary"
)


def make_media_df(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from documents.

    The text bytes stand in for an encoded image payload; width/height
    are deterministic metadata. This is the ingestion shape a real
    pipeline would produce (payload + typed metadata side-by-side).
    """
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        ((F.col("doc_id") % 16 + 1) * 64).cast("int").alias("width"),
        ((F.col("doc_id") % 9 + 1) * 64).cast("int").alias("height"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        payload.alias("payload"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _decode_png(payload: bytes) -> np.ndarray:
    """Stdlib PNG decode: chunk walk -> zlib inflate -> unfilter.

    Supports the non-interlaced 8-bit-depth profiles (gray / RGB /
    gray+alpha / RGBA) — the shapes every screenshot/thumbnail pipeline
    actually emits. Returns pixels as a flat int64 array in top-down
    row-major sample order (the same 1-D contract as the WAV path, so
    every downstream histogram/hash/window operator is codec-agnostic).
    Filters 0-4 (None/Sub/Up/Average/Paeth) are reconstructed per spec;
    the per-byte Python loop is fine at Arrow-batch test scale — a
    production deployment swaps this function for a vectorized library
    behind the identical mapInPandas plumbing.
    """
    import struct
    import zlib

    buf = bytes(payload)
    pos = len(_PNG_SIG)
    ihdr = None
    idat = b""
    while pos + 8 <= len(buf):
        (length,), ctype = struct.unpack(">I", buf[pos : pos + 4]), buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, ctype_code, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype_code not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"unsupported PNG profile: depth={depth} color={ctype_code} "
            f"interlace={interlace}"
        )
    ch = _PNG_CHANNELS[ctype_code]
    stride = width * ch
    raw = zlib.decompress(idat)
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG scanline payload size mismatch")
    out = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(height):
        f = raw[r * (stride + 1)]
        cur = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        else:  # Sub / Average / Paeth need the in-row left neighbor
            rec = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                b = prev[i]
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    c = prev[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter byte: {f}")
                rec[i] = (cur[i] + pred) & 0xFF
        out[r] = rec
        prev = rec
    return out.reshape(-1)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Stdlib BMP decode: BITMAPFILEHEADER + BITMAPINFOHEADER walk.

    Supports uncompressed (BI_RGB) 24-bit BGR and 32-bit BGRA — the
    profiles screenshots and uncompressed exports actually carry. Rows
    are stored bottom-up (top-down when the height field is negative)
    and padded to 4-byte boundaries; both are normalized away so the
    return is the SAME 1-D top-down row-major sample contract as the
    PNG/WAV paths (samples converted BGR(A) -> RGB(A) so identical
    pixels decode to identical arrays regardless of container), keeping
    every downstream histogram/hash/window operator codec-agnostic.
    Palette, RLE, and 1/4/8/16-bit profiles raise NotImplementedError
    (the honesty gate); corrupt containers raise ValueError/struct.error
    and fall back to the byte-stub under ``allow_stub`` exactly like the
    PNG path.
    """
    import struct

    buf = bytes(payload)
    if len(buf) < 54:
        raise ValueError("BMP truncated before headers")
    magic, _size, _res, offset = struct.unpack("<2sIII", buf[:14])
    hsize, width, height, _planes, bpp, comp = struct.unpack(
        "<IiiHHI", buf[14:34]
    )
    if hsize < 40:
        raise NotImplementedError(f"unsupported BMP header size: {hsize}")
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"unsupported BMP profile: bpp={bpp} compression={comp}"
        )
    if width <= 0 or height == 0:
        raise ValueError("BMP degenerate dimensions")
    top_down = height < 0
    height = abs(height)
    ch = bpp // 8
    row_bytes = width * ch
    stride = (row_bytes + 3) & ~3  # rows pad to 4-byte boundaries
    if offset + stride * height > len(buf):
        raise ValueError("BMP pixel array truncated")
    out = np.zeros((height, row_bytes), dtype=np.int64)
    for r in range(height):
        src = r if top_down else height - 1 - r
        row = np.frombuffer(
            buf, dtype=np.uint8, count=row_bytes, offset=offset + src * stride
        ).astype(np.int64)
        px = row.reshape(width, ch)
        px = px[:, [2, 1, 0] + ([3] if ch == 4 else [])]  # BGR(A) -> RGB(A)
        out[r] = px.reshape(-1)
    return out.reshape(-1)


_BMP_SIG = b"BM"


def _gif_lzw_decode(data: bytes, mcs: int, n_pixels: int) -> bytes:
    """GIF-variant LZW decompression (spec appendix F): LSB-first bit
    packing, clear/end control codes, dictionary growing 2^mcs+2 ->
    4096, code width bumping when the table fills its width. Pure
    stdlib; the per-code Python loop is fine at Arrow-batch test scale
    (same stance as the PNG unfilter loop)."""
    clear = 1 << mcs
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = mcs + 1
    acc = 0
    nbits = 0
    prev: bytes | None = None
    out: list[bytes] = []
    total = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = mcs + 1
                prev = None
                continue
            if code == end:
                return b"".join(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt GIF LZW stream (first code)")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                if len(table) < 4096:
                    table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream (code gap)")
            out.append(entry)
            total += len(entry)
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
            if total >= n_pixels:
                return b"".join(out)
    return b"".join(out)


def _decode_gif(payload: bytes) -> np.ndarray:
    """Stdlib GIF decode: header walk -> LZW inflate -> palette lookup.

    GIF87a and GIF89a, global or local color table, interlaced or
    sequential row order; decodes the FIRST image descriptor (for
    animations that is frame 1 — full multi-frame compositing with
    disposal methods stays honestly out of scope). Extension blocks
    (GCE/comment/application) are walked and skipped; transparency is
    ignored (output is opaque RGB). Returns the same flat int64
    top-down row-major RGB sample contract as the PNG/BMP paths, so
    identical pixels decode identically regardless of container and
    every downstream histogram/hash/window operator stays
    codec-agnostic. Corrupt containers raise ValueError/struct.error
    and fall back to the byte-stub under ``allow_stub`` exactly like
    the PNG/BMP paths.
    """
    import struct

    buf = bytes(payload)
    if buf[:6] not in (b"GIF87a", b"GIF89a") or len(buf) < 13:
        raise ValueError("not a GIF")
    _sw, _sh, packed, _bg, _ar = struct.unpack("<HHBBB", buf[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x7)
        if pos + 3 * n > len(buf):
            raise ValueError("GIF global color table truncated")
        gct = np.frombuffer(buf, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(buf):
        b0 = buf[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label byte + data sub-blocks
            pos += 2
            while pos < len(buf) and buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        if pos + 10 > len(buf):
            raise ValueError("GIF image descriptor truncated")
        _ix, _iy, iw, ih, ipacked = struct.unpack("<HHHHB", buf[pos + 1 : pos + 10])
        pos += 10
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x7)
            if pos + 3 * n > len(buf):
                raise ValueError("GIF local color table truncated")
            ct = np.frombuffer(buf, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image with no color table")
        if iw <= 0 or ih <= 0:
            raise ValueError("GIF degenerate dimensions")
        if pos >= len(buf):
            raise ValueError("GIF pixel data truncated")
        mcs = buf[pos]
        pos += 1
        if not 2 <= mcs <= 11:
            raise ValueError(f"bad GIF LZW minimum code size: {mcs}")
        data = bytearray()
        while True:
            if pos >= len(buf):
                raise ValueError("GIF pixel data truncated")
            ln = buf[pos]
            pos += 1
            if ln == 0:
                break
            data += buf[pos : pos + ln]
            pos += ln
        indices = _gif_lzw_decode(bytes(data), mcs, iw * ih)
        if len(indices) < iw * ih:
            raise ValueError("GIF pixel data truncated")
        idx = np.frombuffer(indices[: iw * ih], np.uint8).astype(np.int64)
        if idx.max() >= len(ct):
            raise ValueError("GIF palette index out of range")
        idx = idx.reshape(ih, iw)
        if ipacked & 0x40:  # interlaced: 4-pass row order -> sequential
            seq = np.zeros_like(idx)
            row = 0
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                for r in range(start, ih, step):
                    seq[r] = idx[row]
                    row += 1
            idx = seq
        return ct[idx].astype(np.int64).reshape(-1)
    raise ValueError("GIF contains no image data")


_GIF_SIGS = (b"GIF87a", b"GIF89a")


def decode_media(payload: bytes, media_type: str, allow_stub: bool = False) -> np.ndarray:
    """Decode a media payload to a pixel/sample array.

    FOUR REAL CODEC PATHS (WAV, PNG, BMP, GIF), zero new dependencies:

    - ``audio/wav`` payloads that are actual RIFF/WAVE containers are
      parsed with the stdlib ``wave`` module — container header
      stripped, fmt chunk honoured, interleaved PCM frames returned as
      int64 samples (8-bit unsigned and 16-bit signed little-endian,
      the two classic PCM encodings).
    - ``image/png`` payloads that carry the PNG signature are decoded
      via the stdlib ``zlib`` chunk walk in :func:`_decode_png`
      (8-bit gray/RGB/gray+alpha/RGBA, filters 0-4, non-interlaced).
    - ``image/bmp`` payloads that carry the BM signature are decoded
      via the stdlib ``struct`` header walk in :func:`_decode_bmp`
      (uncompressed 24/32-bit, bottom-up or top-down, row padding
      stripped, BGR(A) normalized to RGB(A)).
    - ``image/gif`` payloads that carry a GIF87a/GIF89a signature are
      decoded via the stdlib LZW walk in :func:`_decode_gif` (global or
      local palette, interlaced or sequential, first frame of
      animations, palette-expanded to the same RGB contract).

    tests/test_multimodal.py generates real WAV and real PNG bytes and
    drives them through the window/histogram/hash operators end-to-end.

    Everything else stays STUBBED: video decoding needs ffmpeg, exotic
    PNG/WAV profiles need PIL/soundfile, none of which are in this
    container. With ``allow_stub`` an unsupported payload falls back to
    byte-passthrough (deterministic, shape-correct plumbing); without
    it this raises so nobody mistakes the stub for a real codec.
    """
    if (
        media_type == "audio/wav"
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    ):
        import io
        import wave

        with wave.open(io.BytesIO(bytes(payload))) as wf:
            width = wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
        if width == 1:
            return np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        if width == 2:
            return np.frombuffer(raw, dtype="<i2").astype(np.int64)
        if not allow_stub:
            raise NotImplementedError(
                f"unsupported WAV sample width: {width}; pass allow_stub=True"
                " for the deterministic byte-passthrough used in tests"
            )
        return np.frombuffer(payload, dtype=np.uint8)
    if media_type == "image/png" and payload[: len(_PNG_SIG)] == _PNG_SIG:
        # ADVICE r9 (low): a corrupt payload that still carries the PNG
        # signature surfaces as zlib.error (bad IDAT stream), ValueError
        # (scanline size / filter byte), or struct.error (truncated
        # chunk header) — all must fall back to byte-passthrough under
        # allow_stub exactly like an unsupported profile, or one bad row
        # fails the whole Arrow batch in extract_features.
        import struct
        import zlib

        try:
            return _decode_png(payload)
        except (NotImplementedError, ValueError, zlib.error, struct.error):
            if not allow_stub:
                raise
            return np.frombuffer(payload, dtype=np.uint8)
    if media_type == "image/bmp" and payload[: len(_BMP_SIG)] == _BMP_SIG:
        import struct

        try:
            return _decode_bmp(payload)
        except (NotImplementedError, ValueError, struct.error):
            if not allow_stub:
                raise
            return np.frombuffer(payload, dtype=np.uint8)
    if media_type == "image/gif" and payload[:6] in _GIF_SIGS:
        import struct

        try:
            return _decode_gif(payload)
        except (NotImplementedError, ValueError, struct.error):
            if not allow_stub:
                raise
            return np.frombuffer(payload, dtype=np.uint8)
    if not allow_stub:
        raise NotImplementedError(
            f"no codec available for {media_type}; pass allow_stub=True for "
            "the deterministic byte-passthrough used in tests"
        )
    return np.frombuffer(payload, dtype=np.uint8)


_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOF0-15 minus DHT/JPG/DAC


def probe_media(payload: bytes) -> dict:
    """Header-only container probe — the ffprobe analogue, stdlib-only.

    Parses just enough of the container to report (container, width,
    height, channels, bits) WITHOUT decoding pixel/sample data — the
    cheap first pass a 100 TB media pipeline runs on every blob to
    route it (decode tier, resize target, corrupt-quarantine) before
    any expensive codec touches it. Five real header walks:

    - PNG: IHDR chunk (width/height/depth/color type).
    - BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (bpp, signed height).
    - WAV: RIFF/WAVE fmt chunk walk (channels, bits per sample).
    - JPEG: marker walk to the first SOF segment (precision, height,
      width, component count) — header-only where a full stdlib decode
      is infeasible (DCT + Huffman), exactly the honesty-gate contract:
      REAL metadata, stubbed pixels.
    - GIF: GIF87a/GIF89a logical screen descriptor (little-endian
      width/height, color resolution bits from the packed field).

    Unrecognized or truncated payloads return ok=False with NULL
    fields — a probe never raises (it exists to FIND the corrupt
    blobs), pinned by the corruption tests beside the decode gates.
    """
    import struct

    buf = bytes(payload)
    out = {
        "container": None,
        "width": None,
        "height": None,
        "channels": None,
        "bits": None,
        "ok": False,
    }
    try:
        if buf[: len(_PNG_SIG)] == _PNG_SIG and len(buf) >= 33:
            length, ctype = struct.unpack(">I4s", buf[8:16])
            if ctype == b"IHDR" and length >= 13:
                w, h, depth, color = struct.unpack(">IIBB", buf[16:26])
                out.update(
                    container="png",
                    width=w,
                    height=h,
                    channels=_PNG_CHANNELS.get(color),
                    bits=depth,
                    ok=True,
                )
        elif buf[:2] == _BMP_SIG and len(buf) >= 34:
            _hsize, w, h, _planes, bpp, _comp = struct.unpack(
                "<IiiHHI", buf[14:34]
            )
            if w > 0 and h != 0:
                out.update(
                    container="bmp",
                    width=w,
                    height=abs(h),
                    channels=bpp // 8 if bpp >= 8 else 1,
                    bits=bpp,
                    ok=True,
                )
        elif buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
            pos = 12
            while pos + 8 <= len(buf):
                cid, clen = struct.unpack("<4sI", buf[pos : pos + 8])
                if cid == b"fmt " and pos + 8 + 16 <= len(buf):
                    _fmt, ch, _rate = struct.unpack(
                        "<HHI", buf[pos + 8 : pos + 16]
                    )
                    bits = struct.unpack("<H", buf[pos + 22 : pos + 24])[0]
                    out.update(
                        container="wav", channels=ch, bits=bits, ok=True
                    )
                    break
                pos += 8 + clen + (clen & 1)  # chunks pad to even offsets
        elif buf[:2] == b"\xff\xd8":
            pos = 2
            while pos + 2 <= len(buf):
                if buf[pos] != 0xFF:
                    break
                # spec-legal 0xFF fill/padding runs may precede any
                # marker (B.1.1.2); consume the run, then the marker id
                while pos < len(buf) and buf[pos] == 0xFF:
                    pos += 1
                if pos >= len(buf):
                    break
                marker = buf[pos]
                pos += 1
                if marker == 0xD9 or marker == 0xDA or marker == 0x00:
                    break  # EOI / SOS / stuffed byte: no SOF seen
                if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                    continue  # TEM / RSTn: standalone, no length field
                if pos + 2 > len(buf):
                    break
                seglen = struct.unpack(">H", buf[pos : pos + 2])[0]
                if marker in _JPEG_SOF_MARKERS and pos + 2 + 6 <= len(buf):
                    prec, h, w, ncomp = struct.unpack(
                        ">BHHB", buf[pos + 2 : pos + 8]
                    )
                    out.update(
                        container="jpeg",
                        width=w,
                        height=h,
                        channels=ncomp,
                        bits=prec,
                        ok=True,
                    )
                    break
                pos += seglen
        elif buf[:6] in (b"GIF87a", b"GIF89a") and len(buf) >= 11:
            w, h, packed = struct.unpack("<HHB", buf[6:11])
            out.update(
                container="gif",
                width=w,
                height=h,
                channels=1,  # palette-indexed
                bits=((packed >> 4) & 0x7) + 1,  # color resolution
                ok=True,
            )
    except (struct.error, IndexError):
        pass  # truncated mid-walk: report ok=False, never raise
    return out


def media_container_probe(media: DataFrame) -> DataFrame:
    """Route-before-decode probe table via Arrow-batched mapInPandas.

    Per payload: the header-only probe fields plus a mismatch flag
    against the TYPED metadata columns (a container whose parsed
    dimensions disagree with the catalog's width/height is the classic
    silent-corruption signature a DQ gate quarantines). Tests drive
    real PNG/BMP/WAV/JPEG/GIF bytes and truncations through it; on the
    synthetic text-byte corpus every payload probes ok=False by design
    (no signature), which is itself the pinned behavior.
    """
    import pandas as pd

    schema = (
        "doc_id long, media_type string, container string, probe_width int, "
        "probe_height int, channels int, bits int, parse_ok boolean, "
        "dims_match boolean"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                p = probe_media(r["payload"])
                rows.append(
                    {
                        "doc_id": r["doc_id"],
                        "media_type": r["media_type"],
                        "container": p["container"],
                        "probe_width": p["width"],
                        "probe_height": p["height"],
                        "channels": p["channels"],
                        "bits": p["bits"],
                        "parse_ok": p["ok"],
                        "dims_match": (
                            p["ok"]
                            and p["width"] == r["width"]
                            and p["height"] == r["height"]
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return media.select(
        "doc_id", "media_type", "width", "height", "payload"
    ).mapInPandas(_batches, schema)


def extract_features(media: DataFrame, allow_stub: bool = True) -> DataFrame:
    """Per-payload feature vector via Arrow-batched mapInPandas.

    Features: FEATURE_DIM-bucket byte histogram, L1-normalized — a stand-in
    for an embedding model forward pass with identical plumbing (binary in,
    fixed-dim float array out, zero shuffle).
    """
    schema = f"doc_id bigint, media_type string, n_bytes bigint, features array<double>"

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                arr = decode_media(payload, mt, allow_stub=allow_stub)
                hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(
                    np.float64
                )
                total = hist.sum()
                feats.append((hist / total if total else hist).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return media.mapInPandas(_batches, schema=schema)


FEATURE_WEIGHT_MICRO = 1_000_000


def extract_feature_histogram(media: DataFrame, allow_stub: bool = True) -> DataFrame:
    """Exploded, exact-integer rendering of :func:`extract_features`.

    One row per (doc, non-zero bucket): ``n_bucket_bytes`` is the exact
    byte count in the bucket and ``weight_micro`` the L1 weight in
    integer micro-units (count * 1e6 div total — both operands
    non-negative, so truncating division is exact and portable). Same
    Arrow-batched mapInPandas decode plumbing as extract_features; the
    flat-integer shape makes the whole decode path value-hash checkable
    against a SQL oracle (driver canonicalizers cannot hash array
    columns). Zero shuffle; output partitioning inherited from the scan.
    """
    schema = (
        "doc_id bigint, media_type string, bucket bigint, "
        "n_bucket_bytes bigint, weight_micro bigint"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("doc_id", "media_type", "bucket",
                                   "n_bucket_bytes", "weight_micro")}
            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                arr = decode_media(payload, mt, allow_stub=allow_stub)
                if len(arr) == 0:
                    continue
                hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM)
                total = int(hist.sum())
                for b in np.nonzero(hist)[0]:
                    c = int(hist[b])
                    out["doc_id"].append(int(doc_id))
                    out["media_type"].append(mt)
                    out["bucket"].append(int(b))
                    out["n_bucket_bytes"].append(c)
                    out["weight_micro"].append(c * FEATURE_WEIGHT_MICRO // total)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "media_type": pd.Series(out["media_type"], dtype="object"),
                    "bucket": pd.Series(out["bucket"], dtype="int64"),
                    "n_bucket_bytes": pd.Series(out["n_bucket_bytes"], dtype="int64"),
                    "weight_micro": pd.Series(out["weight_micro"], dtype="int64"),
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        _batches, schema=schema
    )


FRAME_BYTES = 64
FRAME_SAMPLE_EVERY = 4


def frame_sample(media: DataFrame) -> DataFrame:
    """Sample every 4th fixed-size frame from each payload (fan-out).

    The video-pipeline plumbing shape: one binary row in, one row per
    SAMPLED frame out, via Arrow-batched ``mapInPandas`` — zero shuffle,
    embarrassingly parallel, output partitioning inherited from the scan.
    The stub "decode" treats the payload as a flat byte stream chopped
    into FRAME_BYTES-byte frames (a real deployment swaps in an ffmpeg
    keyframe reader with the identical signature); the checksum is the
    exact int64 sum of frame bytes, so the whole fan-out is
    oracle-checkable (payloads are ASCII text bytes, so byte slices ==
    char slices in the SQL rendering).
    """
    import numpy as np

    schema = "doc_id bigint, frame_idx bigint, n_frame_bytes bigint, checksum bigint"

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            doc_ids: list[int] = []
            idxs: list[int] = []
            sizes: list[int] = []
            sums: list[int] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n_frames = -(-len(arr) // FRAME_BYTES)  # ceil
                for k in range(0, n_frames, FRAME_SAMPLE_EVERY):
                    fr = arr[k * FRAME_BYTES : (k + 1) * FRAME_BYTES]
                    doc_ids.append(int(doc_id))
                    idxs.append(k)
                    sizes.append(len(fr))
                    sums.append(int(fr.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_frame_bytes": pd.Series(sizes, dtype="int64"),
                    "checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(_batches, schema=schema)


SCENE_CUT_TOPK = 3
SCENE_HIST_BUCKETS = 16


def scene_cut_deltas(media: DataFrame) -> DataFrame:
    """Per-frame histogram deltas over video payloads — scene-cut signal.

    The shot-boundary primitive every video curation pipeline runs
    before frame dedup / clip selection: consecutive FULL frames (the
    trailing partial frame is skipped — its smaller byte count would
    read as a spurious cut) each get a 16-bucket byte histogram
    (byte >> 4); the cut signal is the exact integer L1 distance between
    adjacent histograms. Arrow-batched ``mapInPandas`` fan-out, zero
    shuffle, output partitioning inherited from the scan; a real
    deployment swaps the stub byte-decode for an ffmpeg frame reader
    with the identical (doc_id, frame_idx, l1_dist) contract.
    """
    import numpy as np

    schema = "doc_id bigint, frame_idx bigint, l1_dist bigint"

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[int] = []
            idxs: list[int] = []
            dists: list[int] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)
                n_full = len(arr) // FRAME_BYTES
                if n_full < 2:
                    continue
                buck = (arr[: n_full * FRAME_BYTES] >> 4).reshape(
                    n_full, FRAME_BYTES
                )
                hists = np.stack(
                    [
                        np.bincount(row, minlength=SCENE_HIST_BUCKETS)
                        for row in buck
                    ]
                ).astype(np.int64)
                l1 = np.abs(np.diff(hists, axis=0)).sum(axis=1)
                for k in range(1, n_full):
                    ids.append(int(doc_id))
                    idxs.append(k)
                    dists.append(int(l1[k - 1]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "l1_dist": pd.Series(dists, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(_batches, schema=schema)


def media_scene_cuts(media: DataFrame) -> DataFrame:
    """Top-SCENE_CUT_TOPK scene-cut candidates per video.

    Rank-relative cut selection (the degeneracy discipline): the K
    largest inter-frame histogram deltas per video surface as cut
    candidates — never empty on low-motion content, and real hard cuts
    sort first. Per-video window over frame-count-bounded rows.
    """
    from pyspark.sql.window import Window

    deltas = scene_cut_deltas(media.filter(F.col("media_type") == "video/mp4"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("l1_dist"), "frame_idx")
    return (
        deltas.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= SCENE_CUT_TOPK)
        .orderBy("doc_id", "rnk")
    )


# ASCII byte == char under the stub identity, so the byte-bucket
# histogram is a char-codepoint histogram and the whole cut signal is
# SQL-expressible (the media_frame_sample discipline).
MEDIA_SCENE_CUTS_SQL = f"""
WITH m AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, k AS frame_idx,
         substring(text, CAST(k * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES})
           AS frame
  FROM m, UNNEST(range(0, n // {FRAME_BYTES})) AS t(k)
),
h AS (
  SELECT doc_id, frame_idx,
         list_transform(range(0, {SCENE_HIST_BUCKETS}), b ->
           CAST(len(list_filter(
             list_transform(range(1, {FRAME_BYTES} + 1),
                            i -> ord(substring(frame, CAST(i AS INT), 1)) // 16),
             v -> v = b)) AS BIGINT)) AS hist
  FROM f
),
d AS (
  SELECT doc_id, frame_idx, hist,
         lag(hist) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
  FROM h
),
l AS (
  SELECT doc_id, frame_idx,
         CAST(list_sum(list_transform(range(1, {SCENE_HIST_BUCKETS} + 1),
              i -> abs(hist[i] - prev[i]))) AS BIGINT) AS l1_dist
  FROM d WHERE prev IS NOT NULL
)
SELECT doc_id, frame_idx, l1_dist,
       CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY l1_dist DESC, frame_idx) AS BIGINT) AS rnk
FROM l
QUALIFY rnk <= {SCENE_CUT_TOPK}
ORDER BY doc_id, rnk
"""


AUDIO_WINDOW_BYTES = 128
AUDIO_HOP_BYTES = 64


def audio_windows(media: DataFrame, decode: bool = False) -> DataFrame:
    """Overlapping sliding windows over audio payloads (STFT-frame shape).

    Unlike :func:`frame_sample` (disjoint frames), windows OVERLAP:
    window k covers bytes [k*hop, k*hop + window), hop < window — the
    frame layout every spectral feature (STFT/MFCC) consumes. Only
    windows that fit entirely are emitted (standard truncation).

    Two signal paths, identical plumbing:
    * ``decode=False`` (default, the registered/oracled contract): the
      stub "signal" is the raw byte stream; sum and peak per window are
      exact integers, fully oracle-checkable.
    * ``decode=True``: payloads go through :func:`decode_media`'s REAL
      codec (RIFF/WAVE parse) and windows run over the L1 MAGNITUDE of
      the PCM samples — signed 16-bit audio sums to ~0 raw, so |x| is
      the energy measure that makes the downstream quiet-threshold
      (silence_runs) meaningful on real audio.

    Zero shuffle either way; output partitioning inherited from the scan.
    """
    import numpy as np

    schema = (
        "doc_id bigint, window_idx bigint, window_sum bigint, window_peak bigint"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("doc_id", "window_idx", "window_sum", "window_peak")}
            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                if decode:
                    arr = np.abs(decode_media(payload, mt))
                else:
                    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n_win = (len(arr) - AUDIO_WINDOW_BYTES) // AUDIO_HOP_BYTES + 1
                for k in range(max(n_win, 0)):
                    w = arr[k * AUDIO_HOP_BYTES : k * AUDIO_HOP_BYTES + AUDIO_WINDOW_BYTES]
                    out["doc_id"].append(int(doc_id))
                    out["window_idx"].append(k)
                    out["window_sum"].append(int(w.sum()))
                    out["window_peak"].append(int(w.max()))
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="int64") for k, v in out.items()}
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        _batches, schema=schema
    )


RESIZE_FACTOR = 2


def resize_media(media: DataFrame) -> DataFrame:
    """Stub 2x downsample per payload (mapInPandas, zero shuffle).

    The image-resize plumbing shape: payload in, reduced payload stats +
    halved metadata out. The stub "resample" keeps every RESIZE_FACTOR-th
    byte (a real deployment swaps in PIL/opencv with this exact
    signature); the resized byte count and checksum are exact integers,
    so the whole op is oracle-checkable through the ASCII byte==char
    identity.
    """
    import numpy as np

    schema = (
        "doc_id bigint, new_width int, new_height int, "
        "n_resized_bytes bigint, resized_checksum bigint"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("doc_id", "new_width", "new_height",
                                   "n_resized_bytes", "resized_checksum")}
            for doc_id, w, h, payload in zip(
                pdf["doc_id"], pdf["width"], pdf["height"], pdf["payload"]
            ):
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                kept = arr[::RESIZE_FACTOR]
                out["doc_id"].append(int(doc_id))
                out["new_width"].append(int(w) // RESIZE_FACTOR)
                out["new_height"].append(int(h) // RESIZE_FACTOR)
                out["n_resized_bytes"].append(len(kept))
                out["resized_checksum"].append(int(kept.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "new_width": pd.Series(out["new_width"], dtype="int32"),
                    "new_height": pd.Series(out["new_height"], dtype="int32"),
                    "n_resized_bytes": pd.Series(out["n_resized_bytes"], dtype="int64"),
                    "resized_checksum": pd.Series(out["resized_checksum"], dtype="int64"),
                }
            )

    return media.select("doc_id", "width", "height", "payload").mapInPandas(
        _batches, schema=schema
    )


def media_metadata_summary(media: DataFrame) -> DataFrame:
    """Metadata-only rollup — never touches the payload column.

    Column pruning keeps the binary bytes out of the scan entirely; at
    100 TB this is the difference between a metadata query and a full
    table read (verify via .explain: ReadSchema excludes 'payload').
    """
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )


# -- perceptual-hash near-dup (aHash over payload bytes) -------------------

PHASH_BITS = 60  # 4 x 15-bit pieces; bit 63 stays clear of the sign bit
PHASH_PIECES = 4
PHASH_PIECE_BITS = 15
PHASH_MAX_HAMMING = 3


@F.pandas_udf(LongType())
def _phash_udf(s: pd.Series) -> pd.Series:
    """aHash of a decoded payload string — one Arrow batch, exact int64.

    Identical by construction to the relational form it replaced (see
    media_phash_dedup): codepoints via utf-32 units (== ascii() /
    length() semantics, BMP and beyond), sample position
    ``(i * n) div 60`` (floor — both factors non-negative), bit i set
    iff ``sample * n >= total`` in exact int64.
    """
    shifts = np.left_shift(np.int64(1), np.arange(PHASH_BITS, dtype=np.int64))
    fracs = np.arange(PHASH_BITS, dtype=np.int64)

    def one(x: str) -> int:
        arr = np.frombuffer(x.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        n = arr.size
        pos = (fracs * n) // PHASH_BITS
        return int(shifts[arr[pos] * n >= arr.sum()].sum())

    return s.map(one)


def media_phash_dedup(media: DataFrame) -> DataFrame:
    """Perceptual near-dup pairs over media payloads: average-hash + blocking.

    The multimodal rung of the dedup family: an aHash-style signature —
    60 byte positions sampled at fixed fractions of the payload, bit i
    set iff sample_i >= payload mean — is invariant to the re-encodes
    that break exact hashing (appended metadata shifts bytes little;
    identical payloads collide exactly). The mean comparison is exact
    integer cross-multiplication (b * n >= total), no division.

    Near-dup candidates come from SimHash-style pigeonhole blocking:
    4 x 15-bit pieces, pairs sharing >= 1 piece (complete for Hamming <=
    3 by pigeonhole), verified by bit_count(xor) — every stage an
    equi-join or map, nothing corpus-quadratic. Signatures ride the
    piece rows so verification needs no re-join (the MinHash lesson).

    Stub reality: payloads are the documents' utf-8 bytes (see
    make_media_df), so the oracle reproduces the hash byte-for-byte via
    the ASCII char==byte identity.

    Scale dial: piece width sets candidate volume — near-uniform hash
    bits mean ~N/2^15 docs per 15-bit bucket, right for ~1e6-doc shards;
    at billions of payloads widen the pieces (raise PHASH_BITS and
    PHASH_PIECE_BITS together) to hold bucket sizes, and thus the
    verify-join's fan-in, constant.
    """
    base = (
        media.select(
            "doc_id", F.decode(F.col("payload"), "utf-8").alias("s")
        )
        .withColumn("n", F.length("s").cast("long"))
        .filter(F.col("n") >= 1)
    )
    # r12 (guide §4.2): the hash used to be computed relationally — one
    # exploded row PER CHARACTER for the mean (plus 60 rows/doc for the
    # samples) re-joined on doc_id. Each substring(s, p, 1) walks the
    # UTF-8 bytes from the start (variable-width), so the JVM mean pass
    # was O(n²) per payload; one Arrow batch computes the identical hash
    # in O(n) numpy per row and removes the per-char Generate, the
    # doc_id join and both hash aggregates from the plan. Value-identity:
    # utf-32 units ARE the codepoints ascii()/length() count, sample
    # position (i*n) div 60 and the b*n >= total comparison are the same
    # exact int64 arithmetic.
    bits = base.select(
        "doc_id", _phash_udf(F.col("s")).alias("phash")
    ).localCheckpoint(eager=False)  # consumed by both sides of the piece self-join
    pieces = bits.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(PHASH_PIECES - 1))).alias("k"),
    ).withColumn(
        "piece", F.expr(f"(phash >> (k * {PHASH_PIECE_BITS})) & 32767")
    )
    a = pieces.select(
        "k", "piece", F.col("doc_id").alias("doc_a"), F.col("phash").alias("ha")
    )
    b = pieces.select(
        "k", "piece", F.col("doc_id").alias("doc_b"), F.col("phash").alias("hb")
    )
    return (
        a.join(b, ["k", "piece"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(ha ^ hb)").cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


MEDIA_PHASH_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, text AS s, CAST(length(text) AS BIGINT) AS n
  FROM documents WHERE length(text) >= 1
),
tot AS (
  SELECT doc_id, CAST(SUM(ascii(substring(s, CAST(p AS INT), 1))) AS BIGINT) AS total
  FROM base, UNNEST(generate_series(1, CAST(n AS INT))) AS g(p)
  GROUP BY doc_id
),
bits AS (
  SELECT b.doc_id,
         CAST(SUM(CASE WHEN CAST(ascii(substring(b.s, CAST(1 + (g.i * b.n) // 60 AS INT), 1)) AS BIGINT) * b.n >= t.total
                       THEN (CAST(1 AS BIGINT) << CAST(g.i AS INT)) ELSE 0 END) AS BIGINT) AS phash
  FROM base b JOIN tot t USING (doc_id),
       UNNEST(generate_series(0, {PHASH_BITS - 1})) AS g(i)
  GROUP BY b.doc_id
),
pieces AS (
  SELECT doc_id, phash, k,
         (phash >> CAST(k * {PHASH_PIECE_BITS} AS INT)) & 32767 AS piece
  FROM bits, UNNEST(generate_series(0, {PHASH_PIECES - 1})) AS gk(k)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM pieces a JOIN pieces b ON a.k = b.k AND a.piece = b.piece AND a.doc_id < b.doc_id
WHERE CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) <= {PHASH_MAX_HAMMING}
"""


def media_dedup_exact(media: DataFrame) -> DataFrame:
    """Exact payload dedup: identical BYTES collapse, no decode needed.

    The exact rung of the multimodal dedup family (the perceptual rung is
    ``media_phash_dedup``): hash the raw payload column, group, survivor
    = min doc_id — identical to text ``dedup_exact`` but over binary, so
    re-encoded copies / duplicate uploads collapse before any expensive
    decode touches them. One scan + hash agg with map-side combine; the
    shuffle carries one row per distinct payload. Media type rides along
    (same bytes under two declared types is a catalog inconsistency worth
    seeing — the count per type is part of the artifact).
    """
    return (
        media.groupBy(
            F.md5(F.col("payload")).alias("payload_md5"),
            F.col("media_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("n_bytes").alias("n_bytes"),
        )
    )


# DuckDB's md5 takes VARCHAR only; the payload IS encode(text)'s UTF-8
# bytes, and md5(VARCHAR) hashes the string's UTF-8 bytes — identical
# digests by construction.
MEDIA_DEDUP_EXACT_SQL = """
WITH media AS (
  SELECT doc_id,
         CASE (doc_id % 3) WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         text
  FROM documents
)
SELECT md5(text) AS payload_md5,
       media_type,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc_id,
       MAX(n_bytes) AS n_bytes
FROM media
GROUP BY 1, 2
"""


def media_phash_clusters(media: DataFrame, max_iter: int = 15) -> DataFrame:
    """Connected components over the perceptual-hash pair graph.

    Completes the multimodal dedup story the way dedup_clusters
    completes the text one: pairwise near-dup verdicts
    (:func:`media_phash_dedup`) answer "are these two the same image";
    the component labels answer "how many distinct images do I actually
    have, and which uploads are copies of which canonical" — min-doc_id
    labeling via the same pointer-jumping CC (O(log diameter) rounds),
    so re-encoded families collapse to one canonical id regardless of
    how the pairwise edges happened to land.
    """
    return _components(
        media_phash_dedup(media).select("doc_a", "doc_b"), max_iter=max_iter
    )


MEDIA_PHASH_CLUSTERS_SQL = _cc_sql(MEDIA_PHASH_DEDUP_SQL)
