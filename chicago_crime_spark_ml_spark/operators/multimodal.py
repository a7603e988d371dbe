"""Multimodal column plumbing — image/audio/video as opaque binary
columns with typed metadata (north star; no binary data in the reference
or the testdata, so blobs are derived from text bytes in the demo
queries).

Design for 100 TB of media:
- blobs live in a ``binary`` column (or object-store URIs for >row-size
  media) beside a typed metadata struct — schema'd, partitionable,
  prunable like any other column;
- decode/feature-extraction runs as Arrow-batched ``mapInPandas``
  (one Python worker per partition, vectorized batches — never
  row-at-a-time UDFs);
- the codec step has TWO paths. ``decode_stub=True`` (default in this
  hermetic environment) produces deterministic fake features from the
  raw bytes. ``decode_stub=False`` runs a REAL decode for the formats
  the standard library + numpy can genuinely parse: RIFF/WAVE PCM audio
  (8/16/24/32-bit, any channel count, via stdlib ``wave``), binary
  netpbm images (P5 PGM grayscale / P6 PPM RGB, 8- and 16-bit samples),
  PNG (stdlib ``zlib`` + the five scanline filters, 8/16-bit,
  gray/RGB/alpha), and FLAC (pure-stdlib lossless subset codec,
  ``operators/flac.py``, r7) — no third-party codec libs required.
  JPEG decodes behind a Pillow import guard (absent here → named
  ``ValueError``); MP4 still requires ffmpeg and raises naming the
  gap; the dispatch, schema, batch shape, and partitioning are
  identical for both paths.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chicago_crime_spark_ml_spark.operators.dedup import (
    cell_self_pairs,
    drop_crowded_cells,
)
from chicago_crime_spark_ml_spark.operators.incremental import (
    classify_resends,
    delta_cell_pairs,
)

FEATURE_DIM = 4

FEATURES_SCHEMA = (
    "doc_id BIGINT, n_bytes INT, features ARRAY<DOUBLE>"
)


def _parse_netpbm_at(buf: bytes, pos: int):
    """Parse one binary-netpbm (P5/P6) image starting at ``pos``.
    Returns ``(pixels, next_pos)`` where pixels is (h, w, c) float64 in
    [0, 1] and next_pos is the first byte after the raster — the frame
    iterator for concatenated-netpbm streams. Raises ``ValueError`` on
    truncation; caller checks the magic before calling."""
    import numpy as np  # noqa: PLC0415

    magic = buf[pos : pos + 2]
    pos += 2
    vals = []
    while len(vals) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("netpbm: truncated header")
        vals.append(int(buf[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = vals
    channels = 1 if magic == b"P5" else 3
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    n = width * height * channels
    end = pos + n * dtype.itemsize
    raster = buf[pos:end]
    if len(raster) < n * dtype.itemsize:
        raise ValueError(
            f"netpbm: raster truncated ({len(raster)} bytes, "
            f"expected {n * dtype.itemsize})"
        )
    pix = np.frombuffer(raster, dtype=dtype).astype(np.float64) / maxval
    return pix.reshape(height, width, channels), end


def decode_netpbm(buf: bytes):
    """Real binary-netpbm image decode (pure numpy, no codec libs).

    Returns an (height, width, channels) float64 array in [0, 1] for
    P5 (PGM, 1 channel) / P6 (PPM, 3 channels) blobs with 8- or 16-bit
    samples (16-bit rasters are big-endian per the netpbm spec), or
    ``None`` when the magic number is not P5/P6 so callers can
    dispatch. Header comments (``#`` to end-of-line) are honored.
    Truncated rasters raise ``ValueError`` — a short file is corrupt
    data, not a different format.
    """
    buf = bytes(buf)
    if buf[:2] not in (b"P5", b"P6"):
        return None
    return _parse_netpbm_at(buf, 0)[0]


def decode_netpbm_stream(buf: bytes):
    """Real decode of a concatenated-netpbm "video" stream (back-to-back
    P5/P6 frames — the mjpeg-style raw-frame container a capture
    pipeline emits before real encoding). Returns a list of (h, w, c)
    float64 frames, or ``None`` when the first bytes are not a netpbm
    magic. Trailing whitespace between/after frames is tolerated;
    garbage after a frame boundary raises ``ValueError``."""
    buf = bytes(buf)
    if buf[:2] not in (b"P5", b"P6"):
        return None
    frames, pos = [], 0
    while pos < len(buf):
        if buf[pos : pos + 1].isspace():
            pos += 1
            continue
        if buf[pos : pos + 2] not in (b"P5", b"P6"):
            raise ValueError(
                f"netpbm stream: junk at offset {pos} after frame "
                f"{len(frames)}"
            )
        pix, pos = _parse_netpbm_at(buf, pos)
        frames.append(pix)
    return frames


def encode_netpbm(pix, maxval: int = 255) -> bytes:
    """Encode an integer pixel array as binary netpbm: (h, w) → P5
    grayscale, (h, w, 3) → P6 RGB; ``maxval`` > 255 selects 16-bit
    big-endian samples per the spec. The write half of the decode pair
    — a resize/normalize pipeline re-encodes through this before the
    sink. Pure bytes; roundtrip with :func:`decode_netpbm` is
    property-tested."""
    import numpy as np  # noqa: PLC0415

    pix = np.asarray(pix)
    if pix.ndim == 2:
        magic, (h, w) = b"P5", pix.shape
    elif pix.ndim == 3 and pix.shape[2] == 3:
        magic, (h, w) = b"P6", pix.shape[:2]
    else:
        raise ValueError(f"expected (h,w) or (h,w,3) array, got {pix.shape}")
    hdr = magic + f"\n{w} {h}\n{maxval}\n".encode()
    return hdr + pix.astype(">u2" if maxval > 255 else "u1").tobytes()


def encode_wav(
    samples, width: int = 2, nch: int = 1, rate: int = 8000
) -> bytes:
    """Encode float samples in [-1, 1] as PCM WAV bytes via stdlib
    ``wave``: ``samples`` is (n,) mono or (n, nch); widths 1 (unsigned
    8-bit), 2, 4 (signed little-endian), and 3 (24-bit, packed by hand
    — numpy has no int24). Truncating quantizer at scale 2^(8w−1)−1;
    roundtrip with :func:`decode_wav` is property-tested. The
    decode-bit-identical-to-FLAC guarantee (one oracle certifying both
    codecs) holds for width=2 ONLY: width=1 applies the unsigned-PCM
    +128 bias BEFORE truncation, diverging from FLAC's trunc(x·127) by
    1 LSB on negative samples (ADVICE r7)."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    x = np.asarray(samples, dtype=np.float64).reshape(-1, nch)
    if width == 1:
        raw = (np.clip(x, -1, 1) * 127 + 128).astype(np.uint8).tobytes()
    elif width in (2, 4):
        scale = 2 ** (8 * width - 1) - 1
        raw = (np.clip(x, -1, 1) * scale).astype(f"<i{width}").tobytes()
    elif width == 3:  # low 3 bytes of the int32 little-endian encoding
        ints = (np.clip(x, -1, 1) * (2**23 - 1)).astype("<i4")
        b4 = ints.tobytes()
        raw = b"".join(b4[i : i + 3] for i in range(0, len(b4), 4))
    else:
        raise ValueError(f"unsupported sample width {width}")
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(raw)
    return bio.getvalue()


def decode_wav(buf: bytes):
    """Real RIFF/WAVE PCM decode via the standard-library ``wave``
    module — no third-party audio libs. Returns mono float64 samples in
    [-1, 1] (channels averaged), or ``None`` when the blob is not
    RIFF/WAVE so callers can dispatch. Supports 8-bit unsigned and
    16/24/32-bit signed little-endian PCM; 24-bit is sign-extended by
    hand (numpy has no int24). Compressed WAV (e.g. μ-law) raises
    ``ValueError``. Callers that must preserve the source framerate
    (e.g. :func:`transcode_audio`) use :func:`decode_wav_meta`.
    """
    meta = decode_wav_meta(buf)
    return None if meta is None else meta[0]


def decode_wav_meta(buf: bytes):
    """:func:`decode_wav` plus the header framerate: returns
    ``(samples, framerate_hz)`` or ``None`` for non-RIFF/WAVE blobs.
    The rate must survive a decode→re-encode roundtrip or the output
    misdeclares duration/pitch (ADVICE r5)."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(buf)) as w:
            nch, width = w.getnchannels(), w.getsampwidth()
            rate = w.getframerate()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError) as e:
        # EOFError: stdlib chunk reader hits a truncated header — keep
        # the documented "corrupt blob is corrupt data" ValueError
        raise ValueError(f"WAV: unsupported or truncated ({e})") from e
    if width == 1:
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif width in (2, 4):
        x = np.frombuffer(frames, dtype=f"<i{width}").astype(np.float64)
        x /= float(2 ** (8 * width - 1))
    elif width == 3:
        raw = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        ext = np.where(raw[:, 2] >= 0x80, 0xFF, 0x00).astype(np.uint8)
        x = (
            np.column_stack([raw, ext])
            .view("<i4")
            .ravel()
            .astype(np.float64)
            / float(2**23)
        )
    else:
        raise ValueError(f"WAV: unsupported sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def decode_audio_meta(buf: bytes):
    """Audio decode dispatch: RIFF/WAVE PCM (:func:`decode_wav_meta`)
    or FLAC (:func:`.flac.decode_flac_meta` — pure-stdlib lossless
    decode, r7) → ``(samples, rate)`` with samples mono float64 in
    [-1, 1]; ``None`` when the blob is neither, so callers can layer
    further dispatch. Both decoders normalize by 2^(bps−1) with
    channels averaged, so downstream stats are codec-independent."""
    meta = decode_wav_meta(buf)
    if meta is not None:
        return meta
    from chicago_crime_spark_ml_spark.operators.flac import (  # noqa: PLC0415
        decode_flac_meta,
    )

    return decode_flac_meta(buf)


def decode_audio(buf: bytes):
    """:func:`decode_audio_meta` without the rate — samples only."""
    meta = decode_audio_meta(buf)
    return None if meta is None else meta[0]


def synthesize_flac_blobs(
    df: DataFrame,
    samples_col: str = "samples",
    id_col: str = "doc_id",
    bps: int = 16,
    rate: int = 8000,
) -> DataFrame:
    """(id, array<double> samples) → (id, blob) with blob a real FLAC
    stream (:func:`.flac.encode_flac`). Same truncating quantizer as
    :func:`synthesize_wav_blobs` — FLAC is lossless, so the decoded
    samples are the SAME dyadic rationals the WAV path produces and one
    closed-form oracle certifies both codecs. mapInPandas, map-only;
    NULL sample arrays skipped."""
    from chicago_crime_spark_ml_spark.operators.flac import (  # noqa: PLC0415
        encode_flac,
    )

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, blobs = [], []
            for did, xs in zip(pdf[id_col], pdf[samples_col]):
                if xs is None:
                    continue
                ids.append(did)
                blobs.append(encode_flac(list(xs), bps=bps, rate=rate))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    return df.select(F.col(id_col), F.col(samples_col)).mapInPandas(
        batches, schema="doc_id BIGINT, blob BINARY"
    )


KEYFRAME_SCHEMA = "doc_id BIGINT, frame_idx INT, energy DOUBLE"


def select_keyframes(
    df: DataFrame,
    n_frames: int = 4,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scene-change keyframe selection over concatenated netpbm/PNG
    frame streams — the content-aware alternative to
    :func:`sample_frames`'s uniform stride (uniform sampling of a
    mostly-static clip wastes every slot on the same scene): per frame
    f>0, energy = mean |pix_f − pix_{f−1}| over decoded [0,1] pixels
    (frame 0 anchors at energy 0.0), and the top ``n_frames`` by
    (energy DESC, frame_idx ASC — deterministic under ties) are
    emitted in frame order. REAL decode only (:func:`decode_image_stream`)
    — frame-difference energy is a pixel property, so a byte-stub twin
    would certify nothing. Streams shorter than n_frames emit all
    frames. Map-only, Arrow-batched; NULL blobs skipped, unrecognized
    blobs raise, shape-changing streams raise (energy needs aligned
    pixels)."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {k: [] for k in ("doc_id", "frame_idx", "energy")}
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                frames = decode_image_stream(bytes(buf))
                if frames is None:
                    raise ValueError(
                        "select_keyframes decodes concatenated "
                        "netpbm/PNG frame streams only"
                    )
                if not frames:
                    continue
                shapes = {f.shape for f in frames}
                if len(shapes) > 1:
                    raise ValueError(
                        f"frame shapes vary within one stream: {shapes}"
                    )
                energies = [0.0] + [
                    float(np.abs(frames[f] - frames[f - 1]).mean())
                    for f in range(1, len(frames))
                ]
                chosen = sorted(
                    sorted(range(len(frames)), key=lambda f: (-energies[f], f))[
                        :n_frames
                    ]
                )
                for f in chosen:
                    out["doc_id"].append(did)
                    out["frame_idx"].append(f)
                    out["energy"].append(energies[f])
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=KEYFRAME_SCHEMA
    )


def synthesize_netpbm_stream_blobs(
    df: DataFrame,
    frames_col: str = "frames",
    id_col: str = "doc_id",
    maxval: int = 255,
) -> DataFrame:
    """(id, array<array<array<int>>> frames) → (id, blob) with blob a
    CONCATENATED binary-netpbm stream (one P5 image per frame, back to
    back — the engine's video-stream stand-in, decodable by
    :func:`decode_netpbm_stream`). The write half that makes the
    frame-stream operators driver-certifiable with no media files on
    disk. mapInPandas, map-only; NULL arrays skipped."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, blobs = [], []
            for did, fr in zip(pdf[id_col], pdf[frames_col]):
                if fr is None:
                    continue
                ids.append(did)
                blobs.append(
                    b"".join(
                        encode_netpbm(
                            np.array([np.asarray(list(r)) for r in frame]),
                            maxval=maxval,
                        )
                        for frame in fr
                    )
                )
            if ids:
                yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    return df.select(F.col(id_col), F.col(frames_col)).mapInPandas(
        batches, schema="doc_id BIGINT, blob BINARY"
    )


DHASH_SCHEMA = "doc_id BIGINT, dhash STRING, row_bytes ARRAY<INT>"


def _dhash_of(pix):
    """dHash of one decoded (h, w, c) [0,1] image: channel-averaged
    gray, 8×9 nearest-neighbor grid (same (i·in)//out index selection
    as :func:`transcode_images`), bit = neighbor comparison. Returns
    (16-hex-char string, 8 MSB-first row bytes)."""
    import numpy as np  # noqa: PLC0415

    g = pix.mean(axis=2)
    h_in, w_in = g.shape
    rows = np.minimum((np.arange(8) * h_in) // 8, h_in - 1)
    cols = np.minimum((np.arange(9) * w_in) // 9, w_in - 1)
    t = g[rows][:, cols]
    bits = (t[:, :8] > t[:, 1:]).astype(np.int64)
    rb = [int((bits[r] << np.arange(7, -1, -1)).sum()) for r in range(8)]
    return "".join(f"{b:02x}" for b in rb), rb


def image_dhash(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual difference-hash (dHash) over image blobs — the
    pixel-level near-dup signature that completes the dedup family's
    modality coverage (text: minhash/simhash/spans; embeddings:
    blocked cosine; images: THIS). Decode (netpbm/PNG/JPEG dispatch),
    average channels to gray, nearest-neighbor resize to 8×9 (the same
    (i·in)//out index selection as :func:`transcode_images`, so the
    oracle replays it closed-form), then bit (r,c) = gray[r,c] >
    gray[r,c+1] for c<8 — 64 bits robust to re-encoding, scaling, and
    small intensity shifts. Returns the hash as 16 hex chars plus the
    8 per-row bytes (MSB-first within a row) — the byte array is the
    banding unit for :func:`dhash_hamming_pairs` (pigeonhole: hamming
    ≤ 7 ⇒ at least one row-byte equal). Map-only, Arrow-batched."""

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {k: [] for k in ("doc_id", "dhash", "row_bytes")}
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                pix = decode_image(bytes(buf))
                if pix is None:
                    raise ValueError(
                        "image_dhash decodes binary netpbm (P5/P6) and "
                        "PNG natively; JPEG needs Pillow, absent here"
                    )
                hx, rb = _dhash_of(pix)
                out["doc_id"].append(did)
                out["dhash"].append(hx)
                out["row_bytes"].append(rb)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=DHASH_SCHEMA
    )


def _dhash_bands(
    sig: DataFrame, id_col: str = "doc_id", band_bytes: int = 1
) -> DataFrame:
    """(id, band, byte) posting rows from dHash signatures — the shared
    banding of :func:`dhash_hamming_pairs` (batch self-join) and
    :func:`dhash_band_index` (incremental index): ``band_bytes=1`` →
    8 one-byte bands, ``band_bytes=2`` → 4 sixteen-bit bands."""
    if band_bytes == 1:
        return sig.select(
            F.col(id_col),
            F.posexplode("row_bytes").alias("band", "byte"),
        )
    if band_bytes == 2:
        pairs = F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda i: F.element_at("row_bytes", i * 2 + 1) * 256
            + F.element_at("row_bytes", i * 2 + 2),
        )
        return sig.select(
            F.col(id_col),
            F.posexplode(pairs).alias("band", "byte"),
        )
    raise ValueError(f"band_bytes must be 1 or 2; got {band_bytes}")


def dhash_band_index(
    hashes: DataFrame,
    id_col: str = "doc_id",
    band_bytes: int = 2,
) -> DataFrame:
    """Materializable image-dedup index: (id, band, byte) rows from
    dHash signatures (:func:`image_dhash`) — the image twin of the
    text tier's ``lsh_band_index``. The bucket space is a pure
    function of the dHash definition and ``band_bytes`` — never of
    the data — so an index built today and a delta hashed tomorrow
    collide correctly. Persist this frame (partitioned by band) and a
    streaming ingest batch probes it via :func:`dhash_index_delta`
    instead of re-hashing the corpus. Defaults to the corpus-scale
    two-byte banding (see :func:`dhash_hamming_pairs`); pass
    ``band_bytes=1`` only for bounded corpora needing distance 4–7
    recall."""
    return _dhash_bands(
        hashes.select(id_col, "row_bytes"), id_col, band_bytes
    )


def dhash_index_delta(
    index: DataFrame,
    new_hashes: DataFrame,
    id_col: str = "doc_id",
    band_bytes: int = 2,
    max_bucket: int | None = 10_000,
    return_resent: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental image-dedup maintenance (the image twin of
    ``lsh_index_delta``): band ONLY the delta signatures, probe the
    stored index, return (new_index_rows,
    candidate_pairs_touching_the_delta) — every (old,new) and
    (new,new) pair sharing ≥1 band cell, exactly the pairs a full
    rebuild would emit that involve a delta doc (certified by
    dhash_incremental_index_check). Old↔old pairs were already
    reported when those docs arrived; continuous ingest never
    re-compares history against itself — O(delta·bucket-occupancy),
    not O(corpus). The exact hamming rescore (popcount-of-xor on the
    signatures' row_bytes, as in :func:`dhash_hamming_pairs`) stays
    the caller's step, same as the text path.

    Replay/re-ingest idempotence: a delta doc already present in the
    index with the SAME content contributes IDENTICAL postings (the
    signature is a pure function of the blob), so its rows are dropped
    from new_index_rows — appending the return value never accumulates
    duplicates, and occupancy counts stay exact under stream replays
    (ADVICE r8). Pairs still cover re-ingested docs (the probe runs
    against index ∪ delta). A re-sent id whose postings DIFFER from
    its stored ones is an update, not a replay (ADVICE r9): its new
    postings ARE emitted, and the append-only index then holds both
    versions' postings — superset recall; callers wanting pure replace
    delete the id's old rows first. Both the re-send rule and the
    probe are the text path's (incremental.classify_resends,
    incremental.delta_cell_pairs).

    ``max_bucket`` is the occupancy guard the batch operator gained in
    r8, now on the incremental path too: a degenerate hot (band, byte)
    cell — flat/black images banding to 0 — would otherwise cost every
    future delta batch O(delta × cell size) forever. Cells above the
    cap are dropped from BOTH sides of the probe (recall-only, same
    semantics as the batch cap), counted over index ∪ delta so
    delta == rebuild even when the guard binds."""
    delta_rows = dhash_band_index(new_hashes, id_col, band_bytes)
    [fresh], changed_ids = classify_resends([index], [delta_rows], id_col)
    pairs = delta_cell_pairs(
        index, fresh, delta_rows, id_col, ["band", "byte"], max_bucket
    )
    if return_resent:
        # the changed-re-send ids (multi-version on append): what the
        # streaming sink writes to the _mv manifest (r12)
        return fresh, pairs, changed_ids
    return fresh, pairs


AUDIO_FP_SCHEMA = "doc_id BIGINT, afp STRING, row_bytes ARRAY<INT>"


def audio_fingerprint(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual audio fingerprint — the AUDIO twin of
    :func:`image_dhash`, completing the dedup family's modality
    coverage (text: minhash/simhash/spans; embeddings: blocked cosine;
    images: dHash; video: frame containment; audio: THIS). Decode
    (WAV/FLAC dispatch via :func:`decode_audio`, including LPC and
    decorrelated-stereo FLAC), split the signal into 65 equal windows
    with the same ``(j·n)//k`` boundary selection as the dHash grid,
    take per-window ENERGY (sum of squared samples — exact in float64
    for 16-bit-quantized dyadic samples, so the fingerprint is
    SQL-oracle-replayable), then bit t = energy[t+1] > energy[t] —
    64 bits invariant to uniform gain (energy comparisons are
    monotone under scaling) and to lossless container changes (the
    same recording stored as WAV and FLAC decodes bit-identically at
    16-bit, the canonical audio near-dup case). Returns the hash as
    16 hex chars plus the 8 MSB-first row bytes — the SAME banding
    unit as dHash, so :func:`dhash_hamming_pairs`,
    :func:`dhash_band_index`, and :func:`dhash_index_delta` all
    consume it unchanged (pairing, clustering via
    connected_components, and incremental indexing come free).
    Map-only, Arrow-batched; NULL blobs and blobs shorter than 65
    samples are SKIPPED (no stable fingerprint below one sample per
    window); unrecognized blobs raise."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {k: [] for k in ("doc_id", "afp", "row_bytes")}
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                x = decode_audio(bytes(buf))
                if x is None:
                    raise ValueError(
                        "audio_fingerprint decodes RIFF/WAVE PCM and "
                        "FLAC; other compressed audio needs libs not "
                        "in this container"
                    )
                n = int(x.size)
                if n < 65:
                    continue
                bounds = (np.arange(66, dtype=np.int64) * n) // 65
                e = np.add.reduceat(x * x, bounds[:-1])
                bits = (e[1:] > e[:-1]).astype(np.int64)
                rb = [
                    int((bits[r * 8 : (r + 1) * 8]
                         << np.arange(7, -1, -1)).sum())
                    for r in range(8)
                ]
                out["doc_id"].append(did)
                out["afp"].append("".join(f"{b:02x}" for b in rb))
                out["row_bytes"].append(rb)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=AUDIO_FP_SCHEMA
    )


def dhash_hamming_pairs(
    hashes: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    band_bytes: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Image near-dup pairs from dHash signatures: candidate pairs
    share at least one band of the 64-bit hash at the same position —
    with ``band_bytes=1`` that is 8 one-byte bands, COMPLETE for
    hamming ≤ 7 by pigeonhole (≤7 differing bits cannot touch all 8
    bytes); with ``band_bytes=2`` it is 4 two-byte bands, complete for
    hamming ≤ 3 (the common near-dup setting) with 65 536-value
    selectivity per band. ``band_bytes=2`` is THE corpus-scale
    setting, not just a precision lever — and therefore the DEFAULT
    (flipped in r9; the library must hand a bare caller the setting
    that survives 100×): one-byte bands have only 256
    values, so expected candidate mass is n²/32 on PERFECTLY UNIFORM
    hashes — inherent quadratic crowding that no occupancy cap can
    fix (per-cell occupancy n/256 sits far below any sane
    ``max_bucket``; measured ×16.0 at 10× data, 5.2 s → 83.4 s at
    sf1, r8 sweep) — while two-byte bands cut the uniform mass 512×
    to n²/16384. Opt in to ``band_bytes=1, max_distance=7`` only when
    distance 4–7 recall is worth quadratic candidates on a bounded
    corpus. After the banded
    candidate join, the exact per-byte popcount-of-xor rescore keeps
    pairs at distance ≤ max_distance (capped at n_bands − 1: beyond
    that the banding is no longer complete and the caller should
    narrow the bands). Everything JVM-side: band projection →
    equi-join → zip_with xor + bit_count. Signatures are eagerly
    checkpointed once (two join branches).

    ``max_bucket`` (default 10 000; never binds at certified test
    scale, so oracle-backed queries stay exact) is the occupancy guard
    on (band, byte) cells — all-black frames, flat scans whose row
    collapses to byte 0x00 — with the recall contract of
    :func:`~chicago_crime_spark_ml_spark.operators.dedup.drop_crowded_cells`
    (pigeonhole gives a hamming-0 pair all n_bands chances); ``None``
    disables."""
    n_bands = {1: 8, 2: 4}.get(band_bytes)
    if n_bands is None:
        raise ValueError(f"band_bytes must be 1 or 2; got {band_bytes}")
    if max_distance > n_bands - 1:
        raise ValueError(
            f"banding on {n_bands} {band_bytes}-byte bands is only "
            f"complete for hamming <= {n_bands - 1}; "
            f"got max_distance={max_distance}"
        )
    sig = hashes.select(id_col, "row_bytes").localCheckpoint(eager=True)
    cells = ["band", "byte"]
    band = drop_crowded_cells(
        _dhash_bands(sig, id_col, band_bytes), cells, max_bucket
    )
    cand = cell_self_pairs(band, cells, id_col).distinct()
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col("row_bytes").alias("rb_a")
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col("row_bytes").alias("rb_b")
    )
    hamming = F.aggregate(
        F.zip_with(
            "rb_a", "rb_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


IMAGE_META_SCHEMA = (
    "doc_id BIGINT, height INT, width INT, channels INT, n_pixels INT"
)


def image_meta(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Raster metadata of real image blobs via :func:`decode_image`
    (netpbm P5/P6, PNG, JPEG-if-Pillow): (id, height, width, channels,
    n_pixels) — the image twin of :func:`wav_metadata`, and the
    quality signal media dedup canonicalization keys on (keep the
    highest-resolution member of a near-dup cluster). Map-only,
    Arrow-batched; NULL blobs skipped, unrecognized blobs raise."""

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {
                k: [] for k in ("doc_id", "height", "width", "channels")
            }
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                pix = decode_image(bytes(buf))
                if pix is None:
                    raise ValueError(
                        "image_meta decodes binary netpbm (P5/P6) and "
                        "PNG natively; JPEG needs Pillow, absent here"
                    )
                out["doc_id"].append(did)
                out["height"].append(int(pix.shape[0]))
                out["width"].append(int(pix.shape[1]))
                out["channels"].append(int(pix.shape[2]))
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return (
        df.select(F.col(id_col), F.col(blob_col))
        .mapInPandas(
            batches,
            schema="doc_id BIGINT, height INT, width INT, channels INT",
        )
        .withColumn("n_pixels", (F.col("height") * F.col("width")))
    )


FRAME_DHASH_SCHEMA = "doc_id BIGINT, frame_idx INT, dhash STRING"


def frame_stream_dhash(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-frame dHash over concatenated netpbm/PNG frame streams —
    the video-stream signature: (id, frame_idx, dhash) rows, one per
    decoded frame (:func:`decode_image_stream` + the shared
    :func:`_dhash_of`). Map-only, Arrow-batched; NULL blobs skipped,
    unrecognized blobs raise. Feed :func:`video_near_dup_pairs` for
    stream-level dedup."""

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {k: [] for k in ("doc_id", "frame_idx", "dhash")}
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                frames = decode_image_stream(bytes(buf))
                if frames is None:
                    raise ValueError(
                        "frame_stream_dhash decodes concatenated "
                        "netpbm/PNG frame streams only"
                    )
                for fi, pix in enumerate(frames):
                    hx, _ = _dhash_of(pix)
                    out["doc_id"].append(did)
                    out["frame_idx"].append(fi)
                    out["dhash"].append(hx)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=FRAME_DHASH_SCHEMA
    )


def video_near_dup_pairs(
    sig: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    max_df: int | None = 10_000,
) -> DataFrame:
    """Stream-level near-dup pairs from per-frame dHash signatures
    (:func:`frame_stream_dhash`): two streams are candidates when they
    share a frame hash, and a pair survives when the number of DISTINCT
    shared hashes reaches ``min_shared`` — set containment over frame
    signatures, the video twin of the text minhash-bucket join (a
    re-encoded / re-lettered / trimmed copy of a clip keeps most frame
    hashes; the shared-count threshold is the dedup knob). Hash-keyed
    equi-join on the distinct (id, dhash) set — never all-pairs.

    ``max_df`` (default 10 000; never binds at certified test scale,
    so oracle-backed queries stay exact) is the hot-frame guard — an
    all-black frame, a shared intro card — with the recall contract of
    :func:`~chicago_crime_spark_ml_spark.operators.dedup.drop_crowded_cells`:
    dropped hashes no longer count toward shared_frames; ``None``
    disables."""
    d = drop_crowded_cells(
        sig.select(id_col, "dhash").distinct(), ["dhash"], max_df
    ).localCheckpoint(eager=True)
    return (
        cell_self_pairs(d, ["dhash"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )


TRIM_SCHEMA = (
    "doc_id BIGINT, blob BINARY, n_samples INT, "
    "n_leading_trimmed INT, n_trailing_trimmed INT"
)


def frame_index_delta(
    index: DataFrame,
    new_sig: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_df: int | None = 10_000,
    return_resent: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental VIDEO-dedup maintenance — the containment-join twin
    of :func:`dhash_index_delta`: ``index`` holds distinct
    (id, dhash) frame-hash postings for history; ``new_sig`` is the
    per-frame signature of the delta (:func:`frame_stream_dhash`
    rows). Returns (new_index_rows, pairs) where pairs are every
    (old,new) and (new,new) stream pair sharing ≥ ``min_shared``
    DISTINCT frame hashes — exactly the pairs a full
    :func:`video_near_dup_pairs` rebuild would emit that involve a
    delta stream (certified by video_frame_incremental_index_check).
    ``max_df`` (default 10 000) prunes corpus-ubiquitous frame hashes
    by document frequency over index ∪ delta — the batch operator's
    hot-frame guard, with the recall contract of
    :func:`~chicago_crime_spark_ml_spark.operators.dedup.drop_crowded_cells`;
    the df is computed over the same total corpus, so delta == rebuild
    even when the guard binds.
    History is never re-compared against itself: O(delta·occupancy).

    Replay/re-ingest idempotence (ADVICE r8): postings of a delta
    stream already present in the index are dropped from
    new_index_rows — the per-frame signature is a pure function of
    the blob, so a re-ingested stream's postings are exactly its
    index rows. Without the drop, a replay double-counts the df
    (breaking delta == rebuild at the max_df boundary) and the
    appended index accumulates duplicates. Pairs still cover
    re-ingested streams (the probe side is index ∪ delta semi-joined
    to delta ids). A re-sent id whose frame-hash set DIFFERS from its
    stored postings is an update, not a replay (ADVICE r9): its new
    postings ARE emitted; the append-only index then holds both
    versions' frames — superset recall, callers wanting pure replace
    delete the id's old rows first (or read latest-wins / compact
    with replace).

    Changed-content detection is EXACT (r11, ADVICE r10 — the
    anti-join alone missed the strict-subset case, e.g. a trimmed
    re-sent video whose new hash set is a proper subset of its stored
    set): a re-sent id is unchanged iff its delta postings all exist
    in the stored postings AND the per-id DISTINCT-hash counts match —
    both sets are distinct rows, so containment plus equal cardinality
    forces set equality (the video twin of lexical_index_delta's
    dl = Σ tf identity). Both checks run on the bounded re-sent
    slice (incremental.classify_resends with ``count_check``).

    Exactness and replay idempotence are relative to a SINGLE stored
    version per id (same contract as lexical_index_delta): against a
    v1 ∪ v2 union the stored row count double-counts superseded
    frames, so a replay of the CURRENT version would be misclassified
    as changed and re-appended on every replay. Callers holding
    multi-version append-only stores must pass a latest-wins view
    (streaming._read_state_latest_by — what the media sink does) or
    compact with replace first (io.compact_ingest_index)."""
    d = (
        new_sig.select(id_col, "dhash").distinct().localCheckpoint(eager=True)
    )
    stored = index.select(id_col, "dhash")
    [fresh], changed_ids = classify_resends(
        [stored], [d], id_col, count_check=True
    )
    both = drop_crowded_cells(
        stored.unionByName(fresh), ["dhash"], max_df
    ).localCheckpoint(eager=True)
    probe = both.join(d.select(id_col).distinct(), id_col, "left_semi")
    cand = (
        probe.alias("x")
        .join(both.alias("y"), "dhash")
        .filter(F.col(f"x.{id_col}") != F.col(f"y.{id_col}"))
        .select(
            F.least(f"x.{id_col}", f"y.{id_col}").alias("id_a"),
            F.greatest(f"x.{id_col}", f"y.{id_col}").alias("id_b"),
            "dhash",
        )
        .distinct()
    )
    pairs = (
        cand.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )
    if return_resent:
        # the changed-re-send ids (multi-version on append): what the
        # streaming sink writes to the _mv manifest (r12)
        return fresh, pairs, changed_ids
    return fresh, pairs


def trim_silence(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    threshold: float = 0.0,
    width: int = 2,
) -> DataFrame:
    """Leading/trailing silence removal over audio blobs — the standard
    prep step before feature extraction or packing (silence carries no
    training signal but does carry storage and compute). A sample is
    SIGNAL when |x| > threshold (default 0.0: trims exactly-zero
    samples, which both codecs here encode and decode losslessly as
    0); the kept span runs from the first to the last signal sample,
    so interior silence survives (it is timing information). All-silent
    blobs collapse to an empty data chunk with every sample counted as
    leading. Input dispatches through :func:`decode_audio_meta` (WAV
    or FLAC); output is WAV at the source rate. Map-only; NULL blobs
    skipped, unrecognized blobs raise."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {
                k: []
                for k in (
                    "doc_id",
                    "blob",
                    "n_samples",
                    "n_leading_trimmed",
                    "n_trailing_trimmed",
                )
            }
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                meta = decode_audio_meta(bytes(buf))
                if meta is None:
                    raise ValueError(
                        "trim_silence decodes RIFF/WAVE PCM and FLAC; "
                        "other compressed audio needs libs not in this "
                        "container"
                    )
                x, rate = meta
                sig = np.nonzero(np.abs(x) > threshold)[0]
                if sig.size:
                    lead, tail = int(sig[0]), int(x.size - 1 - sig[-1])
                    kept = x[sig[0] : sig[-1] + 1]
                else:
                    lead, tail = int(x.size), 0
                    kept = x[:0]
                out["doc_id"].append(did)
                out["blob"].append(encode_wav(kept, width=width, rate=rate))
                out["n_samples"].append(int(kept.size))
                out["n_leading_trimmed"].append(lead)
                out["n_trailing_trimmed"].append(tail)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=TRIM_SCHEMA
    )


AUDIT_SCHEMA = "doc_id BIGINT, codec STRING, decodable BOOLEAN, n_bytes INT"


def media_type_audit(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-intake audit: classify every blob by magic bytes and TRY
    the real decode, emitting (id, codec, decodable, n_bytes) without
    ever raising — the "what is actually in this bucket" scan a
    pipeline runs before committing a 100 TB transcode job (the
    transcoders' default ``on_error='raise'`` is right for curated
    inputs; this is the triage step for uncurated ones). ``codec`` ∈
    wav/flac/png/netpbm/jpeg/unknown/null from the magic alone, so a
    truncated WAV still reports codec='wav' with decodable=false —
    magic and decodability answer different questions. Map-only,
    Arrow-batched; nothing escapes the per-blob try."""

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        def classify(buf: bytes) -> str:
            if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
                return "wav"
            if buf[:4] == b"fLaC":
                return "flac"
            if buf[:8] == _PNG_SIG:
                return "png"
            if buf[:2] in (b"P5", b"P6"):
                return "netpbm"
            if buf[:3] == b"\xff\xd8\xff":
                return "jpeg"
            return "unknown"

        for pdf in it:
            out = {k: [] for k in ("doc_id", "codec", "decodable", "n_bytes")}
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    out["doc_id"].append(did)
                    out["codec"].append("null")
                    out["decodable"].append(False)
                    out["n_bytes"].append(0)
                    continue
                buf = bytes(buf)
                codec = classify(buf)
                ok = False
                try:
                    if codec in ("wav", "flac"):
                        ok = decode_audio_meta(buf) is not None
                    elif codec in ("png", "netpbm", "jpeg"):
                        ok = decode_image(buf) is not None
                except Exception:  # noqa: BLE001 — a ledger, not a gate
                    ok = False
                out["doc_id"].append(did)
                out["codec"].append(codec)
                out["decodable"].append(ok)
                out["n_bytes"].append(len(buf))
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=AUDIT_SCHEMA
    )


def attach_blob(
    df: DataFrame, text_col: str = "text", blob_col: str = "blob"
) -> DataFrame:
    """Binary column + typed metadata struct (n_bytes, sha256, mime) —
    the storage shape for multimodal corpora. UTF-8 bytes of the text
    stand in for real media bytes in this environment."""
    blob = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn(blob_col, blob).withColumn(
        "blob_meta",
        F.struct(
            F.length(F.col(blob_col)).alias("n_bytes"),
            F.sha2(F.col(blob_col), 256).alias("sha256"),
            F.lit("text/plain").alias("mime"),
        ),
    )


def extract_features(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Batch feature extraction over binary blobs via mapInPandas.

    Arrow delivers each partition as pandas batches; the closure sees
    only (id, blob) columns — project BEFORE the Python boundary so only
    the bytes actually needed cross it (column pruning stops at
    mapInPandas; do it by hand).

    ``decode_stub=True``: deterministic features from raw byte stats
    (mean/spread/len — reproducible across runs). ``decode_stub=False``:
    REAL image decode (netpbm P5/P6 via :func:`decode_netpbm`) —
    features are pixel statistics (mean, std, min, aspect ratio) of the
    decoded raster; non-netpbm blobs raise ``ValueError`` naming the
    supported codecs (JPEG/PNG need PIL, absent here).
    """

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids = []
            feats = []
            nbytes = []
            # NULL blobs are SKIPPED (no sentinel row): the operators are
            # general plumbing and bytes(None) would TypeError inside the
            # Python worker, killing the whole query for one bad row.
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                if not decode_stub:
                    pix = decode_image(bytes(buf))
                    if pix is None:
                        raise ValueError(
                            "extract_features(decode_stub=False) decodes "
                            "binary netpbm (P5/P6) and PNG natively; "
                            "JPEG needs Pillow, absent here"
                        )
                    ids.append(did)
                    nbytes.append(len(bytes(buf)))
                    h, w = pix.shape[0], pix.shape[1]
                    feats.append(
                        [
                            float(pix.mean()),
                            float(pix.std()),
                            float(pix.min()),
                            float(w) / float(h) if h else 0.0,
                        ]
                    )
                    continue
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                n = int(arr.size)
                ids.append(did)
                nbytes.append(n)
                feats.append(
                    [
                        float(arr.mean()) / 255.0 if n else 0.0,
                        float(arr.std()) / 255.0 if n else 0.0,
                        float(arr.min()) / 255.0 if n else 0.0,
                        float(n % 997) / 997.0,
                    ]
                )
            if ids:  # an all-NULL batch yields nothing (empty ndarray
                # columns defeat Arrow's list<double> inference)
                yield pd.DataFrame(
                    {"doc_id": ids, "n_bytes": nbytes, "features": feats}
                )

    narrow = df.select(F.col(id_col), F.col(blob_col))
    return narrow.mapInPandas(batches, schema=FEATURES_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, n_out_bytes INT, mean_byte DOUBLE"
)

FRAMES_SCHEMA = "doc_id BIGINT, frame_idx INT, frame_features ARRAY<DOUBLE>"


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Batch image resize over binary blobs (mapInPandas).

    ``decode_stub=True``: deterministic byte-stride downsample to
    width×height bytes stands in for decode→resize→encode.
    ``decode_stub=False``: REAL decode (netpbm P5/P6) + 2-D
    nearest-neighbor resize to (height, width) preserving channels.
    BOTH paths share one output contract (ADVICE r5 — a silent unit
    change when toggling decode_stub): the resized raster is quantized
    to 8-bit, ``n_out_bytes`` is that 8-bit raster's byte count
    (== sample count, even for 16-bit inputs), and ``mean_byte`` is its
    mean sample normalized to [0, 1]. The Spark side is identical for
    both paths: project only (id, blob) across the Arrow boundary, one
    Python worker per partition, output schema fixed so downstream
    pruning works."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        target = width * height
        for pdf in it:
            ids, out, means = [], [], []
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:  # NULL blob: skip, don't TypeError
                    continue
                if not decode_stub:
                    pix = decode_image(bytes(buf))
                    if pix is None:
                        raise ValueError(
                            "resize_images(decode_stub=False) decodes "
                            "binary netpbm (P5/P6) and PNG natively; "
                            "JPEG needs Pillow, absent here"
                        )
                    h_in, w_in = pix.shape[0], pix.shape[1]
                    rows = np.minimum(
                        (np.arange(height) * h_in) // height, h_in - 1
                    )
                    cols = np.minimum(
                        (np.arange(width) * w_in) // width, w_in - 1
                    )
                    resized = pix[rows][:, cols]
                    # quantize to the 8-bit output raster BEFORE stats
                    # so n_out_bytes is true bytes and mean_byte is
                    # SQL-recomputable from the emitted pixels
                    q8 = np.floor(resized * 255.0 + 0.5).astype(np.uint8)
                    ids.append(did)
                    out.append(int(q8.size))
                    means.append(float(q8.mean()) / 255.0)
                    continue
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                ids.append(did)
                if arr.size == 0:
                    out.append(0)
                    means.append(0.0)
                    continue
                idx = np.linspace(0, arr.size - 1, num=target).astype(np.int64)
                resized = arr[idx]
                out.append(int(resized.size))
                means.append(float(resized.mean()) / 255.0)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "width": width,
                        "height": height,
                        "n_out_bytes": out,
                        "mean_byte": means,
                    }
                )

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=RESIZE_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    n_frames: int,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decode_stub: bool = True,
) -> DataFrame:
    """Video frame sampling (mapInPandas, 1→N row explosion): each blob
    ("video") yields up to ``n_frames`` evenly-spaced frame rows with
    per-frame features. Variable output cardinality is the point —
    mapInPandas yields as many rows as the batch produces, unlike a
    scalar UDF. ``decode_stub=True``: equal byte-chunks stand in for
    frame extraction. ``decode_stub=False``: REAL decode of
    concatenated-netpbm OR concatenated-PNG streams
    (:func:`decode_image_stream`) — ``frame_idx`` is the source frame's
    position in the stream, features are (mean, std, n_pixels) of the
    decoded raster; containers needing ffmpeg (mp4/webm) raise
    ``ValueError``."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, idxs, feats = [], [], []
            for doc_id, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:  # NULL blob: skip, don't TypeError
                    continue
                if not decode_stub:
                    frames = decode_image_stream(bytes(buf))
                    if frames is None:
                        raise ValueError(
                            "sample_frames(decode_stub=False) decodes "
                            "concatenated netpbm (P5/P6) or PNG streams; "
                            "mp4/webm need ffmpeg, not in this container"
                        )
                    take = np.unique(
                        np.linspace(
                            0, len(frames) - 1, num=min(n_frames, len(frames))
                        ).astype(np.int64)
                    ) if frames else []
                    for i in take:
                        pix = frames[i]
                        ids.append(doc_id)
                        idxs.append(int(i))
                        feats.append(
                            [
                                float(pix.mean()),
                                float(pix.std()),
                                float(pix.size),
                            ]
                        )
                    continue
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                chunks = np.array_split(arr, n_frames) if arr.size else []
                for i, ch in enumerate(chunks):
                    ids.append(doc_id)
                    idxs.append(i)
                    feats.append(
                        [
                            float(ch.mean()) / 255.0 if ch.size else 0.0,
                            float(ch.std()) / 255.0 if ch.size else 0.0,
                            float(ch.size),
                        ]
                    )
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "frame_idx": idxs, "frame_features": feats}
                )

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=FRAMES_SCHEMA
    )


AUDIO_SCHEMA = (
    "doc_id BIGINT, window_idx INT, rms DOUBLE, peak DOUBLE, n_samples INT"
)


def audio_window_envelope(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    window_samples: int = 256,
    decode_stub: bool = True,
) -> DataFrame:
    """Windowed audio envelope (RMS + peak per fixed-size sample window)
    over binary audio blobs — the waveform-summarization step an audio
    training pipeline runs before filtering/captioning. mapInPandas,
    Arrow-batched. ``decode_stub=True``: bytes are interpreted as uint8
    "samples" deterministically. ``decode_stub=False``: REAL RIFF/WAVE
    PCM decode via :func:`decode_wav` (stdlib ``wave`` — 8/16/24/32-bit,
    channels averaged to mono); non-WAV blobs raise ``ValueError``
    (compressed audio needs soundfile/ffmpeg, absent here). Fan-out
    (one row per window) happens inside the Python stage — no shuffle;
    the schema, batching, and windowing arithmetic are identical for
    both paths.
    """

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            out = {k: [] for k in ("doc_id", "window_idx", "rms", "peak", "n_samples")}
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:  # NULL blob: skip, don't TypeError
                    continue
                if not decode_stub:
                    arr = decode_audio(bytes(buf))
                    if arr is None:
                        raise ValueError(
                            "audio_window_envelope(decode_stub=False) "
                            "decodes RIFF/WAVE PCM and FLAC; other "
                            "compressed audio needs libs not in this "
                            "container"
                        )
                    for w in range(max(1, -(-arr.size // window_samples))):
                        seg = arr[w * window_samples:(w + 1) * window_samples]
                        n = int(seg.size)
                        out["doc_id"].append(int(did))
                        out["window_idx"].append(w)
                        out["rms"].append(
                            float(np.sqrt((seg**2).mean())) if n else 0.0
                        )
                        out["peak"].append(
                            float(np.abs(seg).max()) if n else 0.0
                        )
                        out["n_samples"].append(n)
                    continue
                arr = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.float64)
                arr = (arr - 128.0) / 128.0  # center like signed PCM
                for w in range(max(1, -(-arr.size // window_samples))):
                    seg = arr[w * window_samples:(w + 1) * window_samples]
                    n = int(seg.size)
                    out["doc_id"].append(int(did))
                    out["window_idx"].append(w)
                    out["rms"].append(
                        float(np.sqrt((seg ** 2).mean())) if n else 0.0
                    )
                    out["peak"].append(float(np.abs(seg).max()) if n else 0.0)
                    out["n_samples"].append(n)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=AUDIO_SCHEMA
    )


TRANSCODE_SCHEMA = "doc_id BIGINT, blob BINARY, n_out_bytes INT"


def transcode_images(
    df: DataFrame,
    width: int,
    height: int,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    maxval: int = 255,
    out_format: str = "netpbm",
    on_error: str = "raise",
) -> DataFrame:
    """Full decode→resize→re-encode over binary image blobs — the shape
    of a real media-prep job (normalize a 100 TB corpus to a canonical
    resolution/encoding before training). Input dispatches through
    :func:`decode_image` (netpbm P5/P6 or PNG natively; JPEG behind the
    Pillow import guard); ``out_format`` picks the encoder — "netpbm"
    (:func:`encode_netpbm`) or "png" (:func:`encode_png`, the
    compressed path) — so cross-format normalization (PNG→netpbm or
    netpbm→PNG) is one call. Nearest-neighbor resize as in
    :func:`resize_images`; output blobs are themselves decodable, so
    stages chain. mapInPandas, map-only — no shuffle; NULL blobs are
    skipped. Unrecognized or corrupt blobs raise by default;
    ``on_error='skip'`` quarantines them instead (row dropped — run
    :func:`media_type_audit` first to see what will drop)."""
    if out_format not in ("netpbm", "png"):
        raise ValueError(f"out_format must be 'netpbm' or 'png', got {out_format!r}")
    if out_format == "png" and maxval not in (255, 65535):
        # encode_png/decode_png normalize by the full bit-depth range
        # (255 or 65535); any other maxval would mis-scale decoded
        # intensities and break the "output blobs decode again" contract.
        raise ValueError(
            "out_format='png' requires maxval 255 or 65535 "
            f"(PNG full-scale ranges), got {maxval}"
        )
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, blobs, sizes = [], [], []
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                try:
                    pix = decode_image(bytes(buf))
                    if pix is None:
                        raise ValueError(
                            "transcode_images decodes binary netpbm "
                            "(P5/P6) and PNG natively; JPEG needs "
                            "Pillow, absent here"
                        )
                except ValueError:
                    if on_error == "skip":
                        continue
                    raise
                h_in, w_in = pix.shape[0], pix.shape[1]
                rows = np.minimum(
                    (np.arange(height) * h_in) // height, h_in - 1
                )
                cols = np.minimum((np.arange(width) * w_in) // width, w_in - 1)
                resized = pix[rows][:, cols]
                quant = np.rint(resized * maxval).astype(np.int64)
                if out_format == "png":
                    out = encode_png(
                        quant, depth=16 if maxval > 255 else 8
                    )
                else:
                    out = encode_netpbm(
                        quant[:, :, 0] if quant.shape[2] == 1 else quant,
                        maxval=maxval,
                    )
                ids.append(did)
                blobs.append(out)
                sizes.append(len(out))
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "blob": blobs, "n_out_bytes": sizes}
                )

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=TRANSCODE_SCHEMA
    )


def resample_linear(x, rate_in: int, rate_out: int):
    """Linear-interpolation PCM rate conversion: output sample j sits at
    source position j·rate_in/rate_out; ``y_j = x[i0] + (x[i1] − x[i0])·f``
    with ``i0 = (j·rate_in) // rate_out``, ``f`` the fractional part,
    and ``i1`` clamped to the last sample. Output length
    ``(n−1)·rate_out // rate_in + 1`` covers exactly the input span —
    no extrapolation. Integer index math, so the interpolation weights
    are exact rationals of denominator ``rate_out``; for power-of-two
    ratios (8 k↔16 k) the weights are dyadic and interpolated dyadic
    samples stay EXACT in float64 — the property the resample-roundtrip
    oracle certifies closed-form. Identity rates return x unchanged."""
    import numpy as np  # noqa: PLC0415

    x = np.asarray(x, dtype=np.float64)
    if rate_in == rate_out or x.size == 0:
        return x
    if rate_in <= 0 or rate_out <= 0:
        raise ValueError(f"rates must be positive, got {rate_in}→{rate_out}")
    n_out = (x.size - 1) * rate_out // rate_in + 1
    num = np.arange(n_out, dtype=np.int64) * rate_in
    i0 = num // rate_out
    frac = (num - i0 * rate_out).astype(np.float64) / float(rate_out)
    i1 = np.minimum(i0 + 1, x.size - 1)
    return x[i0] + (x[i1] - x[i0]) * frac


def transcode_audio(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    width: int = 2,
    rate: int | None = None,
    out_format: str = "wav",
    on_error: str = "raise",
) -> DataFrame:
    """Decode→downmix→resample→requantize→re-encode over binary audio
    blobs: normalize a corpus to canonical mono PCM at the given sample
    width and rate (the audio twin of :func:`transcode_images`).
    Input dispatches through :func:`decode_audio_meta` (WAV or FLAC);
    ``out_format`` picks "wav" (:func:`encode_wav`) or "flac"
    (:func:`.flac.encode_flac`, the lossless COMPRESSED path — widths
    1/2 only), so cross-format normalization (FLAC→WAV or WAV→FLAC) is
    one call. ``rate=None`` preserves the source rate with samples
    passing 1:1 (:func:`decode_wav_meta` keeps the header honest;
    ADVICE r5); ``rate=R`` RESAMPLES to R via :func:`resample_linear`
    — real rate conversion, not a header relabel. Output blobs decode
    again, so stages chain. Map-only; NULL blobs skipped. Unrecognized
    or corrupt blobs raise by default; ``on_error='skip'`` quarantines
    them instead (row dropped — one bad blob must not kill a 100 TB
    job; run :func:`media_type_audit` first to see what will drop)."""
    if out_format not in ("wav", "flac"):
        raise ValueError(
            f"out_format must be 'wav' or 'flac', got {out_format!r}"
        )
    if out_format == "flac" and width not in (1, 2):
        raise ValueError(
            f"out_format='flac' supports widths 1 and 2, got {width}"
        )
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, blobs, sizes = [], [], []
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                try:
                    meta = decode_audio_meta(bytes(buf))
                    if meta is None:
                        raise ValueError(
                            "transcode_audio decodes RIFF/WAVE PCM and "
                            "FLAC; other compressed audio needs libs "
                            "not in this container"
                        )
                except ValueError:
                    if on_error == "skip":
                        continue
                    raise
                x, src_rate = meta
                if rate is not None and rate != src_rate:
                    x = resample_linear(x, src_rate, rate)
                if out_format == "flac":
                    from chicago_crime_spark_ml_spark.operators.flac import (  # noqa: PLC0415
                        encode_flac,
                    )

                    out = encode_flac(
                        x, bps=8 * width, rate=rate or src_rate
                    )
                else:
                    out = encode_wav(
                        x, width=width, nch=1, rate=rate or src_rate
                    )
                ids.append(did)
                blobs.append(out)
                sizes.append(len(out))
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "blob": blobs, "n_out_bytes": sizes}
                )

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema=TRANSCODE_SCHEMA
    )


# ---------------------------------------------------------------- synthesis
# Blob synthesis: encode NUMERIC columns into real WAV/netpbm blobs.
# This is what makes the real-codec paths driver-certifiable with no
# media files on disk: a query builds deterministic sample/pixel arrays
# with JVM Column algebra (sequence/transform — the exact same float64
# ops an ANSI-SQL oracle replays), encodes them through the REAL
# encoders here, runs the REAL decode operators, and the oracle
# recomputes the decoded statistics closed-form. It is also the write
# half of a real pipeline (synthetic probes, test tones, watermark
# tiles) — not test-only scaffolding.


def synthesize_wav_blobs(
    df: DataFrame,
    samples_col: str = "samples",
    id_col: str = "doc_id",
    width: int = 2,
    rate: int = 8000,
) -> DataFrame:
    """(id, array<double> samples) → (id, blob) with blob a real
    RIFF/WAVE PCM encoding of the samples via :func:`encode_wav`
    (mono; ``width`` bytes/sample, truncating quantizer at scale
    2^(8·width−1)−1 — closed-form: a decoded sample is
    ``trunc(clip(x)·(2^(8w−1)−1)) / 2^(8w−1)``). mapInPandas, map-only;
    NULL sample arrays are skipped like NULL blobs everywhere else."""

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, blobs = [], []
            for did, xs in zip(pdf[id_col], pdf[samples_col]):
                if xs is None:
                    continue
                ids.append(did)
                blobs.append(encode_wav(list(xs), width=width, rate=rate))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    return df.select(F.col(id_col), F.col(samples_col)).mapInPandas(
        batches, schema="doc_id BIGINT, blob BINARY"
    )


def synthesize_netpbm_blobs(
    df: DataFrame,
    pixels_col: str = "pixels",
    id_col: str = "doc_id",
    maxval: int = 255,
) -> DataFrame:
    """(id, nested pixel array) → (id, blob) with blob a real
    binary-netpbm encoding via :func:`encode_netpbm`:
    ``array<array<int>>`` rows → P5 grayscale,
    ``array<array<array<int>>>`` (innermost length 3) → P6 RGB.
    Header ``P5/P6\\n{w} {h}\\n{maxval}\\n`` + raster — byte length is
    closed-form from (h, w, channels, maxval). Ragged rows raise:
    every row must have the same width. mapInPandas, map-only; NULL
    arrays skipped."""

    def batches(it):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, blobs = [], []
            for did, rows in zip(pdf[id_col], pdf[pixels_col]):
                if rows is None:
                    continue
                pix = np.array([np.asarray(list(r)) for r in rows])
                if pix.ndim not in (2, 3):
                    raise ValueError(
                        f"doc {did}: ragged pixel rows {pix.shape}"
                    )
                ids.append(did)
                blobs.append(encode_netpbm(pix, maxval=maxval))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    return df.select(F.col(id_col), F.col(pixels_col)).mapInPandas(
        batches, schema="doc_id BIGINT, blob BINARY"
    )


def wav_metadata(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Header metadata of real audio blobs via
    :func:`decode_audio_meta` (WAV or FLAC): (id, n_samples,
    framerate_hz, duration_s). The audit that catches rate-relabeling
    bugs (ADVICE r5) — duration must survive a transcode. Map-only;
    NULL blobs skipped, unrecognized blobs raise."""

    def batches(it):
        import pandas as pd  # noqa: PLC0415

        for pdf in it:
            ids, ns, rates = [], [], []
            for did, buf in zip(pdf[id_col], pdf[blob_col]):
                if buf is None:
                    continue
                meta = decode_audio_meta(bytes(buf))
                if meta is None:
                    raise ValueError(
                        "wav_metadata reads RIFF/WAVE PCM or FLAC only"
                    )
                x, rate = meta
                ids.append(did)
                ns.append(int(x.size))
                rates.append(int(rate))
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "n_samples": ns, "framerate_hz": rates}
                )

    out = df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        batches, schema="doc_id BIGINT, n_samples INT, framerate_hz INT"
    )
    return out.withColumn(
        "duration_s",
        F.round(
            F.col("n_samples").cast("double") / F.col("framerate_hz"), 6
        ),
    )


# ------------------------------------------------------------------- PNG
# A REAL compressed-image codec with zero third-party deps: PNG is zlib
# (stdlib) + per-scanline difference filters. Together with the
# pure-stdlib FLAC codec (operators/flac.py, r7) this closes the
# lossless half of the "compressed formats raise" gap — JPEG/MP4 are
# lossy/container formats that still need PIL/ffmpeg (the JPEG branch
# is import-guarded below and raises a named error in this hermetic
# container).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(buf: bytes):
    """Real PNG decode via stdlib ``zlib`` — no PIL. Returns an
    (h, w, c) float64 array in [0, 1] (c = 1 gray / 2 gray+alpha /
    3 RGB / 4 RGBA), or ``None`` when the 8-byte signature is absent so
    callers can dispatch. Supports bit depths 8 and 16 (network byte
    order) and all five scanline filters (None/Sub/Up/Average/Paeth);
    palette images, interlacing, and sub-8-bit depths raise
    ``ValueError`` (they need a palette/Adam7 pass this engine does not
    ship). Chunk CRCs are verified — a corrupt blob is corrupt data,
    not a different format."""
    buf = bytes(buf)
    if buf[:8] != _PNG_SIG:
        return None
    return _decode_png_at(buf, 0)[0]


def _decode_png_at(buf: bytes, pos: int):
    """Decode one PNG starting at ``pos`` (the 8-byte signature must be
    there — caller dispatches). Returns ``(pixels, next_pos)`` where
    next_pos is the first byte after the IEND chunk — the frame iterator
    for concatenated-PNG streams, mirroring :func:`_parse_netpbm_at`."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if buf[pos : pos + 8] != _PNG_SIG:
        raise ValueError(f"PNG: no signature at offset {pos}")
    pos += 8
    ihdr, idat, end = None, [], None
    while pos + 8 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) < length or pos + 12 + length > len(buf):
            # also covers a blob cut inside the 4-byte CRC — keep the
            # documented "corrupt blob is corrupt data" ValueError
            # contract instead of leaking struct.error from the worker
            raise ValueError("PNG: truncated chunk")
        (crc,) = struct.unpack(
            ">I", buf[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG: bad CRC in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        pos += 12 + length
        if ctype == b"IEND":
            end = pos
            break
    if ihdr is None or not idat or end is None:
        raise ValueError("PNG: missing IHDR/IDAT/IEND")
    w, h, depth, ct, comp, filt, interlace = ihdr
    if comp or filt:
        raise ValueError("PNG: nonstandard compression/filter method")
    if interlace:
        raise ValueError("PNG: Adam7 interlacing not supported")
    if ct not in _PNG_CHANNELS:
        raise ValueError(f"PNG: palette/unknown color type {ct}")
    if depth not in (8, 16):
        raise ValueError(f"PNG: bit depth {depth} not supported")
    nch = _PNG_CHANNELS[ct]
    bps = depth // 8
    bpp = nch * bps  # filter unit: bytes per pixel
    stride = w * bpp
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        # a blob whose chunk CRCs validate but whose IDAT stream is
        # zlib-corrupt is corrupt DATA, not an engine bug: re-raise as
        # ValueError so the transcoders' on_error='skip' quarantine
        # catches it (ADVICE r7 — zlib.error escaped the skip path)
        raise ValueError(f"PNG: corrupt IDAT zlib stream ({exc})") from exc
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG: raster size {len(raw)} != {h * (stride + 1)}"
        )
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).copy()
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: sequential prefix dependency
            rec = line
            for i in range(bpp, stride):
                rec[i] = (int(rec[i]) + int(rec[i - bpp])) & 0xFF
        elif ftype == 2:  # Up: fully vectorized
            rec = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            rec = line
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                rec[i] = (int(line[i]) + (a + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            rec = line
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out[r] = rec
        prev = out[r]
    if depth == 8:
        pix = out.reshape(h, w, nch).astype(np.float64) / 255.0
    else:
        pix = (
            out.reshape(h, w * nch, 2)[:, :, 0].astype(np.uint16) * 256
            + out.reshape(h, w * nch, 2)[:, :, 1]
        ).reshape(h, w, nch).astype(np.float64) / 65535.0
    return pix, end


def decode_png_stream(buf: bytes):
    """Real decode of a concatenated-PNG "video" stream (back-to-back
    full PNG files — the compressed sibling of the netpbm raw-frame
    container). Returns a list of (h, w, c) float64 frames, or ``None``
    when the first bytes are not a PNG signature; garbage between
    frames raises ``ValueError``."""
    buf = bytes(buf)
    if buf[:8] != _PNG_SIG:
        return None
    frames, pos = [], 0
    while pos < len(buf):
        if buf[pos : pos + 8] != _PNG_SIG:
            raise ValueError(
                f"PNG stream: junk at offset {pos} after frame "
                f"{len(frames)}"
            )
        pix, pos = _decode_png_at(buf, pos)
        frames.append(pix)
    return frames


def decode_image_stream(buf: bytes):
    """Format-dispatching frame-stream decode: concatenated netpbm
    (:func:`decode_netpbm_stream`) or concatenated PNG
    (:func:`decode_png_stream`). Returns a list of (h, w, c) float64
    frames or ``None`` for unrecognized magics."""
    frames = decode_netpbm_stream(buf)
    if frames is not None:
        return frames
    return decode_png_stream(buf)


def encode_png(pix, depth: int = 8) -> bytes:
    """Real PNG encode via stdlib ``zlib``: integer pixel array
    (h, w) / (h, w, 1) → grayscale, (h, w, 3) → RGB, (h, w, 2)/(h, w, 4)
    → gray+alpha/RGBA; ``depth`` 8 or 16 (network byte order). Filter
    type 0 on every scanline + one zlib stream — deterministic bytes
    for a given zlib, decodable by any PNG reader. Roundtrip with
    :func:`decode_png` is property-tested."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    pix = np.asarray(pix)
    if pix.ndim == 2:
        pix = pix[:, :, None]
    if pix.ndim != 3 or pix.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"expected (h,w[,c<=4]) array, got {pix.shape}")
    h, w, nch = pix.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    if depth == 8:
        raster = pix.astype("u1").reshape(h, w * nch)
    elif depth == 16:
        raster = (
            pix.astype(">u2").view("u1").reshape(h, w * nch * 2)
        )
    else:
        raise ValueError(f"PNG: bit depth {depth} not supported")
    scanlines = b"".join(
        b"\x00" + raster[r].tobytes() for r in range(h)
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 9))
        + chunk(b"IEND", b"")
    )


def decode_image(buf: bytes):
    """Format-dispatching REAL image decode: binary netpbm (P5/P6) and
    PNG are decoded natively (pure numpy / stdlib zlib); JPEG decodes
    IF Pillow is importable (import-guarded — absent in this hermetic
    container, where the branch raises a ``ValueError`` naming the
    gap). Returns (h, w, c) float64 in [0, 1], or ``None`` for
    unrecognized magics so callers can layer further dispatch."""
    buf = bytes(buf)
    pix = decode_netpbm(buf)
    if pix is not None:
        return pix
    pix = decode_png(buf)
    if pix is not None:
        return pix
    if buf[:3] == b"\xff\xd8\xff":  # JPEG SOI
        try:
            import io  # noqa: PLC0415

            from PIL import Image  # noqa: PLC0415
        except ImportError as e:
            raise ValueError(
                "JPEG blob: decoding needs Pillow, which is not in "
                "this container (netpbm and PNG decode natively)"
            ) from e
        import numpy as np  # noqa: PLC0415

        arr = np.asarray(Image.open(io.BytesIO(buf)))
        if arr.ndim == 2:
            arr = arr[:, :, None]
        if np.issubdtype(arr.dtype, np.integer):
            # normalize by the dtype's own full scale, not a hardcoded
            # 255 — Pillow mode 'I'/'I;16' arrays are int32/uint16
            scale = float(np.iinfo(arr.dtype).max)
        else:
            raise ValueError(
                f"JPEG blob: unsupported decoded dtype {arr.dtype} "
                "(expected an integer pixel array)"
            )
        return arr.astype(np.float64) / scale
    return None
