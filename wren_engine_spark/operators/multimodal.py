"""Multimodal (binary) column plumbing.

Images/audio/video are carried as opaque ``binary`` columns with typed
metadata, processed via Arrow-batched ``mapInPandas``. Image decode is
REAL for the BMP container (``encode_bmp``/``decode_bmp``: dependency-
free header parse + numpy pixel stats, honoring bottom-up row order and
4-byte stride); compressed formats (JPEG/PNG/video) keep clearly-marked
deterministic stubs because their codec libraries are not in this
container — the Spark-side schema, partitioning and Arrow batch shape
are identical either way, so swapping a stub for PIL/ffmpeg changes no
plumbing.

At scale: binary payloads stay columnar (parquet binary), batches stream
through Arrow without row-at-a-time Python overhead, and the UDF is a
narrow map — no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + media metadata."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


FRAME_SCHEMA = "doc_id BIGINT, frame_idx BIGINT, frame_bytes BIGINT, status STRING"


def frame_sample_stub(payloads: DataFrame, bytes_per_frame: int = 256) -> DataFrame:
    """STUB video frame sampling: 1 -> N rows per payload via
    mapInPandas (the real version seeks keyframes with ffmpeg). Emits
    one row per ``bytes_per_frame`` chunk — deterministic, so the
    fan-out is SQL-oracle-checkable: frame_idx in [0, len div bpf]."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                nframes = n // bytes_per_frame + 1
                for i in range(nframes):
                    ids.append(doc_id)
                    idxs.append(i)
                    sizes.append(min(bytes_per_frame, n - i * bytes_per_frame))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_bytes": sizes,
                    "status": "stub_frame",
                }
            )

    return payloads.select("doc_id", "payload").mapInPandas(_batches, FRAME_SCHEMA)


FEATURE_DIM = 8
FEATURE_SCHEMA = f"doc_id BIGINT, feature ARRAY<DOUBLE>"


def extract_features_stub(payloads: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """STUB embedding extraction: payload -> fixed-dim float vector via
    mapInPandas (a real version runs a vision/audio encoder per Arrow
    batch). The fake is position-weighted byte sums mod 97 — cheap,
    deterministic, and shaped exactly like a model output, so the
    result feeds the similarity operators (cosine_topk / ivf_topk)
    unchanged."""

    import numpy as np

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                # vectorized position-bucketed byte sums: modular addition
                # is associative, so summing per bucket then reducing
                # mod 97 equals the per-byte sequential definition
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                if len(arr) % dim:
                    arr = np.pad(arr, (0, dim - len(arr) % dim))
                v = arr.reshape(-1, dim).sum(axis=0) % 97
                feats.append([float(x) for x in v])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})

    return payloads.select("doc_id", "payload").mapInPandas(_batches, FEATURE_SCHEMA)


BMP_WIDTH = 32
_BMP_STRIDE = ((BMP_WIDTH * 3 + 3) // 4) * 4  # 96 for width 32
_PIX_MULT = 31
_PIX_MOD = 251  # prime < 256: cycles through byte values without bias


def _build_bmp(doc_id: int, n_payload_bytes: int) -> bytes:
    """Construct a REAL 24-bpp BMP (BITMAPINFOHEADER, bottom-up rows,
    4-byte row stride) sized to the source payload: height =
    ceil(n_payload_bytes / stride). Pixel byte j (top-down row-major)
    is (doc_id * 31 + j) mod 251 — a deterministic pattern any SQL
    engine can re-derive, which keeps the decoded stats oracle-checkable
    while the bytes on the wire are a genuine image file."""
    import struct

    import numpy as np

    height = max((n_payload_bytes + _BMP_STRIDE - 1) // _BMP_STRIDE, 1)
    image_size = _BMP_STRIDE * height
    file_size = 54 + image_size
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, BMP_WIDTH, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    flat = (doc_id * _PIX_MULT + np.arange(image_size, dtype=np.int64)) % _PIX_MOD
    rows = flat.astype(np.uint8).reshape(height, _BMP_STRIDE)
    return header + dib + rows[::-1].tobytes()  # bottom-up row order


def encode_bmp(payloads: DataFrame) -> DataFrame:
    """Render each binary payload as a real BMP file (mapInPandas,
    Arrow-batched). 1 row in, 1 row out, no shuffle."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _build_bmp(int(i), len(p))
                        for i, p in zip(pdf["doc_id"], pdf["payload"])
                    ],
                }
            )

    return payloads.select("doc_id", "payload").mapInPandas(
        _batches, "doc_id BIGINT, payload BINARY"
    )


def _parse_bmp_pixels(b: bytes):
    """Parse a 24-bpp uncompressed BMP payload to (rows, width,
    height), where ``rows`` is the TOP-DOWN H x (W*3) uint8 pixel
    matrix (stride padding removed, bottom-up files flipped), or None
    for anything malformed — the ONE parser behind decode_bmp and
    image_ahash, so the stats and the perceptual hash can never read
    different pixel matrices from the same bytes (same contract as
    _parse_wav_samples for audio)."""
    import struct

    import numpy as np

    try:
        if len(b) < 54 or b[:2] != b"BM":
            return None
        _, _file_size, _, _, offset = struct.unpack("<2sIHHI", b[:14])
        dib_size, width, height = struct.unpack("<Iii", b[14:26])
        _planes, bpp, compression = struct.unpack("<HHI", b[26:34])
        if dib_size < 40 or bpp != 24 or compression != 0 or width <= 0:
            return None
        top_down = height < 0
        height = abs(height)
        stride = ((width * 3 + 3) // 4) * 4
        # a zero-height image or a pixel array extending past the
        # payload is malformed, not decodable — a 'BM' magic with a
        # truncated pixel array must yield an error ROW, never an
        # exception that fails the whole Spark task
        if height == 0 or offset < 54 or offset + stride * height > len(b):
            return None
        pix = np.frombuffer(b, dtype=np.uint8, count=stride * height, offset=offset)
        rows = pix.reshape(height, stride)[:, : width * 3]
        if not top_down:
            rows = rows[::-1]
        return rows, width, height
    except Exception:
        return None


BMP_DECODE_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, width BIGINT, height BIGINT, "
    "mean_pixel DOUBLE, status STRING"
)


def decode_bmp(payloads: DataFrame) -> DataFrame:
    """REAL image decode (no media libraries needed): parse the BMP
    file header (magic, pixel-array offset), the BITMAPINFOHEADER
    (width, signed height for bottom-up vs top-down, bit depth,
    compression), rebuild the pixel matrix with numpy honoring the
    4-byte row stride, and emit per-image pixel statistics. Replaces
    the round-1/2 fake-dimension stub: the dimensions and stats below
    come out of the actual bytes, and malformed payloads surface as
    status='error' rows instead of poisoning the batch.

    Scale: identical plumbing to any PIL/ffmpeg decode — Arrow-batched
    mapInPandas, a narrow map over binary columns, no shuffle."""
    import numpy as np

    def _decode_one(b: bytes):
        parsed = _parse_bmp_pixels(b)
        if parsed is None:
            return None
        rows, width, height = parsed
        # rows is top-down H x (W*3) BGR; stats are channel-agnostic
        total = int(rows.astype(np.int64).sum())
        return (len(b), width, height, total / rows.size)

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "width": [], "height": [],
                   "mean_pixel": [], "status": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = _decode_one(bytes(payload))
                out["doc_id"].append(doc_id)
                if d is None:
                    out["n_bytes"].append(len(payload))
                    out["width"].append(0)
                    out["height"].append(0)
                    out["mean_pixel"].append(0.0)
                    out["status"].append("error")
                else:
                    out["n_bytes"].append(d[0])
                    out["width"].append(d[1])
                    out["height"].append(d[2])
                    out["mean_pixel"].append(d[3])
                    out["status"].append("bmp")
            yield pd.DataFrame(out)

    return payloads.select("doc_id", "payload").mapInPandas(
        _batches, BMP_DECODE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Audio: real WAV (RIFF/PCM) codec — the audio twin of the BMP path
# ---------------------------------------------------------------------------

WAV_RATE = 8000
_SMP_MULT = 7919  # prime: int16 sample pattern cycles without bias
_SMP_OFF = 37


def _build_wav(doc_id: int, n_samples: int) -> bytes:
    """Construct a REAL mono 16-bit PCM WAV file (RIFF header, fmt and
    data chunks). Sample j is ((doc_id*37 + j*7919) mod 65536) - 32768
    — deterministic int16 any SQL engine re-derives, so decoded stats
    stay oracle-checkable while the bytes are a genuine audio file."""
    import struct

    import numpy as np

    n = max(int(n_samples), 1)
    data_bytes = n * 2
    hdr = struct.pack("<4sI4s", b"RIFF", 36 + data_bytes, b"WAVE")
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16
    )
    data_hdr = struct.pack("<4sI", b"data", data_bytes)
    samples = (
        (doc_id * _SMP_OFF + np.arange(n, dtype=np.int64) * _SMP_MULT) % 65536
    ) - 32768
    return hdr + fmt + data_hdr + samples.astype("<i2").tobytes()


def encode_wav(df: DataFrame, id_col: str = "doc_id", n_samples_col: str = "n_samples") -> DataFrame:
    """Render a real WAV per row (Arrow-batched mapInPandas; narrow map,
    no shuffle — identical plumbing to a production ffmpeg encode)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [
                        _build_wav(int(i), int(n))
                        for i, n in zip(pdf[id_col], pdf[n_samples_col])
                    ],
                }
            )

    return df.select(id_col, n_samples_col).mapInPandas(
        _batches, "doc_id BIGINT, payload BINARY"
    )


def _parse_wav_samples(b: bytes):
    """Parse a RIFF/PCM WAV payload to (sample_rate, int64 sample
    vector), or None for anything malformed (bad magic, truncated
    chunk, non-PCM, non-mono, non-16-bit) — the ONE parser behind
    decode_wav and audio_fingerprint, so the stats and the fingerprint
    can never read different sample vectors from the same bytes."""
    import struct

    import numpy as np

    try:
        if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None
        pos, fmt_info, data = 12, None, None
        while pos + 8 <= len(b):
            cid, csize = struct.unpack("<4sI", b[pos : pos + 8])
            body = b[pos + 8 : pos + 8 + csize]
            if len(body) < csize:
                return None  # truncated chunk
            if cid == b"fmt " and csize >= 16:
                fmt_info = struct.unpack("<HHIIHH", body[:16])
            elif cid == b"data":
                data = body
            pos += 8 + csize + (csize & 1)  # chunks are word-aligned
        if fmt_info is None or data is None:
            return None
        audio_fmt, channels, rate, _, _, bits = fmt_info
        if audio_fmt != 1 or channels != 1 or bits != 16 or rate <= 0:
            return None
        n = len(data) // 2
        if n == 0:
            return None
        return rate, np.frombuffer(data, dtype="<i2", count=n).astype(np.int64)
    except Exception:
        return None


WAV_DECODE_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, sample_rate BIGINT, n_samples BIGINT, "
    "duration_s DOUBLE, mean_amp DOUBLE, rms_amp DOUBLE, status STRING"
)


def decode_wav(payloads: DataFrame) -> DataFrame:
    """REAL audio decode with no media libraries: parse the RIFF
    container (magic, chunk walk), the fmt chunk (PCM tag, channels,
    sample rate, bit depth), locate the data chunk, rebuild the int16
    sample vector with numpy, and emit per-clip amplitude statistics.
    Malformed payloads (bad magic, truncated chunks, non-PCM,
    unsupported depth) yield status='error' ROWS — never an exception
    that fails the Spark task (same contract as decode_bmp).

    Scale: Arrow-batched mapInPandas over a binary column; narrow map,
    no shuffle; swap the body for soundfile/ffmpeg in production with
    the same schema and batch shape."""
    import numpy as np

    def _decode_one(b: bytes):
        parsed = _parse_wav_samples(b)
        if parsed is None:
            return None
        rate, s = parsed
        n = s.size
        total = int(s.sum())
        sq = int((s * s).sum())
        return (
            len(b), rate, n, n / rate, total / n, float(np.sqrt(sq / n)),
        )

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_bytes", "sample_rate", "n_samples",
                "duration_s", "mean_amp", "rms_amp", "status")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = _decode_one(bytes(payload))
                out["doc_id"].append(doc_id)
                if d is None:
                    out["n_bytes"].append(len(payload))
                    out["sample_rate"].append(0)
                    out["n_samples"].append(0)
                    out["duration_s"].append(0.0)
                    out["mean_amp"].append(0.0)
                    out["rms_amp"].append(0.0)
                    out["status"].append("error")
                else:
                    out["n_bytes"].append(d[0])
                    out["sample_rate"].append(d[1])
                    out["n_samples"].append(d[2])
                    out["duration_s"].append(d[3])
                    out["mean_amp"].append(d[4])
                    out["rms_amp"].append(d[5])
                    out["status"].append("wav")
            yield pd.DataFrame(out)

    return payloads.select("doc_id", "payload").mapInPandas(
        _batches, WAV_DECODE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing: average-hash over REAL decoded pixels —
# multimodal near-dup moves past plumbing into an actual dedup signal
# ---------------------------------------------------------------------------

AHASH_SCHEMA = "doc_id BIGINT, height BIGINT, h_lo BIGINT, h_hi BIGINT, status STRING"


def image_ahash(payloads: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) over real decoded BMP pixels:
    split the image into a ``grid`` x ``grid`` cell lattice (cell of
    pixel (r, k) = ((r*grid)//H, (k*grid)//W3) — the direct formula
    both engines can replay), set a cell's bit iff the cell is
    non-empty and its mean is >= the global mean, compared by INTEGER
    cross-multiplication (cell_sum * total_n >= total_sum * cell_n —
    no float mean, no rounding ambiguity). The 64 bits pack into two
    32-bit halves (h_lo = cells 0-31, h_hi = 32-63) so Hamming joins
    and band extraction stay in positive-bigint territory in any
    engine.

    This is the image analog of the text simhash: near-identical
    images (resizes, small overlays) agree on most block means, so a
    banded Hamming join over (h_lo, h_hi) finds visual near-dups
    without any pairwise pixel comparison. Arrow-batched mapInPandas,
    narrow, no shuffle — identical plumbing to a PIL-based aHash.
    """
    import numpy as np

    def _one(b: bytes):
        try:
            parsed = _parse_bmp_pixels(b)
            if parsed is None:
                return None
            rows, _width, _height = parsed
            rows = rows.astype(np.int64)
            h, w3 = rows.shape
            r_cell = (np.arange(h) * grid) // h
            c_cell = (np.arange(w3) * grid) // w3
            cell = (r_cell[:, None] * grid + c_cell[None, :]).ravel()
            sums = np.bincount(
                cell, weights=rows.ravel(), minlength=grid * grid
            ).astype(np.int64)
            counts = np.bincount(cell, minlength=grid * grid)
            ts, tn = int(rows.sum()), int(rows.size)
            h_lo = h_hi = 0
            for i in range(grid * grid):
                if counts[i] > 0 and int(sums[i]) * tn >= ts * int(counts[i]):
                    if i < 32:
                        h_lo |= 1 << i
                    else:
                        h_hi |= 1 << (i - 32)
            return (h, h_lo, h_hi)
        except Exception:
            return None

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "height": [], "h_lo": [], "h_hi": [],
                   "status": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = _one(bytes(payload))
                out["doc_id"].append(doc_id)
                if d is None:
                    out["height"].append(0)
                    out["h_lo"].append(-1)
                    out["h_hi"].append(-1)
                    out["status"].append("error")
                else:
                    out["height"].append(d[0])
                    out["h_lo"].append(d[1])
                    out["h_hi"].append(d[2])
                    out["status"].append("bmp")
            yield pd.DataFrame(out)

    return payloads.select("doc_id", "payload").mapInPandas(
        _batches, AHASH_SCHEMA
    )


def image_ahash_pairs(
    hashes: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Visual near-dup pairs from aHash halves: explode each image's
    hash into ``bands`` 16-bit band keys (pigeonhole: two hashes
    within ``max_hamming`` < bands share at least one exact band),
    self-join on the band key, then verify the EXACT Hamming distance
    with two 32-bit xors — the simhash banding discipline applied to
    images. No pairwise pixel work anywhere; the join key is band
    value, so cost scales with band-bucket occupancy, not corpus^2.

    Returns (id_a, id_b, hamming), id_a < id_b, distinct.
    """
    assert bands > max_hamming, "pigeonhole needs bands > max_hamming"
    width = 64 // bands
    # each band is read from ONE 32-bit half (h_lo or h_hi); a band
    # straddling the boundary would silently drop its h_hi bits and
    # break the pigeonhole guarantee, so the band width must divide 32
    assert 32 % width == 0, (
        "bands must split the two 32-bit halves evenly "
        "(64 // bands must divide 32; e.g. 4 or 8)"
    )
    mask = (1 << width) - 1

    def _band(b: int):
        # bands 0..(bands/2-1) come from h_lo, the rest from h_hi
        half = F.col("h_lo") if (b * width) < 32 else F.col("h_hi")
        off = (b * width) % 32
        return F.shiftrightunsigned(half, off).bitwiseAND(F.lit(mask))

    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band(b).alias("val"))
            for b in range(bands)
        ]
    )
    ok = hashes.filter(F.col("status") == "bmp")
    sig = ok.select(
        "doc_id", "h_lo", "h_hi", F.explode(band_arr).alias("b")
    ).select(
        "doc_id", "h_lo", "h_hi",
        F.col("b.band").alias("band"), F.col("b.val").alias("val"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    ham = (
        F.bit_count(
            F.col("a.h_lo").bitwiseXOR(F.col("b.h_lo"))
        ) + F.bit_count(F.col("a.h_hi").bitwiseXOR(F.col("b.h_hi")))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


AUDIO_FP_SCHEMA = "doc_id BIGINT, n_samples BIGINT, fingerprint BIGINT, status STRING"


def audio_fingerprint(payloads: DataFrame, frames: int = 32) -> DataFrame:
    """Energy-delta audio fingerprint over REAL decoded PCM — the
    audio analog of image_ahash (and the shape of classic acoustic
    fingerprints: frame energies compared to their neighbors): split
    the sample vector into ``frames`` frames (frame of sample j =
    (j*frames)//n, the direct formula any engine replays), compute
    each frame's exact integer energy sum(s^2), and set bit f
    (f < frames-1) iff frames f and f+1 are both non-empty and
    E_{f+1} * n_f >= E_f * n_{f+1} — integer cross-multiplication, no
    float means. The (frames-1)-bit fingerprint stays positive in any
    engine; near-duplicate clips (re-encodes, trims) agree on most
    energy deltas, so a banded Hamming join finds them without any
    pairwise sample comparison.

    Arrow-batched mapInPandas; narrow, no shuffle; swap the parser for
    soundfile/ffmpeg in production with the same schema.
    """
    import numpy as np

    def _one(b: bytes):
        parsed = _parse_wav_samples(b)
        if parsed is None:
            return None
        _rate, s = parsed
        n = s.size
        f_idx = (np.arange(n) * frames) // n
        e = np.bincount(f_idx, weights=(s * s).astype(np.float64),
                        minlength=frames)
        c = np.bincount(f_idx, minlength=frames)
        e = np.rint(e).astype(object)  # exact int energies (< 2^53 here)
        fp = 0
        for f in range(frames - 1):
            if c[f] > 0 and c[f + 1] > 0 and int(e[f + 1]) * int(c[f]) >= int(
                e[f]
            ) * int(c[f + 1]):
                fp |= 1 << f
        return (n, fp)

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "fingerprint": [],
                   "status": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = _one(bytes(payload))
                out["doc_id"].append(doc_id)
                if d is None:
                    out["n_samples"].append(0)
                    out["fingerprint"].append(-1)
                    out["status"].append("error")
                else:
                    out["n_samples"].append(d[0])
                    out["fingerprint"].append(d[1])
                    out["status"].append("wav")
            yield pd.DataFrame(out)

    return payloads.select("doc_id", "payload").mapInPandas(
        _batches, AUDIO_FP_SCHEMA
    )
