"""Multimodal-column operators — SURVEY.md §2 C48 + binary plumbing.

The engine's multimodal story (BASELINE.json north star): media travel
as opaque ``binary`` columns with typed metadata beside them; decode /
feature-extract runs as Arrow-batched ``mapInPandas`` so bytes never
round-trip row-at-a-time.

The heavyweight codec libraries (PIL/ffmpeg/soundfile) are not in this
container, so the media operators work on REAL public formats that
decode with stdlib + numpy alone:

- images: binary PPM (netpbm P6) — header parse + raw RGB planes;
- video: YUV4MPEG2 (y4m) — stream header + per-FRAME YUV420 planes;
- audio: WAV/RIFF 16-bit PCM — stdlib ``wave`` + numpy sample math.

Payloads are synthesized deterministically (md5-stream pixels/samples
keyed by doc_id) in a separate Arrow stage, so the decode stage
genuinely consumes opaque bytes it did not produce. Swapping in JPEG/
H.264/FLAC is a codec-call change inside the same mapInPandas bodies —
the schema/batching/row-explosion contracts are what carry to 100 TB.

``multimodal_embedding_stats`` treats the embedding column as the typed
feature side of a multimodal record (per-label centroid geometry).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import r4
from ..registry import query
from ..tables import row_count, table


def _rng_bytes(seed: bytes, n: int) -> bytes:
    """Deterministic byte stream (md5 counter mode) — synthetic pixels
    and samples derive from this, so every engine run is identical."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.md5(seed + i.to_bytes(4, "little")).digest()
        i += 1
    return bytes(out[:n])


# ---------------------------------------------------------------- PPM


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (netpbm P6), maxval 255: the standard uncompressed
    RGB interchange format."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(payload: bytes):
    """Parse a binary PPM: returns (width, height, HxWx3 uint8 array).
    A real decoder (magic, whitespace/comment-tolerant header, raw
    plane) — not a fake: corrupt payloads raise."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    pix = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, pix.reshape(h, w, 3)


def _synth_ppm(doc_id: int) -> bytes:
    w = 16 + int(doc_id) % 48
    h = 16 + int(doc_id) % 32
    return encode_ppm(w, h, _rng_bytes(b"img%d" % int(doc_id), w * h * 3))


@query(
    "multimodal_embedding_stats",
    oracle="""
WITH v AS (
  SELECT label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), centroid AS (
  SELECT label, i, avg(x) AS m FROM v GROUP BY label, i
), norms AS (
  SELECT vec_id, label,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
)
SELECT c.label,
       round(sqrt(sum(c.m * c.m)), 4) AS centroid_norm,
       n.n_vectors,
       round(n.avg_norm, 4) AS avg_norm
FROM centroid c
JOIN (SELECT label, count(*) AS n_vectors, avg(nrm) AS avg_norm
      FROM norms GROUP BY label) n ON n.label = c.label
GROUP BY c.label, n.n_vectors, n.avg_norm
""",
)
def multimodal_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C48: per-label embedding geometry — centroid norm (posexplode ->
    per-dimension mean -> L2) and mean vector norm. The explode shape
    shuffles (label, dim) partial sums, not vectors: scale-safe."""
    e = table(spark, sf_dir, "embeddings")
    v = e.select(
        "label", F.posexplode("embedding").alias("i", "xf")
    ).withColumn("x", F.col("xf").cast("double"))
    centroid = v.groupBy("label", "i").agg(F.avg("x").alias("m"))
    cnorm = centroid.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("centroid_norm_raw")
    )
    norms = e.select(
        "label",
        F.expr(
            "sqrt(aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)), "
            "0D, (acc, v) -> acc + v))"
        ).alias("nrm"),
    )
    per_label = norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.avg("nrm").alias("avg_norm_raw")
    )
    return cnorm.join(per_label, "label").select(
        "label",
        r4(F.col("centroid_norm_raw")).alias("centroid_norm"),
        "n_vectors",
        r4(F.col("avg_norm_raw")).alias("avg_norm"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS checksum,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height
FROM documents
""",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, relational half: payload as ``binary``
    (utf-8 encode of text stands in for image bytes), with typed
    metadata derived engine-side — byte length, checksum, and a
    deterministic fake of decoded dimensions. At 100 TB binary columns
    ride parquet byte arrays; metadata extraction like this never
    leaves the JVM."""
    docs = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    nbytes = F.octet_length(payload).cast("bigint")
    return docs.select(
        "doc_id",
        nbytes.alias("n_bytes"),
        F.md5("text").alias("checksum"),
        (nbytes % 640).alias("fake_width"),
        (nbytes % 480).alias("fake_height"),
    )


_DECODE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width bigint, height bigint, mean_px double"
)


def _image_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth stage: one REAL binary-PPM payload per document (separate
    Arrow stage, so the decode stage below consumes opaque bytes)."""
    from .scale_patterns import spread_for_fanout

    # spread BEFORE the Python synth/decode ladder (optimization r12):
    # the single-split documents scan otherwise runs the whole codec
    # pipeline in ONE Python worker
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select("doc_id"),
        n_rows=row_count(sf_dir, "documents"),
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(_synth_ppm)}
            )

    return docs.mapInPandas(synth, schema="doc_id bigint, payload binary")


@query("multimodal_image_decode")  # weak: binary codec has no SQL oracle
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode, Python half: Arrow-batched ``mapInPandas``
    over REAL binary-PPM payloads — header parse, raw RGB plane, mean
    pixel from the actual pixels (decode_ppm; corrupt bytes raise).
    This is the pattern for any image decode at scale: one Python
    worker per core, Arrow transfer, no per-row pickling; swap
    decode_ppm for PIL/turbojpeg and nothing else changes."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:  # one output batch per input batch: bounded memory
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = decode_ppm(bytes(payload))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": len(payload),
                        "width": w,
                        "height": h,
                        "mean_px": round(float(pix.mean()) / 255.0, 4),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "width", "height", "mean_px"]
            )

    return _image_payloads(spark, sf_dir).mapInPandas(
        decode_batches, schema=_DECODE_SCHEMA
    )


# ---------------------------------------------------------------- y4m

_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, frame_ms bigint, mean_luma double, "
    "frame_checksum string"
)
_SAMPLE_EVERY = 2  # keep every 2nd frame


def encode_y4m(width: int, height: int, frames: list[bytes], fps: int = 25) -> bytes:
    """YUV4MPEG2 stream (the mjpegtools/ffmpeg raw-video interchange
    format): stream header, then ``FRAME\\n`` + YUV420 planes per
    frame (w*h luma + 2 * (w/2*h/2) chroma)."""
    head = b"YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 C420\n" % (width, height, fps)
    return head + b"".join(b"FRAME\n" + f for f in frames)


def decode_y4m(payload: bytes):
    """Parse a YUV4MPEG2 stream: returns (width, height, fps,
    [frame_bytes...]). Real parser — bad magic or a short frame raises."""
    nl = payload.index(b"\n")
    head = payload[:nl].split(b" ")
    if head[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    params = {p[:1]: p[1:] for p in head[1:] if p}
    w = int(params[b"W"])
    h = int(params[b"H"])
    fps = int(params[b"F"].split(b":")[0])
    frame_len = w * h + 2 * ((w // 2) * (h // 2))
    frames = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 6] != b"FRAME\n":
            raise ValueError("bad FRAME marker")
        pos += 6
        if pos + frame_len > len(payload):
            raise ValueError("truncated frame")
        frames.append(payload[pos : pos + frame_len])
        pos += frame_len
    return w, h, fps, frames


def _synth_y4m(doc_id: int) -> bytes:
    w, h = 16, 8  # YUV420 requires even dims
    n_frames = 4 + int(doc_id) % 8
    frame_len = w * h + 2 * ((w // 2) * (h // 2))
    frames = [
        _rng_bytes(b"vid%d-%d" % (int(doc_id), i), frame_len) for i in range(n_frames)
    ]
    return encode_y4m(w, h, frames)


@query("multimodal_video_frame_sample")  # weak: binary codec has no SQL oracle
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame extraction + temporal sampling over a REAL container
    format (YUV4MPEG2): parse the stream header, walk FRAME markers,
    keep every k-th frame, emit per-frame mean luma (from the actual Y
    plane) + checksum instead of pixel buffers.

    The Spark-side contract is the 100 TB part: one binary row in, N
    sampled frame rows out — a generator inside Arrow-batched
    mapInPandas, row explosion with no shuffle; timestamps derived
    from the container's own frame rate. An H.264 build swaps
    decode_y4m for pyav and keeps everything else."""
    import hashlib as _hl

    from .scale_patterns import spread_for_fanout

    # spread BEFORE the Python synth/codec ladder (optimization r12)
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select("doc_id"),
        n_rows=row_count(sf_dir, "documents"),
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(_synth_y4m)}
            )

    payloads = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, fps, frames = decode_y4m(bytes(payload))
                for idx in range(0, len(frames), _SAMPLE_EVERY):
                    luma = np.frombuffer(frames[idx], dtype=np.uint8, count=w * h)
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": idx,
                            "frame_ms": idx * 1000 // fps,
                            "mean_luma": round(float(luma.mean()) / 255.0, 4),
                            "frame_checksum": _hl.md5(frames[idx]).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_ms", "mean_luma", "frame_checksum"],
            )

    return payloads.mapInPandas(sample, schema=_FRAME_SCHEMA)


_RESIZE_SCHEMA = (
    "doc_id bigint, src_w bigint, src_h bigint, dst_w bigint, dst_h bigint, "
    "scale double, out_bytes bigint, out_checksum string"
)
_RESIZE_TARGET = 24  # fit-within box (fixture images are 16-63 px wide)


def resize_nearest(pix, dst_w: int, dst_h: int):
    """Nearest-neighbor resample of an HxWx3 uint8 array — the real
    pixel operation (index-map gather), not a size calculation."""
    import numpy as np

    src_h, src_w = pix.shape[0], pix.shape[1]
    ys = (np.arange(dst_h) * src_h // dst_h).clip(0, src_h - 1)
    xs = (np.arange(dst_w) * src_w // dst_w).clip(0, src_w - 1)
    return pix[ys[:, None], xs[None, :], :]


@query("multimodal_image_resize")  # weak: binary codec has no SQL oracle
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image normalization: decode (real PPM) -> aspect-preserving
    fit-within resize (real nearest-neighbor gather over the pixel
    array) -> re-encode (real PPM) -> emit dims + checksum of the
    re-encoded bytes. The standard pre-featurization pass; Arrow
    batches in/out, pixels never leave the Python worker."""
    import hashlib as _hl

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                src_w, src_h, pix = decode_ppm(bytes(payload))
                scale = min(1.0, _RESIZE_TARGET / float(max(src_w, src_h)))
                dst_w = max(1, int(src_w * scale))
                dst_h = max(1, int(src_h * scale))
                out = encode_ppm(
                    dst_w, dst_h, resize_nearest(pix, dst_w, dst_h).tobytes()
                )
                rows.append(
                    {
                        "doc_id": doc_id,
                        "src_w": src_w,
                        "src_h": src_h,
                        "dst_w": dst_w,
                        "dst_h": dst_h,
                        "scale": round(scale, 4),
                        "out_bytes": len(out),
                        "out_checksum": _hl.md5(out).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "dst_w", "dst_h",
                    "scale", "out_bytes", "out_checksum",
                ],
            )

    return _image_payloads(spark, sf_dir).mapInPandas(resize, schema=_RESIZE_SCHEMA)


_AUDIO_SCHEMA = (
    "doc_id bigint, chunk_idx bigint, start_ms bigint, end_ms bigint, "
    "energy double, is_speech boolean"
)
_SAMPLE_RATE = 16_000     # 16 kHz mono s16le PCM
_CHUNK_SAMPLES = 2_048    # ~128 ms windows
_HOP_SAMPLES = 1_536      # 25% overlap between consecutive chunks


def encode_wav(samples, sample_rate: int = _SAMPLE_RATE) -> bytes:
    """RIFF/WAVE, 16-bit mono PCM — via the stdlib ``wave`` writer."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes):
    """Parse a WAV: returns (sample_rate, float64 samples in [-1, 1)).
    stdlib ``wave`` does the real RIFF/fmt-chunk parsing; non-PCM or
    corrupt payloads raise."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("expected 16-bit mono PCM")
        rate = w.getframerate()
        pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return rate, pcm.astype(np.float64) / 32768.0


def _synth_wav(doc_id: int) -> bytes:
    """Deterministic test signal: alternating voiced (sine bursts) and
    near-silent stretches, so the VAD gate below has both classes."""
    import numpy as np

    d = int(doc_id)
    n = _SAMPLE_RATE // 4 + (d % 7) * _HOP_SAMPLES  # 0.25-0.85 s
    t = np.arange(n, dtype=np.float64)
    freq = 110.0 * (1 + d % 5)
    tone = 0.5 * np.sin(2 * np.pi * freq * t / _SAMPLE_RATE)
    gate = ((t // _CHUNK_SAMPLES) % 2) == (d % 2)  # every other window voiced
    noise_bytes = _rng_bytes(b"aud%d" % d, n)
    noise = (np.frombuffer(noise_bytes, dtype=np.uint8).astype(np.float64) - 127.5) / 127.5
    samples = np.where(gate, tone, 0.004 * noise) * 32767.0
    return encode_wav(samples)


@query("multimodal_audio_chunk")  # weak: binary codec has no SQL oracle
def multimodal_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio preprocessing over REAL WAV payloads: RIFF decode (stdlib
    ``wave``) -> overlapped fixed-length chunking -> per-chunk energy ->
    voice-activity gate — the standard ASR/embedding front end (30 s
    windows with overlap at production scale, scaled to the fixture).
    An MP3/FLAC build swaps decode_wav for soundfile and keeps all the
    chunk/gate logic.

    Spark contract (the 100 TB part): one binary row in, N overlapping
    chunk rows out via a generator inside Arrow-batched mapInPandas —
    row explosion with no shuffle and no Python-row round-trips; chunk
    timestamps are sample-accurate from the container's own rate. The
    gate's selectivity is the win at scale: silence (often most of raw
    audio) never leaves the scan stage."""
    import numpy as np

    from .scale_patterns import spread_for_fanout

    # spread BEFORE the Python synth/codec ladder (optimization r12)
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select("doc_id"),
        n_rows=row_count(sf_dir, "documents"),
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(_synth_wav)}
            )

    payloads = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, pcm = decode_wav(bytes(payload))
                if pcm.size == 0:
                    continue
                idx = 0
                start = 0
                while start < pcm.size:
                    seg = pcm[start : start + _CHUNK_SAMPLES]
                    energy = float(np.abs(seg).mean())
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "chunk_idx": idx,
                            "start_ms": start * 1000 // rate,
                            "end_ms": (start + seg.size) * 1000 // rate,
                            "energy": round(energy, 4),
                            "is_speech": energy > 0.05,
                        }
                    )
                    idx += 1
                    start += _HOP_SAMPLES
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "chunk_idx", "start_ms", "end_ms", "energy", "is_speech",
                ],
            )

    return payloads.mapInPandas(chunk, schema=_AUDIO_SCHEMA)


@query(
    "multimodal_embedding_quantize",
    oracle="""
WITH q AS (
  SELECT vec_id, label,
         len(embedding) AS n_dims,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS amax
  FROM embeddings
), s AS (
  SELECT vec_id, label, n_dims, amax,
         CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS scale
  FROM q
), z AS (
  SELECT s.vec_id, s.label, s.n_dims, s.scale,
         list_transform(e.embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * s.scale + 0.5) AS BIGINT)) AS qv
  FROM s JOIN embeddings e ON e.vec_id = s.vec_id
)
SELECT vec_id, label, CAST(n_dims AS BIGINT) AS n_dims,
       round(scale, 4) AS scale,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum
FROM z
""",
)
def multimodal_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage/bandwidth compression every vector store applies before
    ANN serving. Per vector: scale = 127/max|x|, q_i = floor(x*scale
    + 0.5) (explicit floor(+0.5): round-half-up is engine-identical,
    while native round() ties-to-even is not guaranteed across
    engines). Emitted as per-vector summaries (dims, scale, min/max/
    sum of the int8 codes) — the validation columns a quantization job
    logs; q_max <= 127 and q_min >= -127 by construction.

    Scale: pure per-row array HOFs — no shuffle, no Python, codegen'd;
    the quantized payload would be written as array<tinyint> next to
    the fp32 original (or replacing it, once recall is validated)."""
    e = table(spark, sf_dir, "embeddings")
    amax = F.expr(
        "aggregate(transform(embedding, x -> abs(cast(x as double))), "
        "cast(0 as double), (a, v) -> greatest(a, v))"
    )
    s = e.select(
        "vec_id", "label",
        F.size("embedding").cast("bigint").alias("n_dims"),
        amax.alias("amax"),
        "embedding",
    ).withColumn(
        "scale",
        F.when(F.col("amax") > 0, F.lit(127.0) / F.col("amax")).otherwise(F.lit(1.0)),
    )
    qv = F.expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * scale + 0.5) as bigint))"
    )
    z = s.withColumn("qv", qv)
    return z.select(
        "vec_id", "label", "n_dims",
        r4(F.col("scale")).alias("scale"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.expr("aggregate(qv, cast(0 as bigint), (a, v) -> a + v)").alias("q_sum"),
    )


# ------------------------------------------------------------ patchify

_PATCH = 8  # ViT-style square patch side (pixels)
_PATCH_SCHEMA = (
    "doc_id bigint, patch_row int, patch_col int, "
    "mean_r double, mean_g double, mean_b double, std_px double"
)


@query("multimodal_image_patchify")  # weak: binary codec has no SQL oracle
def multimodal_image_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction: decode each binary-PPM payload and
    emit one row per non-overlapping 8x8 patch (ragged edges dropped,
    as ViT crops to a patch-multiple) with per-channel means and the
    patch pixel std — the tokenization step of every image-transformer
    training pipeline, reduced here to per-patch features instead of
    raw 192-float patch vectors so the output stays hashable.

    Scale shape: one Arrow-batched ``mapInPandas`` stage; each input
    image of P patches yields P rows, so the Python boundary is crossed
    once per BATCH (not per patch), and the fan-out happens inside
    numpy as a stride-reshape, not a Python loop per pixel. Swap the
    8x8 mean/std for a learned projection and the plumbing is
    unchanged. Weak (rows-only) like the other codec queries: binary
    decode has no SQL oracle; the codec itself is round-trip
    unit-tested.
    """

    def patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pix = decode_ppm(bytes(payload))
                ph, pw = h // _PATCH, w // _PATCH
                if ph == 0 or pw == 0:
                    continue
                crop = pix[: ph * _PATCH, : pw * _PATCH, :].astype(np.float64)
                # (ph, PATCH, pw, PATCH, 3) -> per-patch stats, all numpy
                grid = crop.reshape(ph, _PATCH, pw, _PATCH, 3)
                means = grid.mean(axis=(1, 3)) / 255.0  # (ph, pw, 3)
                stds = grid.std(axis=(1, 3, 4)) / 255.0  # (ph, pw)
                for r in range(ph):
                    for c in range(pw):
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "patch_row": r,
                                "patch_col": c,
                                "mean_r": round(float(means[r, c, 0]), 4),
                                "mean_g": round(float(means[r, c, 1]), 4),
                                "mean_b": round(float(means[r, c, 2]), 4),
                                "std_px": round(float(stds[r, c]), 4),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "patch_row",
                    "patch_col",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                    "std_px",
                ],
            )

    return _image_payloads(spark, sf_dir).mapInPandas(patchify, schema=_PATCH_SCHEMA)


_SPECTRUM_SCHEMA = (
    "doc_id bigint, chunk_idx bigint, dom_freq_hz double, "
    "spectral_centroid_hz double, energy double"
)


@query("multimodal_audio_spectrum")  # weak: binary codec has no SQL oracle
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral feature extraction over REAL WAV payloads: RIFF decode
    -> overlapped chunking (same 128 ms / 25% grid as
    multimodal_audio_chunk) -> rFFT per voiced chunk -> dominant
    frequency (argmax magnitude bin, DC excluded) and spectral
    centroid — the first two features of every audio front end
    (pitch tracking, language/music discrimination, codec QA). Silent
    chunks are gated out before the FFT, so the transform only runs on
    the minority of audio that carries signal.

    Real DSP, not a stub: numpy's rFFT over the decoded PCM; the unit
    test pins the dominant bin of a synthesized 440 Hz tone to within
    one bin width (16000/2048 ≈ 7.8 Hz). Weak (rows-only) like the
    other codec queries — binary decode + FFT has no SQL oracle.

    Scale: identical shape to the chunker — one Arrow-batched
    mapInPandas stage, per-batch boundary crossing, in-numpy fan-out;
    the FFT is O(n log n) per chunk with n fixed at 2048, i.e. linear
    in audio-seconds. Swap the two features for a full mel filterbank
    and the plumbing is unchanged.
    """
    import numpy as np

    from .scale_patterns import spread_for_fanout

    # spread BEFORE the Python synth/codec ladder (optimization r12)
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select("doc_id"),
        n_rows=row_count(sf_dir, "documents"),
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(_synth_wav)}
            )

    payloads = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")

    def spectra(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, pcm = decode_wav(bytes(payload))
                idx = 0
                start = 0
                while start < pcm.size:
                    seg = pcm[start : start + _CHUNK_SAMPLES]
                    energy = float(np.abs(seg).mean())
                    if energy > 0.05 and seg.size >= 64:  # voiced gate
                        mag = np.abs(np.fft.rfft(seg))
                        freqs = np.fft.rfftfreq(seg.size, d=1.0 / rate)
                        dom = int(np.argmax(mag[1:])) + 1  # skip DC
                        total = float(mag[1:].sum())
                        centroid = (
                            float((freqs[1:] * mag[1:]).sum()) / total
                            if total > 0
                            else 0.0
                        )
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "chunk_idx": idx,
                                "dom_freq_hz": round(float(freqs[dom]), 4),
                                "spectral_centroid_hz": round(centroid, 4),
                                "energy": round(energy, 4),
                            }
                        )
                    idx += 1
                    start += _HOP_SAMPLES
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "chunk_idx",
                    "dom_freq_hz",
                    "spectral_centroid_hz",
                    "energy",
                ],
            )

    return payloads.mapInPandas(spectra, schema=_SPECTRUM_SCHEMA)


# ------------------------------------------------------------ scene cuts

_CUT_THRESHOLD = 0.15  # mean |Δluma| (normalized) between consecutive frames


def synth_y4m_shots(doc_id: int) -> bytes:
    """Deterministic shot-structured test video: 2-4 shots of 3-6
    near-identical frames each (base luma per shot spaced ~96 apart,
    tiny per-frame jitter), so consecutive-frame luma deltas are ~0
    inside a shot and huge across shot boundaries — planted ground
    truth for the cut detector (shot_cut_indices gives the answer
    key)."""
    import hashlib as _hl

    import numpy as np

    w, h = 16, 8
    uv_len = 2 * ((w // 2) * (h // 2))
    frames = []
    for s, length in enumerate(_shot_lengths(doc_id)):
        base = (32 + 96 * (s % 3)) % 256
        for k in range(length):
            jitter = np.frombuffer(
                _hl.md5(b"shot%d-%d-%d" % (int(doc_id), s, k)).digest() * 8,
                dtype=np.uint8,
            )[: w * h] % 8
            y = ((base + jitter) % 256).astype(np.uint8).tobytes()
            frames.append(y + b"\x80" * uv_len)
    return encode_y4m(w, h, frames)


def _shot_lengths(doc_id: int) -> list[int]:
    n_shots = 2 + int(doc_id) % 3
    return [3 + (int(doc_id) + s) % 4 for s in range(n_shots)]


def shot_cut_indices(doc_id: int) -> list[int]:
    """Answer key: frame indices where a new shot begins (excluding 0)."""
    out, pos = [], 0
    for length in _shot_lengths(doc_id)[:-1]:
        pos += length
        out.append(pos)
    return out


_CUTS_SCHEMA = "doc_id bigint, n_frames bigint, n_cuts bigint, cut_indices string"


@query("multimodal_scene_cuts")  # weak: binary codec has no SQL oracle
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary (scene cut) detection over the real Y4M container:
    decode frames, compute mean |Δluma| between consecutive frames on
    the actual Y planes, and report indices where the delta clears the
    threshold — the video-curation primitive that feeds per-shot frame
    sampling (one keyframe per shot instead of every k-th frame, the
    budget-aware sampling a 100 TB video pipeline actually wants).

    Spark contract: one binary row in, one summary row out (counts +
    bounded cut-index list), all pixel math vectorized numpy inside one
    Arrow-batched mapInPandas — frames never hit JVM rows. Ground
    truth is planted by synth_y4m_shots; the unit test asserts the
    detector recovers shot_cut_indices exactly (detection quality is
    testable without an oracle engine)."""
    from .scale_patterns import spread_for_fanout

    # spread BEFORE the Python synth/codec ladder (optimization r12)
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select("doc_id"),
        n_rows=row_count(sf_dir, "documents"),
    ).filter(
        F.col("doc_id") < 200
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(synth_y4m_shots)}
            )

    payloads = docs.mapInPandas(synth, schema="doc_id bigint, payload binary")

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, fps, frames = decode_y4m(bytes(payload))
                lumas = np.stack(
                    [
                        np.frombuffer(f, dtype=np.uint8, count=w * h).astype(np.float64)
                        for f in frames
                    ]
                )
                deltas = np.abs(np.diff(lumas, axis=0)).mean(axis=1) / 255.0
                idx = (np.nonzero(deltas > _CUT_THRESHOLD)[0] + 1).tolist()
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": len(frames),
                        "n_cuts": len(idx),
                        # joined string, not array<bigint>: the driver
                        # canonicalizer cannot hash list cells (r1 lesson)
                        "cut_indices": ",".join(map(str, idx)),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "n_cuts", "cut_indices"]
            )

    return payloads.mapInPandas(cuts, schema=_CUTS_SCHEMA)


# ---------------------------------------------------------------- phash

_PHASH_BANDS = 4       # 4 x 16-bit bands: pigeonhole catches hamming <= 3
_PHASH_MAXHAM = 10     # report threshold on the full 64 bits


def phash64(pix) -> int:
    """64-bit perceptual hash (pHash, DCT variant): grayscale ->
    32x32 nearest resize -> 2-D DCT-II -> top-left 8x8 low-frequency
    block minus DC -> median threshold. Deterministic float64 numpy;
    the classic near-duplicate IMAGE fingerprint (the visual twin of
    simhash for text)."""
    import numpy as _np

    gray = pix.astype(_np.float64).mean(axis=2)
    g32 = resize_nearest(gray[:, :, None].astype(_np.uint8), 32, 32)[
        :, :, 0
    ].astype(_np.float64)
    n = 32
    k = _np.arange(n)
    basis = _np.cos(_np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    dct = basis @ g32 @ basis.T
    block = dct[:8, :8].flatten()[1:]  # drop DC
    med = _np.median(block)
    bits = 0
    for i, v in enumerate(block > med):
        if v:
            bits |= 1 << i
    return bits


def _synth_ppm_neardup(doc_id: int) -> bytes:
    """Every doc_id % 10 == 1 image is a PERTURBED COPY of doc_id-1's
    (same base pixels, 8 seeded byte flips) — planted near-dup pairs
    with known ground truth for the recall test."""
    base = doc_id - 1 if doc_id % 10 == 1 else doc_id
    w = 16 + int(base) % 48
    h = 16 + int(base) % 32
    rgb = bytearray(_rng_bytes(b"img%d" % int(base), w * h * 3))
    if base != doc_id:
        pos = _rng_bytes(b"flip%d" % int(doc_id), 16)
        for i in range(0, 16, 2):
            rgb[(pos[i] * 256 + pos[i + 1]) % len(rgb)] ^= 0x5A
    return encode_ppm(w, h, bytes(rgb))


@query("multimodal_phash_neardup")  # weak: binary codec has no SQL oracle
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C216: image near-duplicate pairs via 64-bit DCT pHash +
    banded Hamming join — the IMAGE leg of the dedup tier (simhash
    C-dedup's visual twin, the multimodal answer to "dedup the
    screenshots/thumbnails in a 100 TB corpus"). Payload synthesis
    plants perturbed copies (doc_id % 10 == 1 copies doc_id-1 with 8
    byte flips), so recall over the planted truth is testable.

    Scale: hashing is Arrow-batched mapInPandas (one decode+DCT per
    image, embarrassingly parallel); the pair search is the simhash
    pigeonhole — 4 x 16-bit bands, equi-join per band bucket, exact
    Hamming <= {mh} verify on candidates only. Never all-pairs: cost
    = sum of band-bucket products.

    RECALL CONTRACT (ADVICE r10): the 4-band pigeonhole GUARANTEES a
    candidate only for pairs with Hamming <= 3 (4 bands, <= 3 differing
    bits => some band identical). Pairs at distance 4-{mh} are reported
    best-effort — emitted iff their differing bits leave at least one
    band untouched (planted perturbed copies overwhelmingly do; the
    planted-recall test pins the observed rate). Guaranteed recall at
    threshold {mh} would need {mh}+1 ~6-bit bands whose tiny buckets
    explode the candidate join at corpus scale — the wrong trade; the
    goldens pin the 4-band output exactly.""".format(mh=_PHASH_MAXHAM)
    from .scale_patterns import barrier, spread_for_fanout

    # spread BEFORE the Python synth/codec ladder (optimization r12)
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select("doc_id"),
        n_rows=row_count(sf_dir, "documents"),
    )

    def synth_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                payload = _synth_ppm_neardup(int(doc_id))
                w, h, pix = decode_ppm(payload)
                rows.append({"doc_id": doc_id, "ph": phash64(pix)})
            yield pd.DataFrame(rows, columns=["doc_id", "ph"])

    # Evaluate the Python synth+decode+DCT stage ONCE (optimization
    # r13, guide §2.6/§4): the banded self-join consumes `bands` on
    # both legs and the broadcast build side gives the planner no
    # common exchange to reuse, so the un-checkpointed plan carried
    # FOUR MapInPandas nodes — every image was synthesized, decoded
    # and DCT-hashed four times per run. The checkpoint is |docs| rows
    # of (doc_id, ph) — two longs — and at any scale re-decoding the
    # corpus per join leg is exactly what the guide's "decide with
    # small rows" rule forbids.
    hashed = barrier(docs.mapInPandas(synth_hash, schema="doc_id bigint, ph long"))
    bands = hashed.select(
        "doc_id",
        "ph",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PHASH_BANDS - 1}), "
                f"b -> named_struct('b', b, "
                f"'v', shiftrightunsigned(ph, b * 16) & 65535))"
            )
        ).alias("band"),
    ).select("doc_id", "ph", F.col("band.b").alias("b"), F.col("band.v").alias("v"))
    a = bands.alias("a")
    bb = bands.alias("b2")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b2.b"))
            & (F.col("a.v") == F.col("b2.v"))
            & (F.col("a.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b2.doc_id").alias("doc_b"),
            F.col("a.ph").alias("ph_a"),
            F.col("b2.ph").alias("ph_b"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ph_a ^ ph_b)")
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= _PHASH_MAXHAM)
        .select("doc_a", "doc_b", "hamming")
    )
