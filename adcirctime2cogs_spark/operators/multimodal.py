"""Multimodal-column operators (north-star scope): image/audio/video as
opaque BinaryType columns with typed metadata.

The IMAGE family is real since r06: payloads are genuine encoded
images (24-bit BMP / binary PPM, formats simple enough to codec with
struct+numpy — functions/imagecodec.py), the decode kernel really
parses headers and pixel rows, and resize really resamples pixels —
so mm_image_decode and mm_resize carry DuckDB oracles (dims are
arithmetic in doc_id, and the query only matches if the encode →
decode → resample chain reproduces them). A PIL/cv2 cluster swaps
`decode_image` for Image.open and nothing else changes. VIDEO is
real too (r07/r08): functions/videocodec.py demuxes genuine AVI
containers — uncompressed DIB frames and Motion-JPEG frames decoded
by the pure-Python baseline JPEG codec (functions/jpegcodec.py) —
and both mm_frame_sample and mm_mjpeg_frame_stats carry oracles that
only match if the container walk and frame decode actually ran.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from adcirctime2cogs_spark import memo
from adcirctime2cogs_spark.tables import load_table

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# _size_conf/_scan_split_estimate moved to tables.py (optimization
# r13, ADVICE r12: the split estimator is shared infrastructure and
# the function-local import in tables.spread_scan was a layering
# inversion). Re-imported here for the media kernels' own use.
from adcirctime2cogs_spark.tables import (  # noqa: E402
    _scan_split_estimate,
    _size_conf,
)


def _doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id frame for the CPU-bound media kernels, repartitioned to
    the session default parallelism ONLY when the input is
    under-split: the codec work (JPEG/zlib/PCM per doc) is CPU-bound,
    so a small or poorly-split documents table must not pin tens of
    thousands of codec calls to a handful of tasks — but a well-split
    corpus keeps its natural granularity (no coalescing into giant
    tasks that retry expensively). The moved rows are ids only, so
    the conditional shuffle is negligible at any corpus size.

    The under-split probe is _scan_split_estimate — pure driver-side
    listing arithmetic, no DataFrame->RDD conversion (tests pin it
    equal to the scan's actual partition count on the fixture dirs,
    so the decision — and therefore every consumer's plan — is
    unchanged from the .rdd probe it replaced)."""
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    target = spark.sparkContext.defaultParallelism
    path = os.path.join(sf_dir, "documents.parquet")
    if _scan_split_estimate(spark, path) < target:
        ids = ids.repartition(target)
    return ids


def _fingerprints_once(spark: SparkSession, sf_dir: str, kind: str,
                       build) -> DataFrame:
    """Per-(application, sf_dir, data version) persisted media
    FINGERPRINT table (optimization r12), stored in the session memo —
    the guide-§8 'decision pass' artifact: the pure-Python
    synth/decode/hash pass over the media corpus is the near-dup
    queries' dominant cost, and their MIH band joins reference the
    fingerprint frame 2x (image/audio: probe + build side) to 4x
    (video: + both verify sides), which re-executed the whole codec
    pipeline per reference. Hashing once and joining on the
    8-byte-per-row result is exactly the fingerprint-table
    materialization the optimization guide's worked example
    prescribes; at 100 TB this table is what a production pipeline
    writes between stages. The FIRST action per data version still
    pays the full codec build (bench's cold column keeps the honest
    construction cost)."""
    return memo.get(spark, f"multimodal.fingerprints:{kind}", sf_dir,
                    lambda: build().persist())


def binary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the payload as a real BinaryType column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.col("source").alias("media_source"),
    )


@_register(
    "mm_binary_meta",
    """
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text)                        AS digest,
           ascii(substr(text, 1, 1))        AS first_byte
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over a binary column: byte length, content digest,
    first byte — the projection a multimodal catalog scan serves without
    ever decoding payloads."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    # payload and text come from the SAME row — a join back to
    # documents to recover text would re-scan and shuffle for a
    # projection that is row-local
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("digest"),
        F.ascii(F.substring("text", 1, 1)).alias("first_byte"),
    )


def _synth_image(doc_id: int):
    """Deterministic test image for a doc: dims and pixels are pure
    arithmetic in doc_id, so the decoded metadata is SQL-expressible
    (the oracle's contract) while the bytes are a real encoded image."""
    import numpy as np

    w = 16 + doc_id % 48
    h = 16 + (doc_id * 7) % 48
    r = np.arange(h, dtype="int64")[:, None]
    c = np.arange(w, dtype="int64")[None, :]
    base = (r * 31 + c * 17 + doc_id) % 256
    return np.stack(
        [base, (base + 85) % 256, (base + 170) % 256], axis=2
    ).astype("uint8")


def image_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) with payload a REAL encoded image — BMP for
    even ids, binary PPM for odd — generated executor-side in Arrow
    batches (the encode half of the codec round-trip)."""
    from adcirctime2cogs_spark.functions.imagecodec import (
        encode_bmp,
        encode_ppm,
    )

    docs = _doc_ids(spark, sf_dir)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_bmp(_synth_image(d)) if d % 2 == 0
                else encode_ppm(_synth_image(d))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(encode, schema="doc_id long, payload binary")


@_register(
    "mm_image_decode",
    """
    SELECT doc_id,
           CAST(16 + doc_id % 48 AS INT)       AS width,
           CAST(16 + (doc_id * 7) % 48 AS INT) AS height,
           CAST(3 AS INT)                      AS channels,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format
    FROM documents
    """,
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode each binary payload with the REAL pure-Python codec
    (functions/imagecodec.py) via Arrow-batched mapInPandas. The
    oracle states the dims as doc_id arithmetic — the hash matches
    only if the full encode -> header parse -> pixel reshape chain
    reproduces them for every row."""
    from adcirctime2cogs_spark.functions.imagecodec import decode_image

    b = image_docs(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, chans, fmts = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr, fmt = decode_image(bytes(payload))
                ids.append(doc_id)
                hs.append(arr.shape[0])
                ws.append(arr.shape[1])
                chans.append(arr.shape[2] if arr.ndim == 3 else 1)
                fmts.append(fmt)
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs,
                 "channels": chans, "format": fmts}
            )

    return b.mapInPandas(
        decode,
        schema="doc_id long, width int, height int, channels int, format string",
    )


VIDEO_FPS = 10
VIDEO_STRIDE = 2  # sample every k-th frame


def _synth_video_dims(doc_id: int) -> tuple[int, int, int]:
    """(w, h, n_frames) — small, doc_id-deterministic."""
    return 8 + doc_id % 8, 6 + doc_id % 5, 4 + doc_id % 9


def _synth_frames(doc_id: int):
    """Deterministic RGB frames: pixel(y, x) carries
    B = v, G = (v+1)%256, R = (v+2)%256 with
    v = (doc_id + f*131 + y*17 + x*7) % 256 — position-dependent so a
    decoder that forgets the DIB bottom-up flip or the BGR->RGB swap
    produces different probe values, and integer so every reported
    metric is SQL-expressible exactly."""
    import numpy as np

    w, h, nf = _synth_video_dims(doc_id)
    f = np.arange(nf)[:, None, None]
    y = np.arange(h)[None, :, None]
    x = np.arange(w)[None, None, :]
    v = (doc_id + f * 131 + y * 17 + x * 7) % 256
    rgb = np.stack([(v + 2) % 256, (v + 1) % 256, v], axis=-1)
    return rgb.astype("u1")


def video_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) with payload a REAL uncompressed AVI
    (functions/videocodec.py), generated executor-side."""
    from adcirctime2cogs_spark.functions.videocodec import encode_avi

    docs = _doc_ids(spark, sf_dir)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_avi(_synth_frames(d), VIDEO_FPS)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(encode, schema="doc_id long, payload binary")


@_register(
    "mm_frame_sample",
    f"""
    WITH docs AS (
      SELECT doc_id,
             8 + doc_id % 8 AS w,
             6 + doc_id % 5 AS h,
             4 + doc_id % 9 AS nf
      FROM documents
    ),
    fr AS (
      SELECT doc_id, w, h, CAST(f.i AS INT) AS frame_idx
      FROM docs CROSS JOIN range(13) f(i)
      WHERE f.i < nf AND f.i % {VIDEO_STRIDE} = 0
    )
    SELECT fr.doc_id, fr.frame_idx,
           fr.frame_idx * (1000 // {VIDEO_FPS}) AS ts_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(SUM((fr.doc_id + fr.frame_idx * 131
                     + y.y * 17 + x.x * 7 + 2) % 256) AS BIGINT)
             AS red_sum,
           CAST((fr.doc_id + fr.frame_idx * 131 + 2) % 256 AS INT)
             AS corner_red
    FROM fr
    CROSS JOIN range(10) y(y) CROSS JOIN range(15) x(x)
    WHERE y.y < h AND x.x < w
    GROUP BY fr.doc_id, fr.frame_idx, w, h
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: each payload is a genuine
    uncompressed AVI; the kernel demuxes the RIFF container
    (functions/videocodec.py), takes every {VIDEO_STRIDE}-th frame
    (the ffmpeg -vf select='not(mod(n,k))' shape), and reports
    per-frame metadata from the DECODED pixels. red_sum is the
    R-channel integer sum and corner_red the decoded top-left R value
    — both depend on the DIB bottom-up flip and the BGR->RGB swap
    being performed, so the pure-arithmetic oracle only matches if
    container walk + frame decode actually ran. One->many inside
    mapInPandas, Arrow-batched; an ffmpeg cluster swaps decode_avi
    for its demuxer, the Spark plumbing is identical."""
    from adcirctime2cogs_spark.functions.videocodec import decode_avi

    b = video_docs(spark, sf_dir)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, ws, hs, sums, corners = ([] for _ in range(7))
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, fps = decode_avi(bytes(payload))
                for f_idx in range(0, frames.shape[0], VIDEO_STRIDE):
                    fr = frames[f_idx]
                    ids.append(doc_id)
                    idxs.append(f_idx)
                    tss.append(f_idx * (1000 // fps))
                    ws.append(fr.shape[1])
                    hs.append(fr.shape[0])
                    sums.append(int(fr[:, :, 0].astype("int64").sum()))
                    corners.append(int(fr[0, 0, 0]))
            yield pd.DataFrame({
                "doc_id": ids, "frame_idx": idxs, "ts_ms": tss,
                "width": ws, "height": hs, "red_sum": sums,
                "corner_red": corners,
            })

    return b.mapInPandas(
        sample,
        schema="doc_id long, frame_idx int, ts_ms long, width int, "
               "height int, red_sum bigint, corner_red int",
    )


RESIZE_BOX = 32  # fit box (smaller than every synth dim range's max)


@_register(
    "mm_resize",
    f"""
    WITH dims AS (
      SELECT doc_id,
             CAST(16 + doc_id % 48 AS DOUBLE)       AS w,
             CAST(16 + (doc_id * 7) % 48 AS DOUBLE) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(GREATEST(1, FLOOR(w * LEAST({RESIZE_BOX}.0 / w,
                                            {RESIZE_BOX}.0 / h, 1.0)))
                AS INT) AS out_w,
           CAST(GREATEST(1, FLOOR(h * LEAST({RESIZE_BOX}.0 / w,
                                            {RESIZE_BOX}.0 / h, 1.0)))
                AS INT) AS out_h
    FROM dims
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize: decode pixels, nearest-neighbor resample into a
    RESIZE_BOX fit box (aspect preserved), re-encode. The reported
    dims come from the RESAMPLED array's shape, so the oracle only
    matches if decode + resample actually ran; pixel-level resample
    correctness is pinned in tests/test_multimodal.py. Both engines
    compute the scale in IEEE doubles (division and multiply are
    correctly rounded), so floor() agrees bit-for-bit."""
    from adcirctime2cogs_spark.functions.imagecodec import (
        decode_image,
        resize_nearest,
    )

    b = image_docs(spark, sf_dir)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ows, ohs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr, _ = decode_image(bytes(payload))
                h, w = arr.shape[:2]
                scale = min(RESIZE_BOX / w, RESIZE_BOX / h, 1.0)
                ow = max(1, int(w * scale))
                oh = max(1, int(h * scale))
                out = resize_nearest(arr, ow, oh)
                ids.append(doc_id)
                ohs.append(out.shape[0])
                ows.append(out.shape[1])
            yield pd.DataFrame({"doc_id": ids, "out_w": ows, "out_h": ohs})

    return b.mapInPandas(resize, schema="doc_id long, out_w int, out_h int")


AUDIO_RATE = 8000
AUDIO_WINDOW, AUDIO_HOP = 256, 128


def _synth_samples(doc_id: int):
    """Deterministic int16 'audio' for a doc: length and every sample
    are integer arithmetic in doc_id, so decode metadata AND framed
    energies are SQL-expressible exactly (int64 sums — no float fold
    order to disagree on)."""
    import numpy as np

    n = 256 + (doc_id * 13) % 1024
    i = np.arange(n, dtype="int64")
    return (((doc_id + 7 * i) % 65536) - 32768).astype("int16")


def audio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) with payload a REAL PCM WAV file
    (functions/audiocodec.py), generated executor-side."""
    from adcirctime2cogs_spark.functions.audiocodec import encode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(_synth_samples(d), AUDIO_RATE)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(encode, schema="doc_id long, payload binary")


@_register(
    "mm_audio_decode",
    f"""
    SELECT doc_id,
           CAST({AUDIO_RATE} AS INT)                 AS sample_rate,
           CAST(256 + (doc_id * 13) % 1024 AS INT)   AS n_samples,
           (256 + (doc_id * 13) % 1024) * 1000 // {AUDIO_RATE} AS duration_ms
    FROM documents
    """,
)
def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode each WAV payload with the REAL RIFF parser; the reported
    rate/length come from the parsed chunks, so the oracle (pure
    doc_id arithmetic) only matches if encode -> chunk walk -> sample
    count ran correctly for every row."""
    from adcirctime2cogs_spark.functions.audiocodec import decode_wav

    b = audio_docs(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, ns, durs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, rate = decode_wav(bytes(payload))
                ids.append(doc_id)
                rates.append(rate)
                ns.append(len(samples))
                durs.append(len(samples) * 1000 // rate)
            yield pd.DataFrame(
                {"doc_id": ids, "sample_rate": rates, "n_samples": ns,
                 "duration_ms": durs}
            )

    return b.mapInPandas(
        decode,
        schema="doc_id long, sample_rate int, n_samples int, duration_ms long",
    )


@_register(
    "mm_audio_frames",
    f"""
    WITH docs AS (
      SELECT doc_id, 256 + (doc_id * 13) % 1024 AS n FROM documents
    ),
    frames AS (
      -- DuckDB's range() takes no lateral column args: enumerate a
      -- fixed superset (max n = 1279 -> at most 8 frames) and filter
      SELECT doc_id, n, CAST(f.i AS INT) AS frame_idx
      FROM docs CROSS JOIN range(64) f(i)
      WHERE f.i <= (n - {AUDIO_WINDOW}) // {AUDIO_HOP}
    )
    SELECT fr.doc_id, fr.frame_idx,
           CAST(SUM(CAST((fr.doc_id + 7 * (fr.frame_idx * {AUDIO_HOP} + o.k)) % 65536 - 32768 AS BIGINT)
               * CAST((fr.doc_id + 7 * (fr.frame_idx * {AUDIO_HOP} + o.k)) % 65536 - 32768 AS BIGINT))
             AS BIGINT) AS energy_sq
    FROM frames fr CROSS JOIN range({AUDIO_WINDOW}) o(k)
    GROUP BY fr.doc_id, fr.frame_idx
    """,
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real DSP over decoded samples: standard (window, hop) framing
    with per-frame sum-of-squares energy — the one->many audio-feature
    shape (VAD, loudness, spectrogram prep). Energies are int64-exact
    sums of the decoded int16 samples, so the oracle re-derives every
    frame's energy arithmetically and the hash is fold-order-proof."""
    from adcirctime2cogs_spark.functions.audiocodec import (
        decode_wav,
        frame_energies,
    )

    b = audio_docs(spark, sf_dir)

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, _ = decode_wav(bytes(payload))
                es = frame_energies(samples, AUDIO_WINDOW, AUDIO_HOP)
                ids.extend([doc_id] * len(es))
                idxs.extend(range(len(es)))
                energies.extend(int(e) for e in es)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "energy_sq": energies}
            )

    return b.mapInPandas(
        frames, schema="doc_id long, frame_idx int, energy_sq long"
    )


@_register("mm_feature_extract")  # pixel stats: numpy-pinned, rows-only
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over REAL decoded pixels: 8-dim vector of
    per-channel means and stds plus luminance min/max — the schema and
    batch contract of an embedding-model UDF, with the decode stage
    genuine (tests pin the values against numpy on the same images)."""
    import numpy as np

    from adcirctime2cogs_spark.functions.imagecodec import decode_image

    b = image_docs(spark, sf_dir)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr, _ = decode_image(bytes(payload))
                px = arr.astype("float64")
                lum = px.mean(axis=2)
                feats.append([
                    float(px[:, :, 0].mean()), float(px[:, :, 1].mean()),
                    float(px[:, :, 2].mean()), float(px[:, :, 0].std()),
                    float(px[:, :, 1].std()), float(px[:, :, 2].std()),
                    float(lum.min()), float(lum.max()),
                ])
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "features": feats})

    return b.mapInPandas(extract, schema="doc_id long, features array<float>")


# ------------------------------------------------- MJPEG (compressed)
MJPEG_QUALITY = 90
# IJG scaling at quality 90 (scale = 20): the DC quantizer for both
# example tables is (16*20+50)//100 = (17*20+50)//100 = 3. The oracle
# states the full decode chain with this literal.
_MJPEG_QDC = 3

def _flat_video_sql(dims_sql: str, r0: str, g0: str, b0: str,
                    max_nf: int) -> str:
    """Closed-form oracle for a flat-frame lossy-video query: the
    container-specific parts are the per-doc dims/frame-count
    arithmetic and the per-frame channel formulas; the encode->decode
    chain (RGB->YCbCr, DC-only DCT quantized half-up by the quality-90
    DC quantizer, dequantize, IDCT, YCbCr->RGB with the codec's
    floor(x+0.5) rounding) is shared verbatim so a quantization fix
    lands in every container's oracle at once."""
    return f"""
WITH docs AS (
  SELECT doc_id, {dims_sql}
  FROM documents
),
fr AS (
  SELECT doc_id, w, h, CAST(f.i AS INT) AS frame_idx,
         CAST(({r0}) % 256 AS DOUBLE) AS r0,
         CAST(({g0}) % 256 AS DOUBLE) AS g0,
         CAST(({b0}) % 256 AS DOUBLE) AS b0
  FROM docs CROSS JOIN range({max_nf}) f(i) WHERE f.i < nf
),
ycc AS (
  SELECT *,
         0.299 * r0 + 0.587 * g0 + 0.114 * b0 AS y,
         128.0 - 0.168735892 * r0 - 0.331264108 * g0 + 0.5 * b0 AS cb,
         128.0 + 0.5 * r0 - 0.418687589 * g0 - 0.081312411 * b0 AS cr
  FROM fr
),
-- encode: flat block DC = (X - 128) * 8, half-up quantized by the
-- DC quantizer; decode: dequantize, DC-only IDCT = coef / 8 + 128
dq AS (
  SELECT *,
         floor((y - 128.0) * 8.0 / {_MJPEG_QDC} + 0.5)
           * {_MJPEG_QDC} / 8.0 + 128.0 AS yq,
         floor((cb - 128.0) * 8.0 / {_MJPEG_QDC} + 0.5)
           * {_MJPEG_QDC} / 8.0 + 128.0 AS cbq,
         floor((cr - 128.0) * 8.0 / {_MJPEG_QDC} + 0.5)
           * {_MJPEG_QDC} / 8.0 + 128.0 AS crq
  FROM ycc
)
SELECT doc_id, frame_idx, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(GREATEST(0.0, LEAST(255.0,
         floor(yq + 1.402 * (crq - 128.0) + 0.5))) AS INT) AS red,
       CAST(GREATEST(0.0, LEAST(255.0,
         floor(yq - 0.344136286 * (cbq - 128.0)
                  - 0.714136286 * (crq - 128.0) + 0.5))) AS INT) AS green,
       CAST(GREATEST(0.0, LEAST(255.0,
         floor(yq + 1.772 * (cbq - 128.0) + 0.5))) AS INT) AS blue,
       1 AS flat
FROM dq
"""


def _flat_video_stats(docs: DataFrame, synth_dims, synth_colors,
                      encode, decode) -> DataFrame:
    """Shared Spark side of the flat-frame lossy-video queries: per
    doc, synthesize flat frames from doc_id arithmetic, run them
    through a REAL encode->decode container+codec chain, and report
    the decoded dims/channels plus a whole-frame flatness assert.
    One->many mapInPandas, Arrow-batched, no collect; callers feed it
    the _doc_ids frame, which conditionally repartitions an
    under-split input so the CPU-bound codec work parallelizes across
    the cluster rather than the input's split count."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, rs, gs, bs, flats = ([] for _ in range(8))
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, nf = synth_dims(d)
                frames = np.empty((nf, h, w, 3), dtype="u1")
                for f in range(nf):
                    frames[f, :, :, 0], frames[f, :, :, 1], \
                        frames[f, :, :, 2] = synth_colors(d, f)
                dec, _fps = decode(encode(frames, d))
                for f in range(dec.shape[0]):
                    fr = dec[f]
                    ids.append(d)
                    idxs.append(f)
                    ws.append(fr.shape[1])
                    hs.append(fr.shape[0])
                    rs.append(int(fr[0, 0, 0]))
                    gs.append(int(fr[0, 0, 1]))
                    bs.append(int(fr[0, 0, 2]))
                    flats.append(int((fr == fr[0, 0]).all()))
            yield pd.DataFrame({
                "doc_id": ids, "frame_idx": idxs, "width": ws,
                "height": hs, "red": rs, "green": gs, "blue": bs,
                "flat": flats,
            })

    return docs.mapInPandas(
        run,
        schema="doc_id long, frame_idx int, width int, height int, "
               "red int, green int, blue int, flat int",
    )


_MJPEG_SQL = _flat_video_sql(
    dims_sql="8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h, "
             "3 + doc_id % 4 AS nf",
    r0="doc_id + 11 * f.i",
    g0="doc_id * 2 + 5 * f.i",
    b0="doc_id * 3 + 17 * f.i",
    max_nf=7,
)


@_register("mm_mjpeg_frame_stats", _MJPEG_SQL)
def mm_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED video end-to-end: per doc, a Motion-JPEG AVI of
    flat-color frames is encoded executor-side (functions/jpegcodec +
    the MJPG AVI layout), demuxed, and every frame JPEG-DECODED —
    Huffman scan, dequantize, IDCT, YCbCr->RGB; the reported channel
    values come from the decoded pixels and `flat` asserts the whole
    decoded frame is one color. The oracle restates the EXACT
    lossy pipeline for flat frames in closed form: a flat block's DCT
    is DC-only ((X-128)*8), half-up-quantized by the quality-90 DC
    quantizer, dequantized, DC-only-IDCT'd, and color-converted with
    the same half-up rounding the codec uses (floor(x + 0.5), chosen
    BECAUSE it has an exact SQL mirror). A hash match therefore
    proves the compressed roundtrip's arithmetic, not just row
    shapes. Spark side + oracle tail shared with mm_mp4_frame_stats
    via _flat_video_stats/_flat_video_sql — only the container and
    the doc_id arithmetic differ."""
    from adcirctime2cogs_spark.functions.videocodec import (
        decode_avi,
        encode_avi,
    )

    return _flat_video_stats(
        _doc_ids(spark, sf_dir),
        synth_dims=lambda d: (8 * (1 + d % 3), 8 * (1 + d % 2), 3 + d % 4),
        synth_colors=lambda d, f: (
            (d + 11 * f) % 256, (d * 2 + 5 * f) % 256, (d * 3 + 17 * f) % 256
        ),
        encode=lambda fr, _d: encode_avi(fr, fps=VIDEO_FPS, codec="MJPG",
                                         quality=MJPEG_QUALITY),
        decode=decode_avi,
    )


_PNG_SQL = """
WITH dims AS (
  SELECT doc_id,
         CAST(5 + doc_id % 28 AS INT) AS width,
         CAST(4 + doc_id % 21 AS INT) AS height
  FROM documents
),
px AS (
  SELECT doc_id, width, height, y.y AS y, x.x AS x,
         CAST((doc_id * 7 + y.y * 13 + x.x * 3) % 256 AS BIGINT) AS r
  FROM dims
  CROSS JOIN range(25) y(y) CROSS JOIN range(33) x(x)
  WHERE y.y < height AND x.x < width
)
SELECT doc_id, width, height,
       CAST((doc_id * 7) % 256 AS INT) AS corner_red,
       CAST(SUM(r) AS BIGINT) AS red_sum,
       CAST(SUM((y * width + x + 1)
                * (r * 65536 + ((r + 85) % 256) * 256
                   + (r + 170) % 256)) AS BIGINT) AS pix_checksum
FROM px GROUP BY doc_id, width, height
"""


@_register("mm_png_roundtrip", _PNG_SQL)
def mm_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG end-to-end (functions/pngcodec.py): a deterministic RGB
    image per doc is encoded with the Paeth scanline filter,
    zlib-deflated, CRC'd — then DECODED (CRC verify, inflate,
    unfilter) and the reported dims, corner pixel, and R-channel sum
    come from the decoded array, together with a POSITION-WEIGHTED
    full-RGB checksum (sum over pixels of (y*w + x + 1) * packed_rgb)
    that no channel swap, row reorder, or single-pixel corruption can
    preserve. PNG is lossless, so the oracle is exact doc_id
    arithmetic; a hash match proves the whole filter/inflate/unfilter
    chain reproduced every pixel at its position. Compressed bytes
    themselves are NOT compared — zlib output may differ across
    library builds; pixels may not."""
    import numpy as np

    from adcirctime2cogs_spark.functions.pngcodec import (
        decode_png,
        encode_png,
    )

    docs = _doc_ids(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, corners, sums, cks = ([] for _ in range(6))
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 5 + d % 28, 4 + d % 21
                yy, xx = np.mgrid[0:h, 0:w]
                r = (d * 7 + yy * 13 + xx * 3) % 256
                g = (r + 85) % 256
                b = (r + 170) % 256
                img = np.stack([r, g, b], axis=-1).astype("u1")
                arr = decode_png(encode_png(img, filter_type=4))
                ids.append(d)
                ws.append(arr.shape[1])
                hs.append(arr.shape[0])
                corners.append(int(arr[0, 0, 0]))
                sums.append(int(arr[:, :, 0].astype("int64").sum()))
                a64 = arr.astype("int64")
                packed = (a64[:, :, 0] * 65536 + a64[:, :, 1] * 256
                          + a64[:, :, 2]).reshape(-1)
                weights = np.arange(1, packed.shape[0] + 1, dtype="int64")
                cks.append(int(np.dot(weights, packed)))
            yield pd.DataFrame({
                "doc_id": ids, "width": ws, "height": hs,
                "corner_red": corners, "red_sum": sums,
                "pix_checksum": cks,
            })

    return docs.mapInPandas(
        run,
        schema="doc_id long, width int, height int, corner_red int, "
               "red_sum bigint, pix_checksum bigint",
    )


_MP4_SQL = _flat_video_sql(
    dims_sql="8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h, "
             "2 + doc_id % 5 AS nf",
    r0="doc_id * 5 + 7 * f.i",
    g0="doc_id * 3 + 13 * f.i",
    b0="doc_id + 19 * f.i",
    max_nf=6,
)


@_register("mm_mp4_frame_stats", _MP4_SQL)
def mm_mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF end-to-end: per doc, a Photo-JPEG MP4 of flat
    frames is MUXED executor-side (functions/mp4codec.py — ftyp/mdat/
    moov with real stsc/stco/stsz chunk maps, 3 samples per chunk),
    then DEMUXED (box walk, hdlr dispatch, sample-table
    reconstruction) and every sample JPEG-decoded by the shared
    baseline codec. Same closed-form flat-frame oracle family as
    mm_mjpeg_frame_stats (the lossy arithmetic is the codec's; the
    container differs), so a hash match proves the BMFF sample ranges
    were reconstructed byte-exactly — a one-sample misalignment makes
    every later JPEG fail to parse. Spark side + oracle tail shared
    with mm_mjpeg_frame_stats via _flat_video_stats/_flat_video_sql —
    only the container and the doc_id arithmetic differ; at 100 TB
    the per-doc demux is embarrassingly parallel (one id-only
    conditional repartition, then a single map stage)."""
    from adcirctime2cogs_spark.functions.mp4codec import (
        decode_mp4,
        encode_mp4,
    )

    return _flat_video_stats(
        _doc_ids(spark, sf_dir),
        synth_dims=lambda d: (8 * (1 + d % 4), 8 * (1 + d % 3), 2 + d % 5),
        synth_colors=lambda d, f: (
            (d * 5 + 7 * f) % 256, (d * 3 + 13 * f) % 256,
            (d + 19 * f) % 256,
        ),
        # odd docs take the fragmented (moof/traf/trun) layout, even
        # docs the classic stbl layout — one oracle proves BOTH
        # container walks reconstruct sample ranges byte-exactly
        encode=lambda fr, d: encode_mp4(fr, fps=VIDEO_FPS,
                                        quality=MJPEG_QUALITY,
                                        fragmented=bool(d % 2)),
        decode=decode_mp4,
    )


PHASH_HAM_MAX = 8     # verify ceiling: JPEG q70-95 re-encodes of the
                      # low-frequency fixture images measure 0; the
                      # adversarial wraparound gradient measures <= 8;
                      # the sf0.1 fixture's closest NON-dup pair sits
                      # at 10 (measured over all 5000 ids), so the
                      # ceiling separates cleanly
PHASH_TWIN_MOD = 10   # doc_id % 10 == 3 gets a JPEG re-encoded twin
PHASH_TWIN_OFFSET = 5_000_000


def _synth_image_lowfreq(doc_id: int):
    """pHash fixture image: an 8x-upsampled random 6x8 RGB grid —
    low-frequency (JPEG-stable at any sane quality) yet spectrally
    DISTINCT per doc (min pairwise hash distance 10 over 5000 ids,
    measured). The shared-gradient _synth_image family is
    deliberately NOT used here: its members differ by near-uniform
    brightness shifts, which perceptual hashing correctly treats as
    duplicates."""
    import numpy as np

    rng = np.random.default_rng((doc_id * 2654435761) % (2 ** 32))
    small = rng.integers(30, 226, (6, 8, 3))
    return np.repeat(np.repeat(small, 8, axis=0), 8, axis=1).astype(
        "uint8"
    )


def phash_image_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): every doc's low-frequency fixture image in
    a rotating lossless container (BMP / PPM / GIF by doc_id % 3 —
    the GIF leg drives the LZW decode through the registered query)
    plus, for doc_id % PHASH_TWIN_MOD == 3, a TWIN row at doc_id +
    PHASH_TWIN_OFFSET holding the SAME image re-encoded as
    quality-95 JPEG — the real near-dup class (identical content,
    different codec and loss) perceptual hashing exists to catch."""
    from adcirctime2cogs_spark.functions.gifcodec import encode_gif
    from adcirctime2cogs_spark.functions.imagecodec import (
        encode_bmp,
        encode_ppm,
    )
    from adcirctime2cogs_spark.functions.jpegcodec import encode_jpeg

    docs = _doc_ids(spark, sf_dir)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                img = _synth_image_lowfreq(d)
                ids.append(d)
                enc = (encode_bmp, encode_ppm, encode_gif)[d % 3]
                payloads.append(enc(img))
                if d % PHASH_TWIN_MOD == 3:
                    ids.append(d + PHASH_TWIN_OFFSET)
                    payloads.append(encode_jpeg(img, quality=95))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return docs.mapInPandas(encode, schema="doc_id long, payload binary")


# Per-(band, key) bound on the MIH build side — see
# _mih_candidate_pairs. Fixture media buckets are single-digit; the
# cap exists for the mass-duplicated buckets real crawls have.
MIH_BUCKET_CAP = 1024


def _mih_band_specs(max_ham: int) -> list[tuple[int, int]]:
    """(bit offset, width) of m = ceil((max_ham + 1) / 2) near-equal
    bands over a 64-bit hash — the band count at which radius-1
    probing covers the full verify ceiling (see
    _mih_candidate_pairs)."""
    m = (max_ham + 2) // 2
    base, rem = divmod(64, m)
    specs, off = [], 0
    for i in range(m):
        w = base + (1 if i < rem else 0)
        specs.append((off, w))
        off += w
    return specs


def _mih_candidate_pairs(hashes: DataFrame, hash_col: str,
                         max_ham: int,
                         part_cols: tuple = ()) -> DataFrame:
    """Candidate near-dup pairs by multi-index hashing (Norouzi,
    Punjani & Fleet, CVPR 2012) over a signed-64-bit hash column:
    split the hash into m = ceil((max_ham + 1) / 2) near-equal bands;
    by pigeonhole any pair within max_ham bits differs by
    floor(max_ham / m) <= 1 bits in SOME band, so probing the
    radius-1 Hamming ball of every band key on ONE join side
    guarantees a band collision for every pair the verify step could
    accept — candidate recall covers the FULL verify ceiling. (The
    plain 4x16 banding this replaces only guaranteed distance 3
    while the verify ceilings accept 5-8; ADVICE r09.)

    Join shape: the probe side explodes 64 + m (band, key) rows per
    hash (the exact key plus one single-bit flip per band bit); the
    build side explodes m exact keys. Both stay codegen'd integer
    expressions. Returns distinct (doc_a, doc_b, ha, hb) with
    doc_a < doc_b; part_cols (e.g. a frame index) become extra
    equi-join keys.

    100 TB shape: probe amplification is a constant ~69 rows x 12
    bytes per hash — linear, map-side, no extra shuffle beyond the
    one band-key bucket join. Band keys stay wide (21-22 bits at
    ceiling 5, 12-13 bits at ceiling 8), so expected bucket sizes
    stay n / 2^w; the asymmetric probe (ball on one side only) keeps
    build buckets exact-key-sized instead of ball-sized. The JOIN
    OUTPUT, however, carries the full-recall guarantee's birthday
    cost on hashes that look uniform: expected candidates
    ~ sum_bands n^2 (w+1) / 2^(w+1) — measured ~500 candidates/hash
    at n=100k, ceiling 8 (tools/scale_check.py mih_amplification
    leg), doubling per doubling of n. The verify is a codegen'd
    bit_count so the volume is cheap to DRAIN, but budget it: at
    corpus scales beyond ~10M hashes per join group, shard the
    corpus first (by media source/size/coarse feature — the standard
    IVF-style pre-partition) or move to a longer hash; a 64-bit code
    cannot give sub-birthday candidate volume at ceiling 8 by any
    banding (radius-0 with m=9 bands is 9/128 selectivity — 50x
    worse than this radius-1 m=5 layout's ~14/2^13). The build
    side of each (band, key) bucket is additionally bounded at
    MIH_BUCKET_CAP members (two-lowest-id star fallback above it —
    the media twin of LSH_BUCKET_CAP/SEM_CELL_CAP/SIGN_BUCKET_CAP):
    a mass-duplicated corpus (every logo/blank-image crawl has one)
    puts k identical hashes in one bucket and would otherwise emit
    k^2 candidates from a single task. Within an over-cap bucket the
    full-recall guarantee narrows to pairs touching the two
    representatives — exactly what near-identical mass duplication
    needs; fixture buckets never exceed single digits (tests pin the
    planted-twin sets exactly)."""
    part = list(part_cols)

    def key_sql(o: int, w: int) -> str:
        return f"(shiftrightunsigned({hash_col}, {o}) & {(1 << w) - 1})"

    exact, probe = [], []
    for band, (o, w) in enumerate(_mih_band_specs(max_ham)):
        k = key_sql(o, w)
        exact.append(F.struct(F.lit(band).alias("band"),
                              F.expr(k).alias("bkey")))
        probe.append(F.struct(F.lit(band).alias("band"),
                              F.expr(k).alias("bkey")))
        probe.extend(
            F.struct(F.lit(band).alias("band"),
                     F.expr(f"{k} ^ {1 << j}").alias("bkey"))
            for j in range(w)
        )
    a = hashes.select(
        F.col("doc_id").alias("doc_a"), *part,
        F.col(hash_col).alias("ha"),
        F.explode(F.array(*probe)).alias("bk"),
    ).select("doc_a", *part, "ha", "bk.band", "bk.bkey")
    bw = W.partitionBy(*part, "band", "bkey").orderBy("doc_b")
    bfull = bw.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    from adcirctime2cogs_spark.operators.starcap import observe_over_cap

    b = (
        hashes.select(
            F.col("doc_id").alias("doc_b"), *part,
            F.col(hash_col).alias("hb"),
            F.explode(F.array(*exact)).alias("bk"),
        )
        .select("doc_b", *part, "hb", "bk.band", "bk.bkey")
        .withColumn("rk", F.row_number().over(bw))
        .withColumn("cn", F.count("*").over(bfull))
    )
    b = (
        observe_over_cap(
            b, "cn", F.col("rk") == 1, MIH_BUCKET_CAP, "mih_bucket"
        )
        .filter((F.col("cn") <= MIH_BUCKET_CAP) | (F.col("rk") <= 2))
        .drop("rk", "cn")
    )
    lo, hi = F.least("doc_a", "doc_b"), F.greatest("doc_a", "doc_b")
    first = F.col("doc_a") < F.col("doc_b")
    return (
        a.join(b, part + ["band", "bkey"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            lo.alias("doc_a"), hi.alias("doc_b"),
            F.when(first, F.col("ha")).otherwise(F.col("hb")).alias("ha"),
            F.when(first, F.col("hb")).otherwise(F.col("ha")).alias("hb"),
        )
        .distinct()
    )


@_register("mm_image_phash_pairs")  # rows-only: a 32x32 DCT is not
# SQL-expressible; planted-recall and exactness pinned in pytest
def mm_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-free image near-dup pairs by 64-bit perceptual hash
    (imagecodec.phash64): decode whatever codec each payload carries
    (BMP/PPM/JPEG), hash in the same Arrow batch, generate candidates
    by multi-index hashing with radius-1 ball probing — guaranteed to
    surface EVERY pair within PHASH_HAM_MAX bits, the full verify
    ceiling (see _mih_candidate_pairs) — and verify candidates
    JVM-side with bit_count(ph_a ^ ph_b) <= PHASH_HAM_MAX. Returns
    (doc_a, doc_b, hamming).

    100 TB shape: hashing is one mapInPandas pass (numpy DCT per
    image, 8 bytes of state out); the only shuffle is the band-key
    bucket join — the image-domain twin of the MinHash band join;
    verification is a codegen'd bit_count, never Python."""
    from adcirctime2cogs_spark.functions.imagecodec import (
        decode_image,
        phash64,
    )
    from adcirctime2cogs_spark.functions.jpegcodec import decode_jpeg

    imgs = phash_image_docs(spark, sf_dir)

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, phs = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                if raw[:2] == b"\xff\xd8":
                    arr = decode_jpeg(raw)
                else:
                    arr, _fmt = decode_image(raw)
                ids.append(doc_id)
                # two's-complement into a signed 64-bit column
                h = phash64(arr)
                phs.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {"doc_id": ids, "ph": pd.array(phs, dtype="int64")}
            )

    ph = _fingerprints_once(
        spark, sf_dir, "image_phash",
        lambda: imgs.mapInPandas(hashes, schema="doc_id long, ph long"),
    )
    cand = _mih_candidate_pairs(ph, "ph", PHASH_HAM_MAX)
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.filter(ham <= PHASH_HAM_MAX)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
    )


AUDIO_FP_HAM_MAX = 5       # twins: half-volume 0 bits, 8-bit requant
                           # <= 4; unrelated clips >= 8 (2000-doc sweep)
AUDIO_FP_TWIN_MOD = 10     # doc_id % 10 == 4 gets a -6 dB twin
AUDIO_FP_TWIN_OFFSET = 6_000_000


def _synth_audio_notes(doc_id: int):
    """Audio-fingerprint fixture clip: eight doc_id-seeded sinusoid
    NOTES with random frequency, amplitude, phase, and onset/offset
    windows — the temporal structure real audio has and the
    fingerprint's time axis needs (a constant-spectrum tone mix
    collapses the hash to its 8 frequency-profile bits; these clips
    measured min pairwise distance 8 over 2000 ids). The
    mm_audio_decode sawtooth generator is deliberately NOT used: its
    clips differ only by phase, which fingerprinting correctly treats
    as duplicates."""
    import numpy as np

    rng = np.random.default_rng((doc_id * 40503 + 11) % (2 ** 32))
    n = 4096
    t = np.arange(n) / AUDIO_RATE
    x = np.zeros(n)
    for _ in range(8):
        f = rng.uniform(50, 3200)
        a = rng.uniform(0.2, 1.0)
        ph = rng.uniform(0, 2 * np.pi)
        s0, s1 = sorted(rng.integers(0, n, 2))
        if s1 - s0 < 256:
            s1 = min(n, s0 + 256)
        seg = np.zeros(n)
        seg[s0:s1] = 1.0
        x += a * np.sin(2 * np.pi * f * t + ph) * seg
    m = float(np.max(np.abs(x)))
    return (x / max(m, 1e-9) * 0.7 * 32767).astype("int16")


def fp_audio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): every doc's note clip as a real PCM WAV
    plus, for doc_id % AUDIO_FP_TWIN_MOD == 4, a TWIN at doc_id +
    AUDIO_FP_TWIN_OFFSET holding the SAME clip at half volume,
    re-encoded — the gain-changed duplicate class audio
    fingerprinting exists to catch."""
    from adcirctime2cogs_spark.functions.audiocodec import encode_wav

    docs = _doc_ids(spark, sf_dir)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                clip = _synth_audio_notes(d)
                ids.append(d)
                payloads.append(encode_wav(clip, AUDIO_RATE))
                if d % AUDIO_FP_TWIN_MOD == 4:
                    half = np.clip(
                        clip.astype("float64") * 0.5, -32768, 32767
                    ).astype("int16")
                    ids.append(d + AUDIO_FP_TWIN_OFFSET)
                    payloads.append(encode_wav(half, AUDIO_RATE))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return docs.mapInPandas(encode, schema="doc_id long, payload binary")


@_register("mm_audio_fp_pairs")  # rows-only: an FFT + DCT hash is not
# SQL-expressible; planted-recall and exactness pinned in pytest
def mm_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs by 64-bit spectrogram fingerprint
    (audiocodec.audio_fingerprint64): decode each WAV, fingerprint in
    the same Arrow batch, generate candidates by multi-index hashing
    (radius-1 probing — guaranteed recall through the full
    AUDIO_FP_HAM_MAX verify ceiling, see _mih_candidate_pairs),
    verify candidates JVM-side with bit_count(fp_a ^ fp_b) <=
    AUDIO_FP_HAM_MAX. Returns (doc_a, doc_b, hamming) — the audio
    twin of mm_image_phash_pairs, same bounded band-join scale
    shape."""
    from adcirctime2cogs_spark.functions.audiocodec import (
        audio_fingerprint64,
        decode_wav,
    )

    clips = fp_audio_docs(spark, sf_dir)

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, rate = decode_wav(bytes(payload))
                h = audio_fingerprint64(samples, rate)
                ids.append(doc_id)
                fps.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {"doc_id": ids, "fp": pd.array(fps, dtype="int64")}
            )

    fp = _fingerprints_once(
        spark, sf_dir, "audio_fp",
        lambda: clips.mapInPandas(hashes, schema="doc_id long, fp long"),
    )
    cand = _mih_candidate_pairs(fp, "fp", AUDIO_FP_HAM_MAX)
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.filter(ham <= AUDIO_FP_HAM_MAX)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
    )


VIDEO_FP_HAM_MAX = 8      # per-frame ceiling (same DCT hash as images)
VIDEO_FP_MATCH_FRAC = 0.8  # fraction of sampled positions that must match
VIDEO_FP_TWIN_MOD = 10     # doc_id % 10 == 6 gets an MJPEG-q95 twin
VIDEO_FP_TWIN_OFFSET = 7_000_000
VIDEO_FP_FRAMES = 6


def _synth_clip_lowfreq(doc_id: int):
    """Video-fingerprint fixture clip: an 8x-upsampled random 6x8 RGB
    grid random-walking over VIDEO_FP_FRAMES frames — temporally
    coherent (like real video), spectrally distinct per doc (min
    first-frame hash distance 10 over 500 ids, measured), and
    JPEG-stable. The shared-gradient _synth_frames family is
    deliberately NOT used (same degeneracy note as the image/audio
    fingerprint fixtures)."""
    import numpy as np

    rng = np.random.default_rng((doc_id * 977 + 3) % (2 ** 32))
    small = rng.integers(30, 226, (6, 8, 3)).astype("float64")
    frames = []
    for _f in range(VIDEO_FP_FRAMES):
        drift = rng.integers(-40, 41, (6, 8, 3)).astype("float64")
        small = np.clip(small + drift * 0.5, 10, 245)
        frames.append(np.repeat(np.repeat(small, 8, axis=0), 8, axis=1))
    return np.stack(frames).astype("uint8")


def fp_video_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): every doc's clip in a rotating container —
    uncompressed-DIB AVI, Motion-JPEG AVI, or looping animated GIF by
    doc_id % 3 (container coverage: the GIF leg drives the animated
    LZW decode through the registered query) — plus, for doc_id %
    VIDEO_FP_TWIN_MOD == 6, a TWIN at doc_id + VIDEO_FP_TWIN_OFFSET
    holding the SAME frames re-encoded as MJPEG quality 95: the
    transcoded-duplicate class video fingerprinting exists to
    catch."""
    from adcirctime2cogs_spark.functions.gifcodec import encode_gif
    from adcirctime2cogs_spark.functions.videocodec import encode_avi

    docs = _doc_ids(spark, sf_dir)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                clip = _synth_clip_lowfreq(d)
                ids.append(d)
                if d % 3 == 2:
                    # per-frame local palettes: the random-walk frames
                    # do not share frame 0's color set
                    payloads.append(encode_gif(clip, local_tables=True))
                else:
                    payloads.append(encode_avi(
                        clip, VIDEO_FPS,
                        codec="DIB" if d % 3 == 0 else "MJPG",
                        quality=95,
                    ))
                if d % VIDEO_FP_TWIN_MOD == 6:
                    ids.append(d + VIDEO_FP_TWIN_OFFSET)
                    payloads.append(encode_avi(
                        clip, VIDEO_FPS, codec="MJPG", quality=95,
                    ))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return docs.mapInPandas(encode, schema="doc_id long, payload binary")


@_register("mm_video_phash_pairs")  # rows-only, like its image/audio
# siblings; planted-recall and exactness pinned in pytest
def mm_video_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs by per-frame perceptual hash: demux each
    AVI (DIB or Motion-JPEG), sample every VIDEO_STRIDE-th frame,
    phash64 each sampled frame in the same Arrow batch, generate
    candidates per frame position by multi-index hashing keyed on
    (position, band, key) — radius-1 probing covers the full
    per-frame VIDEO_FP_HAM_MAX ceiling (see _mih_candidate_pairs) —
    then verify candidate CLIP pairs by the
    fraction of sampled positions within VIDEO_FP_HAM_MAX bits —
    near-dup iff match_frac >= VIDEO_FP_MATCH_FRAC. Returns (doc_a,
    doc_b, n_positions, match_frac). Completes the image/audio/video
    near-dup triad on the same banded-hash scale shape: per-clip
    state is a handful of 8-byte hashes, the only shuffles are the
    band join and the per-pair verify agg."""
    from adcirctime2cogs_spark.functions.gifcodec import decode_gif
    from adcirctime2cogs_spark.functions.imagecodec import phash64
    from adcirctime2cogs_spark.functions.videocodec import decode_avi

    clips = fp_video_docs(spark, sf_dir)

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, phs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                if raw[:6] in (b"GIF87a", b"GIF89a"):
                    frames = decode_gif(raw)
                else:
                    frames, _fps = decode_avi(raw)
                for i in range(0, len(frames), VIDEO_STRIDE):
                    h = phash64(frames[i])
                    ids.append(doc_id)
                    fidx.append(i)
                    phs.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({
                "doc_id": ids,
                "frame_idx": pd.array(fidx, dtype="int32"),
                "ph": pd.array(phs, dtype="int64"),
            })

    ph = _fingerprints_once(
        spark, sf_dir, "video_framehash",
        lambda: clips.mapInPandas(
            hashes, schema="doc_id long, frame_idx int, ph long"
        ),
    )
    cand = (
        _mih_candidate_pairs(ph, "ph", VIDEO_FP_HAM_MAX,
                             part_cols=("frame_idx",))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = ph.select(F.col("doc_id").alias("doc_a"), "frame_idx",
                   F.col("ph").alias("ph_a"))
    pb = ph.select(F.col("doc_id").alias("doc_b"), "frame_idx",
                   F.col("ph").alias("ph_b"))
    ham = F.expr("bit_count(ph_a ^ ph_b)")
    per_pos = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "frame_idx"])
        .select("doc_a", "doc_b",
                (ham <= VIDEO_FP_HAM_MAX).cast("int").alias("hit"))
    )
    agg = per_pos.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_positions"),
        (F.sum("hit") / F.count(F.lit(1))).alias("match_frac"),
    )
    return agg.filter(F.col("match_frac") >= VIDEO_FP_MATCH_FRAC)
