"""Multimodal binary-column operators (task brief: treat image/audio/
video as opaque binary columns with typed metadata).

The container has no image/audio libraries, but the decode step no
longer needs one: _decode_ppm is a REAL pure-python binary-PPM (P6)
parser — magic, comments, ASCII dims, maxval, raw RGB plane — applied
through the same Arrow mapInPandas plumbing a PIL/ffmpeg decoder would
use (BinaryType columns, typed metadata projection, fixed output
schema, per-doc frame explosion).  Richer formats slot into the same
function signature.

The fixture tables carry no binary column, so payloads are synthesized
deterministically: utf-8 bytes of documents.text for the opaque-blob
ops, and valid P6 byte streams (_encode_ppm) for the decoder.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import (
    PPM_W,
    _decode_ppm,
    _encode_ppm,
    bigint,
    duck_hex_int,
    duck_qmilli,
    l2norm,
    nz,
    qmilli,
    r4,
    spread,
)
from trip_data_pipeline_spark.registry import OPS, op

CAT = "2.11 multimodal binary"


def _payload(df: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload: binary, media_type)."""
    return df.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/fake")
        .when(F.col("doc_id") % 3 == 1, "audio/fake")
        .otherwise("video/fake")
        .alias("media_type"),
    )


@op(
    "multimodal_binary_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CASE WHEN doc_id % 3 = 0 THEN 'image/fake'
            WHEN doc_id % 3 = 1 THEN 'audio/fake'
            ELSE 'video/fake' END AS media_type,
       CASE WHEN octet_length(encode(text)) < 200 THEN 'small'
            WHEN octet_length(encode(text)) < 400 THEN 'medium'
            ELSE 'large' END AS size_band,
       md5(text) AS content_hash
FROM documents
""",
    category=CAT,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column: byte length, media
    type, size band, content hash — task-brief multimodal addition
    (hash-checked: metadata extraction is engine-portable even though
    decode is not)."""
    d = _payload(load(spark, sf_dir, "documents"))
    n_bytes = F.octet_length("payload")
    return d.select(
        "doc_id",
        bigint(n_bytes).alias("n_bytes"),
        "media_type",
        F.when(n_bytes < 200, "small")
        .when(n_bytes < 400, "medium")
        .otherwise("large")
        .alias("size_band"),
        F.md5(F.col("payload")).alias("content_hash"),
    )


@op(
    "multimodal_decode_ppm",
    oracle=f"""
WITH px AS (
  SELECT doc_id,
         unnest(range(0, {PPM_W} * ((doc_id % 13) + 1) * 3)) AS i
  FROM documents
)
SELECT doc_id,
       CAST({PPM_W} AS INT)                AS width,
       CAST((doc_id % 13) + 1 AS INT)      AS height,
       CAST(255 AS INT)                    AS maxval,
       CAST(count(*) AS BIGINT)            AS n_px,
       CAST(sum((doc_id * 31 + i) % 256) AS BIGINT) AS sum_px
FROM px
GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode of binary image payloads into typed features
    via a REAL pure-python P6/PPM parser — round-3 graduation of the
    former multimodal_decode_stub (hash-checked: the oracle recomputes
    the integer-exact pixel statistics of the deterministic fixture
    images arithmetically, while the Spark side actually round-trips
    header+pixels through the byte-level decoder)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_ppm(_encode_ppm(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "maxval": [f["maxval"] for f in feats],
                    "n_px": [f["n_px"] for f in feats],
                    "sum_px": [f["sum_px"] for f in feats],
                }
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        decode_batches,
        schema=(
            "doc_id bigint, width int, height int, maxval int, "
            "n_px bigint, sum_px bigint"
        ),
    )


@op(
    "multimodal_frame_sample",
    oracle=f"""
WITH v AS (
  SELECT doc_id, text, octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, text,
         unnest(range(0, least(CAST(ceil(least(nb, 256) / 32.0) AS BIGINT), 8))) AS fi
  FROM v WHERE nb > 0
)
SELECT doc_id,
       CAST(fi AS INT) AS frame_idx,
       -- BYTE fi*32 of the utf-8 payload, parsed from hex(encode()):
       -- the op is a byte-level frame sampler, and on multibyte text
       -- a char index diverges from the byte index (round-8 unicode
       -- sweep; DuckDB cannot slice BLOBs directly)
       CAST({duck_hex_int("hex(encode(text))", "CAST(fi * 64 + 1 AS INT)", 2)}
            AS INT) AS frame_val
FROM f
""",
    category=CAT,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling from 'video' payloads: every 32nd byte as a
    frame, max 8 frames per doc — task-brief multimodal addition.
    Same shape as real frame extraction: one input row -> bounded
    number of (doc, frame_idx, frame) rows, explode done JVM-side
    after the batch decode.

    Hash-checked since round 3: the fixture payloads are the utf-8
    bytes of documents.text (pure ASCII — verified octet_length ==
    length), so the sampled byte at offset 32*i is ord() of the
    corresponding character and the whole explosion replays in SQL."""

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_val": []}
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    # NULL payload has no frames — emit no rows, the
                    # same as the oracle's unnest over a NULL list
                    # (round-8 NULL-payload sweep: len(None) raised)
                    continue
                for idx, off in enumerate(range(0, min(len(payload), 8 * 32), 32)):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["frame_val"].append(int(payload[off]))
        yield pd.DataFrame(rows)

    d = _payload(load(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "video/fake"
    )
    return d.mapInPandas(
        sample_frames, schema="doc_id bigint, frame_idx int, frame_val int"
    )


WAV_RATE = 8000


def _encode_wav(doc_id: int) -> bytes:
    """Deterministic valid RIFF/WAVE payload (PCM s16le mono): real
    RIFF structure — 'RIFF' size 'WAVE', a 'fmt ' chunk, a 'data'
    chunk — that any WAV reader parses."""
    import struct as _st

    n = (doc_id % 50) + 10
    samples = b"".join(
        _st.pack("<h", ((doc_id * 131 + i * 17) % 65536) - 32768) for i in range(n)
    )
    fmt = _st.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    chunks = b"fmt " + _st.pack("<I", len(fmt)) + fmt
    chunks += b"data" + _st.pack("<I", len(samples)) + samples
    return b"RIFF" + _st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _decode_wav(payload: bytes) -> dict:
    """REAL pure-python RIFF/WAVE parser: validates the RIFF header,
    walks the chunk list (any order, any extra chunks), reads the PCM
    format from 'fmt ' and the s16le samples from 'data'.  General
    over any PCM WAV, not just _encode_wav output — an ffmpeg/librosa
    decoder slots into this signature."""
    import struct as _st

    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = _st.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            _, _, rate, _, _, bits = _st.unpack("<HHIIHH", body[:16])
            if bits != 16:
                raise ValueError("only s16le supported")
        elif cid == b"data":
            samples = [
                _st.unpack("<h", body[i : i + 2])[0] for i in range(0, len(body), 2)
            ]
        pos += 8 + clen + (clen % 2)  # RIFF chunks pad to even
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return {
        "sample_rate": rate,
        "n_samples": len(samples),
        "sum_s": sum(samples),
        "min_s": min(samples),
        "max_s": max(samples),
        "samples": samples,  # raw PCM for downstream transforms (decimate)
    }


@op(
    "multimodal_decode_wav",
    oracle="""
WITH s AS (
  SELECT doc_id,
         unnest(range(0, (doc_id % 50) + 10)) AS i
  FROM documents
)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum((doc_id * 131 + i * 17) % 65536 - 32768) AS BIGINT) AS sum_s,
       CAST(min((doc_id * 131 + i * 17) % 65536 - 32768) AS INT) AS min_s,
       CAST(max((doc_id * 131 + i * 17) % 65536 - 32768) AS INT) AS max_s
FROM s GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode of binary AUDIO payloads through a real
    pure-python RIFF/WAVE chunk-walking parser — completes the
    modality triple beside the PPM image decoder and the video frame
    sampler.  The oracle recomputes the deterministic PCM statistics
    arithmetically while the Spark side actually round-trips RIFF
    header + chunk list + s16le samples through the byte-level
    decoder — a parsing bug (chunk padding, sign, truncation) breaks
    the hash."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_wav(_encode_wav(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f["sample_rate"] for f in feats],
                    "n_samples": [f["n_samples"] for f in feats],
                    "sum_s": [f["sum_s"] for f in feats],
                    "min_s": [f["min_s"] for f in feats],
                    "max_s": [f["max_s"] for f in feats],
                }
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        decode_batches,
        schema=(
            "doc_id bigint, sample_rate int, n_samples bigint,"
            " sum_s bigint, min_s int, max_s int"
        ),
    )


@op(
    "pipeline_multimodal_prep",
    oracle=f"""
WITH meta AS (SELECT doc_id, octet_length(encode(text)) AS nb,
                     doc_id % 3 AS m FROM documents),
img AS (SELECT doc_id, sum((doc_id * 31 + i) % 256) AS feat
        FROM (SELECT doc_id, unnest(range(0, 16 * ((doc_id % 13) + 1) * 3)) AS i
              FROM documents WHERE doc_id % 3 = 0) GROUP BY 1),
aud AS (SELECT doc_id, sum((doc_id * 131 + i * 17) % 65536 - 32768) AS feat
        FROM (SELECT doc_id, unnest(range(0, (doc_id % 50) + 10)) AS i
              FROM documents WHERE doc_id % 3 = 1) GROUP BY 1),
vid AS (SELECT doc_id, least(CAST(ceil(least(nb, 256) / 32.0) AS BIGINT), 8) AS feat
        FROM meta WHERE m = 2 AND nb > 0),
feat AS (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid),
qn AS (SELECT vec_id,
              CAST(list_aggregate(list_transform(embedding,
                     x -> {duck_qmilli('x')}
                          * {duck_qmilli('x')}), 'sum')
                   AS BIGINT) AS qn
       FROM embeddings)
SELECT CASE meta.m WHEN 0 THEN 'image/fake'
                   WHEN 1 THEN 'audio/fake'
                   ELSE 'video/fake' END AS media_type,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(feat.feat) AS BIGINT) AS sum_feat,
       CAST(sum(qn.qn) AS BIGINT) AS sum_qn
FROM meta
JOIN feat ON feat.doc_id = meta.doc_id
JOIN qn ON qn.vec_id = meta.doc_id
WHERE meta.nb >= 50
GROUP BY 1
""",
    category=CAT,
)
def pipeline_multimodal_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal training-data prep (the multimodal
    sibling of pipeline_training_data_prep): typed metadata over the
    binary column -> modality-DISPATCHED decode (the real PPM parser
    for images, the real RIFF/WAVE parser for audio, JVM frame
    counting for video) -> join with the embedding table -> byte-size
    quality gate -> per-modality corpus report with integer feature
    and quantized-norm sums.

    The dispatching decoder is ONE mapInPandas pass that switches on
    media_type per row — the shape a mixed-modality corpus needs (one
    scan, per-row codec choice), with every decoded feature
    arithmetic-replayed by the oracle.

    Scale: decode is embarrassingly parallel per doc; the embedding
    join is keyed 1:1; the report aggregate reduces to 3 rows."""
    d = _payload(load(spark, sf_dir, "documents"))

    def decode_dispatch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "feat": []}
            for doc_id, mt, nb in zip(
                pdf["doc_id"], pdf["media_type"], pdf["n_bytes"]
            ):
                if mt == "image/fake":
                    out["doc_id"].append(doc_id)
                    out["feat"].append(_decode_ppm(_encode_ppm(doc_id))["sum_px"])
                elif mt == "audio/fake":
                    out["doc_id"].append(doc_id)
                    out["feat"].append(_decode_wav(_encode_wav(doc_id))["sum_s"])
                elif nb > 0:  # video: frame count, JVM-equivalent math
                    out["doc_id"].append(doc_id)
                    out["feat"].append(min((min(nb, 256) + 31) // 32, 8))
            yield pd.DataFrame(out)

    meta = d.select(
        "doc_id", "media_type", F.octet_length("payload").alias("n_bytes")
    )
    feat = meta.mapInPandas(decode_dispatch, schema="doc_id bigint, feat bigint")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.aggregate(
            F.transform("embedding", qmilli), F.lit(0).cast("bigint"), lambda a, v: a + v * v
        ).alias("qn"),
    )
    return (
        meta.filter(F.col("n_bytes") >= 50)
        .join(feat, "doc_id")
        .join(emb, meta.doc_id == emb.vec_id)
        .groupBy("media_type")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_docs"),
            bigint(F.sum("feat")).alias("sum_feat"),
            bigint(F.sum("qn")).alias("sum_qn"),
        )
    )


@op(
    "multimodal_ppm_resize_nn",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, (((doc_id % 13) + 1) + 1) // 2 AS oh
  FROM documents
),
pix AS (
  SELECT doc_id, oh, unnest(range(0, oh * {(PPM_W + 1) // 2} * 3)) AS j
  FROM dims
),
v AS (
  SELECT doc_id, oh, (j % 3) AS c,
         (doc_id * 31
          + ((2 * ((j // 3) // {(PPM_W + 1) // 2}) * {PPM_W}
              + 2 * ((j // 3) % {(PPM_W + 1) // 2})) * 3 + (j % 3))) % 256
           AS val
  FROM pix
)
SELECT doc_id,
       CAST({(PPM_W + 1) // 2} AS BIGINT) AS out_w,
       CAST(oh AS BIGINT) AS out_h,
       CAST(sum(CASE WHEN c = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN c = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN c = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum
FROM v GROUP BY doc_id, oh
""",
    category=CAT,
)
def multimodal_ppm_resize_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE in the decode->transform->feature chain: decode
    the binary PPM, nearest-neighbor downsample 2x (keep pixels at
    even (x, y) — output dims ceil(w/2) x ceil(h/2), so 1-row images
    survive), then per-channel sums of the RESIZED image.  This is the
    standard thumbnail/preprocess step a vision-training pipeline runs
    between decode and feature extraction; PIL/ffmpeg resizers slot
    into the same mapInPandas seam.  The oracle replays the subsampled
    pixel grid arithmetically (the fixture pixels are a deterministic
    function of (doc_id, index)), so a resize that sampled odd rows,
    mixed up strides, or dropped the tail row would hash-mismatch."""
    import numpy as np

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                f = _decode_ppm(_encode_ppm(d))
                arr = np.frombuffer(f["px"], dtype=np.uint8).reshape(
                    f["height"], f["width"], 3
                )
                nn = arr[::2, ::2, :].astype(np.int64)
                rows.append(
                    (
                        d,
                        nn.shape[1],
                        nn.shape[0],
                        int(nn[:, :, 0].sum()),
                        int(nn[:, :, 1].sum()),
                        int(nn[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "out_w", "out_h", "r_sum", "g_sum", "b_sum"],
            )

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        resize_batches,
        schema=(
            "doc_id bigint, out_w bigint, out_h bigint, "
            "r_sum bigint, g_sum bigint, b_sum bigint"
        ),
    )


@op(
    "multimodal_wav_decimate",
    oracle="""
WITH s AS (
  SELECT doc_id,
         unnest(range(0, (((doc_id % 50) + 10) + 1) // 2)) AS j
  FROM documents
)
SELECT doc_id,
       CAST(4000 AS INT) AS out_rate,
       CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum((doc_id * 131 + (2 * j) * 17) % 65536 - 32768) AS BIGINT)
         AS sum_out,
       CAST(min((doc_id * 131 + (2 * j) * 17) % 65536 - 32768) AS INT)
         AS min_out,
       CAST(max((doc_id * 131 + (2 * j) * 17) % 65536 - 32768) AS INT)
         AS max_out
FROM s GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_wav_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RESAMPLE (decimate 2x) in the decode->transform->feature
    chain: decode the RIFF/WAVE payload, keep every other PCM sample
    (naive decimation halves the rate — the anti-aliased resampler of
    a real pipeline slots into the same seam), report the stats of the
    DECIMATED signal.  The audio sibling of multimodal_ppm_resize_nn;
    the oracle replays the even-index sample lattice arithmetically,
    so an off-by-one stride or a dropped tail sample hash-mismatches."""

    def decimate_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for d in pdf["doc_id"]:
                f = _decode_wav(_encode_wav(d))
                out = f["samples"][::2]
                rows.append(
                    (d, f["sample_rate"] // 2, len(out), sum(out), min(out), max(out))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "out_rate", "n_out", "sum_out", "min_out", "max_out"
                ],
            )
            rows = []

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        decimate_batches,
        schema=(
            "doc_id bigint, out_rate int, n_out bigint, "
            "sum_out bigint, min_out int, max_out int"
        ),
    )


@op(
    "multimodal_ppm_channel_stats",
    oracle="""
WITH px AS (
  SELECT doc_id, unnest(range(0, 16 * ((doc_id % 13) + 1) * 3)) AS i
  FROM documents
),
ch AS (SELECT doc_id, CAST(i % 3 AS INT) AS channel,
              (doc_id * 31 + i) % 256 AS v
       FROM px)
SELECT doc_id, channel,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT)   AS sum_v,
       CAST(min(v) AS INT)      AS min_v,
       CAST(max(v) AS INT)      AS max_v
FROM ch GROUP BY doc_id, channel
""",
    category=CAT,
)
def multimodal_ppm_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel (R/G/B) pixel statistics computed by actually
    DECODING the binary PPM payloads through the real byte-level P6
    parser (multimodal._decode-path plumbing: Arrow mapInPandas,
    BinaryType in, typed rows out) — the feature-extraction stage of
    an image-curation pipeline.  Hash-checked: the fixture images are
    deterministic, so the oracle recomputes the same integer pixel
    statistics arithmetically while Spark round-trips real bytes.

    Scale: map-only Arrow-batched decode (the expensive stage —
    embarrassingly parallel, no shuffle), then a partial+final
    aggregate keyed by (doc, channel)."""

    def channel_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: dict[str, list] = {
            "doc_id": [], "channel": [], "n_px": [],
            "sum_v": [], "min_v": [], "max_v": [],
        }
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                payload = _encode_ppm(doc_id)
                meta = _decode_ppm(payload)  # validates header + plane
                w, h = meta["width"], meta["height"]
                plane = payload[-w * h * 3:]
                for c in range(3):
                    chan = plane[c::3]
                    rows["doc_id"].append(doc_id)
                    rows["channel"].append(c)
                    rows["n_px"].append(len(chan))
                    rows["sum_v"].append(sum(chan))
                    rows["min_v"].append(min(chan))
                    rows["max_v"].append(max(chan))
        yield pd.DataFrame(rows)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        channel_stats,
        schema=(
            "doc_id bigint, channel int, n_px bigint, sum_v bigint, "
            "min_v int, max_v int"
        ),
    )


@op(
    "multimodal_image_phash",
    oracle="""
WITH g AS (
  SELECT doc_id, (doc_id % 13) + 1 AS h, t.i AS i,
         ((t.i // 8) * ((doc_id % 13) + 1)) // 8 AS gy,
         (t.i % 8) * 2 AS gx
  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i) t
),
cells AS (
  SELECT doc_id, i,
         (doc_id * 31 + (gy * 16 + gx) * 3) % 256
         + (doc_id * 31 + (gy * 16 + gx) * 3 + 1) % 256
         + (doc_id * 31 + (gy * 16 + gx) * 3 + 2) % 256 AS cell
  FROM g
),
b AS (
  SELECT doc_id, i, cell,
         sum(cell) OVER (PARTITION BY doc_id) AS total
  FROM cells
)
SELECT doc_id,
       string_agg(CASE WHEN 64 * cell > total THEN '1' ELSE '0' END,
                  '' ORDER BY i) AS phash_bits,
       CAST(count(CASE WHEN 64 * cell > total THEN 1 END) AS BIGINT) AS n_ones
FROM b GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (average-hash / aHash) over the REAL PPM
    decode chain: decode the P6 byte stream, sample an 8x8
    nearest-neighbor grid (gy = (r*h)//8, gx = 2*c for the 16-wide
    fixture), gray = integer sum of the 3 channels (no /3 — division
    would round), bit = [64*cell > total] (cross-multiplied mean
    comparison, strict both engines) -> 64-bit hash as a bit string +
    popcount.  The oracle replays the sampled pixel lattice
    arithmetically while the Spark side round-trips actual bytes
    through the parser.

    Scale shape: map-only mapInPandas (Arrow batches of binary
    payloads in, 72-char rows out) — the standard pre-shuffle
    compression step before image near-dup banding (the SimHash
    banding ops show the join half on exactly this kind of
    signature)."""

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "phash_bits": [], "n_ones": []}
            for doc_id in pdf["doc_id"]:
                f = _decode_ppm(_encode_ppm(int(doc_id)))
                w, h, px = f["width"], f["height"], f["px"]
                cells = []
                for r in range(8):
                    gy = (r * h) // 8
                    for c in range(8):
                        gx = 2 * c
                        base = (gy * w + gx) * 3
                        cells.append(px[base] + px[base + 1] + px[base + 2])
                total = sum(cells)
                bits = "".join(
                    "1" if 64 * cell > total else "0" for cell in cells
                )
                out["doc_id"].append(doc_id)
                out["phash_bits"].append(bits)
                out["n_ones"].append(bits.count("1"))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        phash_batches, schema="doc_id bigint, phash_bits string, n_ones bigint"
    )


VAD_FRAME = 8  # samples per frame

VAD_THRESH = 100_000  # integer energy threshold (sum of |s16| per frame)


@op(
    "multimodal_audio_vad",
    oracle=f"""
WITH d AS (SELECT doc_id, (doc_id % 50) + 10 AS n FROM documents),
s0 AS (SELECT doc_id, unnest(range(0, n)) AS i FROM d),
s AS (
  SELECT doc_id, i // {VAD_FRAME} AS fi,
         abs(((doc_id * 131 + i * 17) % 65536) - 32768) AS a
  FROM s0
),
f AS (
  SELECT doc_id, fi,
         CASE WHEN sum(a) > {VAD_THRESH} THEN 1 ELSE 0 END AS act
  FROM s GROUP BY doc_id, fi
),
g AS (
  SELECT doc_id, fi, act,
         lag(act, 1, 0) OVER (PARTITION BY doc_id ORDER BY fi) AS pact
  FROM f
)
SELECT doc_id,
       CAST(count(*) AS BIGINT)  AS n_frames,
       CAST(sum(act) AS BIGINT)  AS n_active,
       CAST(count(CASE WHEN act = 1 AND pact = 0 THEN 1 END) AS BIGINT)
         AS n_segments,
       CAST((1000000 * sum(act)) // count(*) AS BIGINT) AS active_ppm
FROM g GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity detection over the REAL RIFF/WAVE
    decode chain: decode the PCM s16le payload, frame at 8 samples
    (last frame partial), a frame is ACTIVE iff its integer
    sum-of-|sample| energy exceeds a fixed threshold, segments are
    maximal runs of active frames (gaps-and-islands on the frame
    sequence).  Per doc: frames, active frames, segment count,
    active share in integer ppm — the speech-share gate an audio
    corpus applies before paying for transcription.

    The oracle replays the deterministic PCM lattice arithmetically;
    the Spark side round-trips actual RIFF bytes through the parser.
    Scale shape: map-only mapInPandas; segmentation is per-payload
    local state inside the batch (no cross-row windows needed)."""

    def vad_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_frames": [],
                "n_active": [],
                "n_segments": [],
                "active_ppm": [],
            }
            for doc_id in pdf["doc_id"]:
                f = _decode_wav(_encode_wav(int(doc_id)))
                samples = f["samples"]
                acts = []
                for start in range(0, len(samples), VAD_FRAME):
                    e = sum(abs(int(s)) for s in samples[start : start + VAD_FRAME])
                    acts.append(1 if e > VAD_THRESH else 0)
                segs = sum(
                    1
                    for k, a in enumerate(acts)
                    if a == 1 and (k == 0 or acts[k - 1] == 0)
                )
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(acts))
                out["n_active"].append(sum(acts))
                out["n_segments"].append(segs)
                out["active_ppm"].append(1_000_000 * sum(acts) // len(acts))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        vad_batches,
        schema=(
            "doc_id bigint, n_frames bigint, n_active bigint, "
            "n_segments bigint, active_ppm bigint"
        ),
    )


# ViT-style patchify grid over the PPM fixture images (16 px wide,
# 1..13 px tall): 8x4 tiles, ragged bottom tile kept (a production
# pipeline pads instead; the stats contract is identical).
_TILE_W, _TILE_H = 8, 4


@op(
    "multimodal_image_tiles",
    oracle=f"""
WITH g AS (SELECT doc_id, (doc_id % 13) + 1 AS h FROM documents),
t AS (
  SELECT doc_id, h, tx.x AS tx, ty.y AS ty
  FROM g
  CROSS JOIN (SELECT unnest(range(0, 2)) AS x) tx
  CROSS JOIN (SELECT unnest(range(0, 4)) AS y) ty
  WHERE ty.y * {_TILE_H} < h
),
py AS (
  SELECT doc_id, tx, ty,
         unnest(range(ty * {_TILE_H}, least(ty * {_TILE_H} + {_TILE_H}, h))) AS y
  FROM t
),
px AS (
  SELECT doc_id, tx, ty, y,
         unnest(range(tx * {_TILE_W}, tx * {_TILE_W} + {_TILE_W})) AS x
  FROM py
),
c AS (SELECT doc_id, tx, ty, y, x, unnest(range(0, 3)) AS ch FROM px)
SELECT doc_id,
       CAST(tx AS INT) AS tile_x, CAST(ty AS INT) AS tile_y,
       CAST(count(*) // 3 AS BIGINT) AS n_px,
       CAST(sum(CASE WHEN ch = 0
                THEN (doc_id * 31 + ((y * 16 + x) * 3 + ch)) % 256 END)
            AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN ch = 1
                THEN (doc_id * 31 + ((y * 16 + x) * 3 + ch)) % 256 END)
            AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN ch = 2
                THEN (doc_id * 31 + ((y * 16 + x) * 3 + ch)) % 256 END)
            AS BIGINT) AS sum_b
FROM c GROUP BY doc_id, tx, ty
""",
    category=CAT,
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patchify (Dosovitskiy et al. 2021): decode each PPM
    through the REAL byte-level parser, cut the pixel plane into 8x4
    tiles (ragged bottom edge kept), and emit per-tile pixel count +
    per-channel integer sums — the patch-statistics pass that feeds
    patch normalization / dead-patch filtering before ViT training.
    The oracle replays the deterministic pixel lattice arithmetically;
    the Spark side round-trips actual bytes through the decoder and a
    numpy (h, w, 3) reshape.

    Scale: map-only mapInPandas (zero exchanges) — decode + tiling
    never leaves the mapper; tiles-per-image is a constant, so output
    is O(corpus)."""

    import numpy as np

    def tile_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "tile_x": [], "tile_y": [],
                "n_px": [], "sum_r": [], "sum_g": [], "sum_b": [],
            }
            for d in pdf["doc_id"]:
                f = _decode_ppm(_encode_ppm(int(d)))
                arr = np.frombuffer(f["px"], dtype=np.uint8).reshape(
                    f["height"], f["width"], 3
                )
                for ty in range((f["height"] + _TILE_H - 1) // _TILE_H):
                    for tx in range(f["width"] // _TILE_W):
                        tile = arr[
                            ty * _TILE_H : ty * _TILE_H + _TILE_H,
                            tx * _TILE_W : tx * _TILE_W + _TILE_W,
                            :,
                        ].astype(np.int64)
                        out["doc_id"].append(int(d))
                        out["tile_x"].append(tx)
                        out["tile_y"].append(ty)
                        out["n_px"].append(tile.shape[0] * tile.shape[1])
                        out["sum_r"].append(int(tile[:, :, 0].sum()))
                        out["sum_g"].append(int(tile[:, :, 1].sum()))
                        out["sum_b"].append(int(tile[:, :, 2].sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        tile_batches,
        schema=(
            "doc_id bigint, tile_x int, tile_y int, n_px bigint, "
            "sum_r bigint, sum_g bigint, sum_b bigint"
        ),
    )


# Synthetic "video": a concatenation of real P6/PPM frames (that IS
# what raw video is — a frame sequence), 16x4 px per frame, frame
# count (doc_id % 7) + 2.  The pixel lattice shifts per frame and the
# per-frame gradient changes every 3rd frame, so genuine cuts exist.
_VID_W, _VID_H = 16, 4


def _encode_video(doc_id: int) -> bytes:
    frames = []
    n_frames = (doc_id % 7) + 2
    for f in range(n_frames):
        header = f"P6\n{_VID_W} {_VID_H}\n255\n".encode("ascii")
        npx = _VID_W * _VID_H * 3
        frames.append(
            header
            + bytes(
                (doc_id * 31 + f * 64 + i * ((f // 3) + 1)) % 256
                for i in range(npx)
            )
        )
    return b"".join(frames)


@op(
    "multimodal_video_scene_cut",
    oracle=f"""
WITH g AS (SELECT doc_id, (doc_id % 7) + 2 AS nf FROM documents),
fp AS (
  SELECT doc_id, f.f AS f, i.i AS i,
         (doc_id * 31 + f.f * 64 + i.i * ((f.f // 3) + 1)) % 256 AS v
  FROM g
  CROSS JOIN (SELECT unnest(range(0, 8)) AS f) f
  CROSS JOIN (SELECT unnest(range(0, {_VID_W * _VID_H * 3})) AS i) i
  WHERE f.f < nf
),
d AS (
  SELECT a.doc_id, a.f, sum(abs(a.v - b.v)) AS diff
  FROM fp a
  JOIN fp b ON b.doc_id = a.doc_id AND b.f = a.f - 1 AND b.i = a.i
  GROUP BY a.doc_id, a.f
)
SELECT doc_id,
       CAST(count(*) + 1 AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN diff > {_VID_W * _VID_H * 3} * 80 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cuts,
       CAST(max(diff) AS BIGINT) AS max_diff
FROM d GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over a REAL decoded frame sequence: each
    'video' payload is a concatenation of valid P6/PPM frames (which
    is literally what raw video is); the Spark side walks the byte
    stream frame by frame through the same _decode_ppm parser the
    image ops use, then flags a cut wherever the inter-frame
    sum-of-absolute-differences exceeds a mean-per-pixel-80 threshold
    — the shot-boundary pass a video-curation pipeline runs before
    sampling keyframes for captioning.  The oracle replays the
    deterministic pixel lattice arithmetically.

    Scale: map-only mapInPandas — decode + frame differencing never
    leave the mapper and per-doc state is two frames (current +
    previous), so memory is O(frame), not O(video)."""
    import numpy as np


    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        thresh = _VID_W * _VID_H * 3 * 80
        out = {"doc_id": [], "n_frames": [], "n_cuts": [], "max_diff": []}
        for pdf in batches:
            for d in pdf["doc_id"]:
                payload = _encode_video(int(d))
                pos, prev, n_frames, n_cuts, max_diff = 0, None, 0, 0, 0
                while pos < len(payload):
                    # frame-by-frame walk: decode one P6 stream, advance
                    f = _decode_ppm(payload[pos:])
                    hdr_end = payload.index(b"255\n", pos) + 4
                    pos = hdr_end + f["n_px"]
                    cur = np.frombuffer(f["px"], dtype=np.uint8).astype(
                        np.int64
                    )
                    if prev is not None:
                        diff = int(np.abs(cur - prev).sum())
                        max_diff = max(max_diff, diff)
                        if diff > thresh:
                            n_cuts += 1
                    prev = cur
                    n_frames += 1
                out["doc_id"].append(int(d))
                out["n_frames"].append(n_frames)
                out["n_cuts"].append(n_cuts)
                out["max_diff"].append(max_diff)
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        cuts,
        schema="doc_id bigint, n_frames bigint, n_cuts bigint, max_diff bigint",
    )


@op(
    "multimodal_audio_zcr",
    oracle="""
WITH s AS (
  SELECT doc_id, i.i AS i,
         ((doc_id * 131 + i.i * 17) % 65536) - 32768 AS s
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, 60)) AS i) i
  WHERE i.i < (doc_id % 50) + 10
),
z AS (
  SELECT doc_id, i, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN prev IS NOT NULL
                      AND (s >= 0) != (prev >= 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS zc_count,
       CAST(1000000 * sum(CASE WHEN prev IS NOT NULL
                      AND (s >= 0) != (prev >= 0) THEN 1 ELSE 0 END)
            // (count(*) - 1) AS BIGINT) AS zcr_ppm
FROM z GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing rate over the REAL RIFF/WAVE decode chain: count
    of sign flips between consecutive PCM samples (nonnegative vs
    negative), as count + exact ppm rate — the classic cheap
    speech-vs-music / silence-vs-tone discriminator an audio-curation
    pipeline runs alongside energy VAD (multimodal_audio_vad).  The
    oracle replays the deterministic PCM lattice through a lag window;
    the Spark side decodes actual RIFF bytes.

    Scale: map-only mapInPandas — one pass, per-doc state is one
    previous sample."""
    import numpy as np


    def zcr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = {"doc_id": [], "n_samples": [], "zc_count": [], "zcr_ppm": []}
        for pdf in batches:
            for d in pdf["doc_id"]:
                f = _decode_wav(_encode_wav(int(d)))
                s = np.asarray(f["samples"], dtype=np.int64)
                nn = s >= 0
                zc = int((nn[1:] != nn[:-1]).sum())
                out["doc_id"].append(int(d))
                out["n_samples"].append(len(s))
                out["zc_count"].append(zc)
                out["zcr_ppm"].append(1_000_000 * zc // (len(s) - 1))
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        zcr,
        schema="doc_id bigint, n_samples bigint, zc_count bigint, zcr_ppm bigint",
    )


@op(
    "multimodal_image_histogram_stats",
    oracle=f"""
WITH px AS (
  SELECT doc_id,
         unnest(range(0, {16} * ((doc_id % 13) + 1))) AS p
  FROM documents
),
g AS (
  SELECT doc_id, p,
         ((doc_id * 31 + p * 3) % 256)
       + ((doc_id * 31 + p * 3 + 1) % 256)
       + ((doc_id * 31 + p * 3 + 2) % 256) AS gray
  FROM px
),
b AS (SELECT doc_id, (gray * 8) // 766 AS bin FROM g),
h AS (SELECT doc_id, bin, count(*) AS c FROM b GROUP BY doc_id, bin)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_px,
       CAST(count(*) AS BIGINT) AS n_nonzero_bins,
       CAST(1000000 * max(c) // sum(c) AS BIGINT) AS max_bin_share_ppm
FROM h GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_image_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gray-level histogram shape stats over the REAL PPM decode: 8-bin
    histogram of per-pixel gray sums (r+g+b in 0..765), reporting
    occupied-bin count and the max bin's share in ppm — the
    blank/corrupt-image detector (a screenshot of one color peaks one
    bin; a natural image spreads) that gates images before captioning
    spend.  Oracle replays the pixel lattice; Spark decodes bytes and
    histograms in numpy.

    Scale: map-only mapInPandas, constant 8-int state per image."""
    import numpy as np


    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = {
            "doc_id": [], "n_px": [], "n_nonzero_bins": [],
            "max_bin_share_ppm": [],
        }
        for pdf in batches:
            for d in pdf["doc_id"]:
                f = _decode_ppm(_encode_ppm(int(d)))
                arr = np.frombuffer(f["px"], dtype=np.uint8).astype(np.int64)
                gray = arr.reshape(-1, 3).sum(axis=1)
                bins = np.bincount(gray * 8 // 766, minlength=8)
                n = int(gray.size)
                out["doc_id"].append(int(d))
                out["n_px"].append(n)
                out["n_nonzero_bins"].append(int((bins > 0).sum()))
                out["max_bin_share_ppm"].append(1_000_000 * int(bins.max()) // n)
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        hist,
        schema=(
            "doc_id bigint, n_px bigint, n_nonzero_bins bigint, "
            "max_bin_share_ppm bigint"
        ),
    )


# Watermark detection reuses the tiles op wholesale: its DataFrame on
# the Spark side, its arithmetic-replay oracle (embedded as a derived
# table) on the DuckDB side.
_TILES_ORACLE = OPS["multimodal_image_tiles"].oracle


@op(
    "multimodal_tile_watermark_detect",
    oracle=f"""
WITH q AS (
  SELECT tile_x, tile_y,
         (sum_r * 4) // (n_px * 256) AS qr,
         (sum_g * 4) // (n_px * 256) AS qg,
         (sum_b * 4) // (n_px * 256) AS qb
  FROM ({_TILES_ORACLE}) tiles
)
SELECT tile_x, tile_y,
       CAST(qr AS BIGINT) AS qr,
       CAST(qg AS BIGINT) AS qg,
       CAST(qb AS BIGINT) AS qb,
       CAST(count(*) AS BIGINT) AS n_docs
FROM q GROUP BY tile_x, tile_y, qr, qg, qb
HAVING count(*) >= 5
""",
    category=CAT,
)
def multimodal_tile_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark / logo / banner detection by coarse tile signatures:
    each decoded tile's per-channel mean quantized to 2 bits, then
    (position, signature) buckets appearing in >= 5 distinct images
    are flagged — repeated same-looking content at the same position
    is how overlay watermarks surface in a crawl, and removing them
    before dedup stops a shared banner from gluing unrelated pages
    into one near-dup cluster.

    Scale: consumes the tiles op's map-only decode (zero exchanges),
    adds one (position, signature)-keyed partial/final agg; the
    signature space is constant (32 positions x 64 signatures) so the
    output is bounded regardless of corpus size."""
    tiles = multimodal_image_tiles(spark, sf_dir)
    q = tiles.select(
        "tile_x",
        "tile_y",
        F.expr("(sum_r * 4) div (n_px * 256)").alias("qr"),
        F.expr("(sum_g * 4) div (n_px * 256)").alias("qg"),
        F.expr("(sum_b * 4) div (n_px * 256)").alias("qb"),
    )
    return (
        q.groupBy("tile_x", "tile_y", "qr", "qg", "qb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .select(
            "tile_x",
            "tile_y",
            bigint(F.col("qr")).alias("qr"),
            bigint(F.col("qg")).alias("qg"),
            bigint(F.col("qb")).alias("qb"),
            bigint(F.col("n")).alias("n_docs"),
        )
    )


@op(
    "multimodal_audio_clipping",
    oracle="""
WITH s AS (
  SELECT doc_id, i.i AS i,
         ((doc_id * 131 + i.i * 17) % 65536) - 32768 AS s
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, 60)) AS i) i
  WHERE i.i < (doc_id % 50) + 10
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(abs(s)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN abs(s) >= 32256 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       CAST(1000000 * sum(CASE WHEN abs(s) >= 32256 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS clip_ppm
FROM s GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping / loudness QA over the REAL RIFF/WAVE decode chain:
    per clip, sample count, peak absolute amplitude, and the count +
    exact ppm of samples within 512 of full scale (|s| >= 32256, about
    -0.14 dBFS) — the hard-clipping gate an audio-curation pipeline
    applies before spending ASR/captioning compute, next to the energy
    VAD and ZCR ops.  The oracle replays the deterministic PCM
    lattice; the Spark side decodes actual RIFF bytes.

    Scale: map-only mapInPandas, constant per-doc state."""
    import numpy as np


    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "n_samples", "peak_abs", "n_clipped", "clip_ppm"]
        out = {k: [] for k in cols}
        for pdf in batches:
            for d in pdf["doc_id"]:
                f = _decode_wav(_encode_wav(int(d)))
                s = np.abs(np.asarray(f["samples"], dtype=np.int64))
                nc = int((s >= 32256).sum())
                out["doc_id"].append(int(d))
                out["n_samples"].append(len(s))
                out["peak_abs"].append(int(s.max()))
                out["n_clipped"].append(nc)
                out["clip_ppm"].append(1_000_000 * nc // len(s))
            yield pd.DataFrame(out)
            out = {k: [] for k in cols}

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        clip,
        schema=(
            "doc_id bigint, n_samples bigint, peak_abs bigint,"
            " n_clipped bigint, clip_ppm bigint"
        ),
    )


@op(
    "multimodal_aspect_buckets",
    oracle="""
WITH dims AS (
  SELECT doc_id, 16 AS w, (doc_id % 13) + 1 AS h FROM documents
),
assigned AS (
  SELECT doc_id, w, h,
         CASE WHEN h <= 4 THEN 4 WHEN h <= 8 THEN 8 ELSE 13 END AS canon_h
  FROM dims
)
SELECT CAST(canon_h AS BIGINT) AS canon_h,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(w * h) AS BIGINT) AS native_px,
       CAST(sum(w * canon_h) AS BIGINT) AS padded_px,
       CAST(1000000 * (sum(w * canon_h) - sum(w * h))
            // sum(w * canon_h) AS BIGINT) AS waste_ppm
FROM assigned GROUP BY canon_h
""",
    category=CAT,
)
def multimodal_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing (the SDXL/NovelAI training technique):
    assign each decoded image to the smallest canonical height bucket
    that fits (4 / 8 / 13 here), and report per bucket the image
    count, native vs padded pixel mass, and padding waste in exact
    ppm — the number that tunes the bucket list (too few buckets
    wastes compute on padding; too many starves batches).  The Spark
    side reads REAL dimensions out of the PPM decode chain; the oracle
    replays the deterministic size lattice.

    Scale: map-only mapInPandas decode to (w, h), then a constant-size
    bucket agg."""

    def dims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = {"doc_id": [], "w": [], "h": []}
        for pdf in batches:
            for d in pdf["doc_id"]:
                img = _decode_ppm(_encode_ppm(int(d)))
                out["doc_id"].append(int(d))
                out["w"].append(img["width"])
                out["h"].append(img["height"])
            yield pd.DataFrame(out)
            out = {k: [] for k in out}

    d = load(spark, sf_dir, "documents").select("doc_id")
    wh = d.mapInPandas(dims, schema="doc_id bigint, w bigint, h bigint")
    assigned = wh.select(
        "w",
        "h",
        F.when(F.col("h") <= 4, 4)
        .when(F.col("h") <= 8, 8)
        .otherwise(13)
        .alias("canon_h"),
    )
    return assigned.groupBy("canon_h").agg(
        bigint(F.count(F.lit(1))).alias("n_images"),
        bigint(F.sum(F.col("w") * F.col("h"))).alias("native_px"),
        bigint(F.sum(F.col("w") * F.col("canon_h"))).alias("padded_px"),
        bigint(
            F.expr(
                "1000000 * (sum(w * canon_h) - sum(w * h))"
                " div sum(w * canon_h)"
            )
        ).alias("waste_ppm"),
    ).select(
        bigint(F.col("canon_h")).alias("canon_h"),
        "n_images",
        "native_px",
        "padded_px",
        "waste_ppm",
    )


@op(
    "multimodal_image_symmetry_score",
    oracle="""
WITH px AS (
  SELECT doc_id, (doc_id % 13) + 1 AS h, y.y AS y, x.x AS x
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, 13)) AS y) y
  CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
  WHERE y.y < (doc_id % 13) + 1
),
d AS (
  SELECT doc_id, h,
         abs(
           ((doc_id * 31 + ((y * 16 + x) * 3 + 0)) % 256)
           - ((doc_id * 31 + ((y * 16 + (15 - x)) * 3 + 0)) % 256)
         ) AS dr
  FROM px
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(dr) AS BIGINT) AS abs_diff_sum,
       CAST(1000000 * sum(dr) // (count(*) * 255) AS BIGINT)
         AS asymmetry_ppm
FROM d GROUP BY doc_id
""",
    category=CAT,
)
def multimodal_image_symmetry_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizontal-mirror symmetry score over the REAL PPM decode: mean
    absolute red-channel difference between each pixel and its
    mirrored column (left half vs flipped right half), normalized to
    exact ppm of full scale — near-zero marks mirrored/symmetric
    content (logos, borders, flipped-augmentation dupes the pHash op
    can miss because aHash is mirror-sensitive).  The oracle replays
    the deterministic pixel lattice; the Spark side flips actual
    decoded pixel arrays with numpy.

    Scale: map-only mapInPandas, constant state per image."""
    import numpy as np


    def sym(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "n_pairs", "abs_diff_sum", "asymmetry_ppm"]
        out = {k: [] for k in cols}
        for pdf in batches:
            for d in pdf["doc_id"]:
                img = _decode_ppm(_encode_ppm(int(d)))
                w, h = img["width"], img["height"]
                px = (np.frombuffer(bytes(img["px"]), dtype=np.uint8)
                      .astype(np.int64).reshape(h, w, 3))
                red = px[:, :, 0]
                half = w // 2
                left = red[:, :half]
                right = np.flip(red[:, w - half:], axis=1)
                diff = np.abs(left - right)
                s = int(diff.sum())
                n = int(diff.size)
                out["doc_id"].append(int(d))
                out["n_pairs"].append(n)
                out["abs_diff_sum"].append(s)
                out["asymmetry_ppm"].append(1_000_000 * s // (n * 255))
            yield pd.DataFrame(out)
            out = {k: [] for k in cols}

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        sym,
        schema=(
            "doc_id bigint, n_pairs bigint, abs_diff_sum bigint,"
            " asymmetry_ppm bigint"
        ),
    )


@op(
    "multimodal_grayscale_detect",
    oracle="""
WITH px AS (
  SELECT doc_id, (doc_id % 13) + 1 AS h, y.y AS y, x.x AS x,
         (doc_id * 31 + ((y.y * 16 + x.x) * 3 + 0)) % 256 AS r,
         (doc_id * 31 + ((y.y * 16 + x.x) * 3 + 1)) % 256 AS g
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, 13)) AS y) y
  CROSS JOIN (SELECT unnest(range(0, 16)) AS x) x
  WHERE y.y < (doc_id % 13) + 1
),
m AS (
  SELECT doc_id,
         count(*) AS n,
         sum(r) AS sr, sum(g) AS sg,
         sum(r * r) AS srr, sum(g * g) AS sgg, sum(r * g) AS srg
  FROM px GROUP BY doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_px,
       CAST(floor(1000000.0 * (n * srg - sr * sg)
            / sqrt(CAST((n * srr - sr * sr) AS DOUBLE)
                   * (n * sgg - sg * sg))) AS BIGINT) AS rg_corr_ppm,
       CAST(CASE WHEN 1000000.0 * (n * srg - sr * sg)
                      / sqrt(CAST((n * srr - sr * sr) AS DOUBLE)
                             * (n * sgg - sg * sg)) > 990000
                 THEN 1 ELSE 0 END AS BIGINT) AS grayscale_like
FROM m
""",
    category=CAT,
)
def multimodal_grayscale_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grayscale-stored-as-RGB detection over the real PPM decode:
    Pearson correlation between the R and G channel samples (exact
    integer moment sums; the single sqrt runs on integers well below
    2^53, so the double is the same in both engines), floored to ppm —
    corr near 10^6 means the three channels carry one channel's
    information and the image can be stored/processed at a third the
    cost.  The left-half sample of the channel-stats op's discipline,
    extended to a second moment.

    Scale: map-only mapInPandas computing the six moment sums,
    constant state per image."""
    import numpy as np


    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "n_px", "rg_corr_ppm", "grayscale_like"]
        out = {k: [] for k in cols}
        for pdf in batches:
            for d in pdf["doc_id"]:
                f = _decode_ppm(_encode_ppm(int(d)))
                w, h = f["width"], f["height"]
                px = (
                    np.frombuffer(bytes(f["px"]), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(h, w, 3)
                )
                r = px[:, :, 0].ravel()
                g = px[:, :, 1].ravel()
                n = len(r)
                num = n * int((r * g).sum()) - int(r.sum()) * int(g.sum())
                d1 = n * int((r * r).sum()) - int(r.sum()) ** 2
                d2 = n * int((g * g).sum()) - int(g.sum()) ** 2
                import math

                corr = math.floor(1000000.0 * num / math.sqrt(float(d1) * d2))
                out["doc_id"].append(int(d))
                out["n_px"].append(n)
                out["rg_corr_ppm"].append(corr)
                out["grayscale_like"].append(
                    1 if 1000000.0 * num / math.sqrt(float(d1) * d2) > 990000
                    else 0
                )
            yield pd.DataFrame(out)
            out = {k: [] for k in cols}

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        moments,
        schema=(
            "doc_id bigint, n_px bigint, rg_corr_ppm bigint,"
            " grayscale_like bigint"
        ),
    )


def as_double_vec(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


_DUCK_EMB = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@op(
    "multimodal_vector_norm",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {_DUCK_EMB} AS emb FROM embeddings)
SELECT vec_id, label,
       round(sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')), 4) AS l2,
       CASE WHEN round(list_aggregate(emb, 'sum') / len(emb), 4) = 0
            THEN CAST(0.0 AS DOUBLE)
            ELSE round(list_aggregate(emb, 'sum') / len(emb), 4) END          AS mean_val,
       list_aggregate(emb, 'min')                                             AS min_val,
       list_aggregate(emb, 'max')                                             AS max_val
FROM e
""",
    category=CAT,
)
def multimodal_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and dim stats via HOFs — SURVEY.md §2.11
    row 8.  min/max are raw float-origin elements: projected UNROUNDED
    (exact across engines; rounding them at 4 dp hits shortest-repr
    half-boundaries — observed at sf0.1).  l2/mean are derived reals
    where 4 dp rounding is tie-free."""
    e = spread(load(spark, sf_dir, "embeddings"))
    emb = as_double_vec()
    return e.select(
        "vec_id",
        "label",
        r4(l2norm(emb)).alias("l2"),
        nz(
            r4(
                F.aggregate(emb, F.lit(0.0), lambda s, x: s + x)
                / F.size("embedding")
            )
        ).alias("mean_val"),
        F.array_min(emb).alias("min_val"),
        F.array_max(emb).alias("max_val"),
    )


@op(
    "multimodal_join_doc_vec",
    oracle=f"""
SELECT doc_id, lang, label, n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       round(sqrt(list_aggregate(
         list_transform({_DUCK_EMB}, x -> x * x), 'sum')), 4) AS l2
FROM documents JOIN embeddings ON vec_id = doc_id
""",
    category=CAT,
)
def multimodal_join_doc_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join text table with its embedding table (1:1 on id), combining
    text stats and vector stats — SURVEY.md §2.11 row 9."""
    d = spread(load(spark, sf_dir, "documents"))
    e = spread(load(spark, sf_dir, "embeddings"))
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "label",
        "n_chars",
        bigint(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        r4(l2norm(as_double_vec())).alias("l2"),
    )
