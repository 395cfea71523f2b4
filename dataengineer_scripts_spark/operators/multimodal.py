"""Multimodal-column operators (driver north star: image/audio/video as
opaque ``binary`` columns with typed metadata).

No fixture table carries real media bytes, so the binary modality is
SYNTHESIZED deterministically (UTF-8 bytes of ``documents.text`` — ASCII in
the fixture, so byte values equal codepoints and every byte-level stat has
an exact DuckDB twin).  What is REAL and tested at the Spark layer is the
plumbing real media would use:

- an opaque ``BinaryType`` column flowing through the plan (scan → project
  → Arrow batch → Python → result schema);
- decode / feature-extract / frame-sample as ``mapInPandas`` over Arrow
  batches — bytes enter Python ONCE per batch, vectorized numpy inside,
  never a row-at-a-time UDF;
- typed metadata traveling beside the payload (struct of modality fields).

The real codec is PLUGGABLE: ``decode_image_real`` try-imports PIL at
module load and decodes with it when installed (this container ships no
codec, so it raises ``NotImplementedError`` here); ``_decode_geometry``
dispatches real-decode-first with the deterministic byte-fake as the
fallback for undecodable payloads.  Since the synthetic fixture's
"images" are UTF-8 text, operator results — and their DuckDB oracles —
are identical with either backend; the plan, schema and partitioning
never change.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table

FRAME_BYTES = 16  # fake "video": fixed-size frames over the byte stream
FRAME_STRIDE = 4  # sample every 4th frame

try:  # pluggable real codec: engaged the moment the container ships PIL
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # no codec installed — byte-fake decode path only
    _PILImage = None


def decode_image_real(data: bytes) -> dict:
    """Real image decode (PIL when installed).  Raises NotImplementedError
    while no codec ships in the container; with PIL present it returns the
    decoded geometry and becomes the live half of the ``_decode_geometry``
    dispatch under ``x_mm_image_resize``."""
    if _PILImage is None:
        raise NotImplementedError(
            "real image codecs are not available in this container; "
            "use the deterministic byte-level decode in x_mm_binary_decode"
        )
    import io

    with _PILImage.open(io.BytesIO(data)) as im:
        return {"width": int(im.width), "height": int(im.height), "mode": im.mode}


def _decode_geometry(data: bytes) -> tuple[int, int]:
    """Decode dispatch seam: real codec when one is installed AND the
    payload actually decodes; the deterministic byte-fake otherwise
    (w = n % 640, h = n*7 % 480).  The synthetic fixture's payloads are
    UTF-8 text — not decodable images — so the operators' oracle rows are
    identical with or without PIL installed, while real image bytes get a
    real decode the moment a codec is present."""
    if _PILImage is not None:
        try:
            d = decode_image_real(data)
            return d["width"], d["height"]
        except NotImplementedError:  # pragma: no cover - PIL present here
            raise
        except Exception:
            pass  # not a decodable image: fall through to the byte-fake
    n = len(data)
    return n % 640, (n * 7) % 480


@register(
    "x_mm_record",
    oracle="""
    SELECT d.doc_id, d.lang, e.label,
           len(string_split(d.text, ' ')) AS text_tokens,
           -- a NULL element means "no norm": the Spark fold propagates
           -- NULL; mirror it (DuckDB list_sum would ignore the NULL and
           -- report a misleading partial norm) — NULL-element probe, r18
           CASE WHEN len(list_filter(e.embedding, x -> x IS NULL)) > 0
                THEN NULL
                ELSE round(sqrt(list_sum(list_transform(e.embedding,
                     x -> x::DOUBLE * x::DOUBLE))), 6)
           END AS vec_norm,
           octet_length(encode(d.text)) AS media_bytes
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def x_mm_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joined multimodal record: text modality (documents) + vector modality
    (embeddings) + synthesized binary modality, carried as ONE struct column
    with typed per-modality metadata, then unpacked to per-modality stats.
    The join is 1:1 on the shared id — a plain shuffled equi-join (both
    sides are corpus-sized; nothing to broadcast at scale)."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    vec_d = F.transform("embedding", lambda x: x.cast("double"))
    rec = (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            F.struct(
                F.struct("text", "lang").alias("text_mod"),
                F.struct(vec_d.alias("vec"), "label").alias("vec_mod"),
                F.struct(
                    F.encode("text", "UTF-8").alias("data"),
                    F.lit("fake/utf8").alias("mime"),
                ).alias("media_mod"),
            ).alias("record"),
        )
    )
    norm = F.sqrt(
        F.aggregate("record.vec_mod.vec", F.lit(0.0), lambda a, x: a + x * x)
    )
    return rec.select(
        "doc_id",
        F.col("record.text_mod.lang").alias("lang"),
        F.col("record.vec_mod.label").alias("label"),
        F.size(F.split("record.text_mod.text", " ")).alias("text_tokens"),
        F.round(norm, 6).alias("vec_norm"),
        F.octet_length("record.media_mod.data").alias("media_bytes"),
    )


@register(
    "x_mm_binary_decode",
    oracle="""
    -- mean_byte sums the UTF-8 BYTES (hex-pair walk over the encoded
    -- blob), matching the Spark side's np.frombuffer(uint8): a per-
    -- CHARACTER ascii() sum only coincides on pure-ASCII text (corpus
    -- fuzz hostile-text probe, r17: 'café' diverged)
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n,
               hex(encode(text)) AS h
        FROM documents
    )
    SELECT doc_id,
           n AS n_bytes,
           n % 640 AS width,
           (n * 7) % 480 AS height,
           CASE WHEN n = 0 THEN NULL
                ELSE round(list_sum(list_transform(generate_series(1, n),
                       i -> ((strpos('0123456789ABCDEF',
                                     substr(h, 2*i-1, 1)) - 1) * 16
                           + (strpos('0123456789ABCDEF',
                                     substr(h, 2*i, 1)) - 1))::DOUBLE))
                     / n, 4) END AS mean_byte
    FROM b
    """,
)
def x_mm_binary_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode + feature extraction over Arrow batches: the opaque
    bytes cross into Python once per batch (``mapInPandas``), numpy reads
    each buffer (``np.frombuffer``) for byte-level features, and the result
    carries the decoded metadata schema.  The "format" is the deterministic
    fake (dimensions derived from length, mean byte value as the feature) —
    a real codec replaces only the per-buffer body (see
    ``decode_image_real``).  Narrow plan: scan → project → mapInPandas,
    no shuffle."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("img")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            bufs = pdf["img"]
            n = bufs.map(len).astype("int32")
            # Half-up rounding to match SQL round() — numpy/python round is
            # half-even and diverges on exact ties (e.g. 93.90625).
            mean = bufs.map(
                lambda b: np.floor(
                    float(np.frombuffer(b, np.uint8).sum()) / len(b) * 1e4 + 0.5
                )
                / 1e4
                if len(b)
                else None
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "width": (n % 640).astype("int32"),
                    "height": ((n * 7) % 480).astype("int32"),
                    "mean_byte": mean.astype("float64"),
                }
            )

    return docs.mapInPandas(
        decode, "doc_id long, n_bytes int, width int, height int, mean_byte double"
    )


@register(
    "x_mm_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(ceil(octet_length(encode(text))::DOUBLE / {FRAME_BYTES})
                AS INT) AS n_frames,
           CAST(ceil(ceil(octet_length(encode(text))::DOUBLE / {FRAME_BYTES})
                / {FRAME_STRIDE}) AS INT) AS n_sampled
    FROM documents WHERE octet_length(encode(text)) > 0
    """,
)
def x_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a byte stream (the video-modality shape): chunk
    each buffer into fixed-size frames, keep every ``FRAME_STRIDE``-th.
    Runs in the same Arrow-batch pattern as the decode; at scale the
    sampled frames (not counts) would be exploded to rows downstream —
    counts keep the fixture oracle exact."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
                frames = [
                    buf[i : i + FRAME_BYTES]
                    for i in range(0, len(buf), FRAME_BYTES)
                ]
                if not frames:
                    continue
                sampled = frames[::FRAME_STRIDE]
                out.append((doc_id, len(frames), len(sampled)))
            if out:
                yield pd.DataFrame(
                    out, columns=["doc_id", "n_frames", "n_sampled"]
                )

    return docs.mapInPandas(sample, "doc_id long, n_frames int, n_sampled int")


#: Resize target (the ubiquitous vision-model input square).
RESIZE_TARGET = 224

#: Audio chunking: 32-byte windows advancing 16 bytes (50% overlap).
AUDIO_CHUNK = 32
AUDIO_STRIDE = 16


@register(
    "x_mm_image_resize",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               octet_length(encode(text)) % 640 AS width,
               (octet_length(encode(text)) * 7) % 480 AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST(floor(width * least({RESIZE_TARGET}.0 / width,
                                    {RESIZE_TARGET}.0 / height)) AS INT) AS out_w,
           CAST(floor(height * least({RESIZE_TARGET}.0 / width,
                                     {RESIZE_TARGET}.0 / height)) AS INT) AS out_h
    FROM dims WHERE width > 0 AND height > 0
    """,
)
def x_mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning (fit-within-224×224, the standard
    vision-model preprocessing step): decode dims from the buffer, scale =
    min(T/w, T/h), output dims = floor(dim × scale).  The batch function
    is where a real resampler (PIL/torchvision) would run per buffer —
    the fake computes only the geometry, but the plumbing (binary in
    Arrow batches → vectorized numpy → typed out-schema, narrow plan, no
    shuffle) is exactly the production shape.  Double math is identical
    IEEE ops in numpy and the oracle, so floor() agrees bit-for-bit."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("img")
    )

    def plan_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = float(RESIZE_TARGET)
        for pdf in batches:
            if pdf.empty:
                continue
            if _PILImage is None:
                # no codec: byte-fake geometry, fully vectorized
                n = pdf["img"].map(len).to_numpy(dtype="int64")
                w = (n % 640).astype("int64")
                h = ((n * 7) % 480).astype("int64")
            else:
                # codec installed: per-payload decode through the dispatch
                # seam (a codec is inherently per-image; ingress is still
                # one Arrow batch, not a row-at-a-time UDF)
                wh = np.array(
                    [_decode_geometry(b) for b in pdf["img"]], dtype="int64"
                ).reshape(-1, 2)
                w, h = wh[:, 0], wh[:, 1]
            keep = (w > 0) & (h > 0)
            w, h, ids = w[keep], h[keep], pdf["doc_id"].to_numpy()[keep]
            if not len(ids):
                continue
            scale = np.minimum(t / w, t / h)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "out_w": np.floor(w * scale).astype("int32"),
                    "out_h": np.floor(h * scale).astype("int32"),
                }
            )

    return docs.mapInPandas(
        plan_resize, "doc_id long, width int, height int, out_w int, out_h int"
    )


@register(
    "x_mm_audio_chunk",
    oracle=f"""
    WITH hx AS (
        -- UTF-8 BYTES, not characters: the engine frames np.frombuffer
        -- over encode(text), so a non-ASCII fixture char must contribute
        -- its multi-byte encoding here too (hex-pair parse of the blob).
        SELECT doc_id, hex(encode(text)) AS hs, octet_length(encode(text)) AS n
        FROM documents
    ),
    b AS (
        SELECT doc_id,
               list_transform(generate_series(1, n),
                   i -> ((strpos('0123456789ABCDEF', substr(hs, 2*i-1, 1)) - 1) * 16
                        + strpos('0123456789ABCDEF', substr(hs, 2*i, 1)) - 1)::DOUBLE) AS v
        FROM hx
    ),
    starts AS (
        SELECT doc_id, v, i
        FROM b, unnest(generate_series(1, len(v) - {AUDIO_CHUNK - 1},
                                       {AUDIO_STRIDE})) AS r(i)
        WHERE len(v) >= {AUDIO_CHUNK}
    )
    SELECT doc_id, (i - 1) // {AUDIO_STRIDE} AS chunk_id,
           round(sqrt(list_sum(list_transform(v[i:i+{AUDIO_CHUNK - 1}],
                 x -> x * x)) / {AUDIO_CHUNK}), 4) AS rms
    FROM starts
    """,
)
def x_mm_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality chunking: overlapping fixed-size windows over the
    sample stream (32-byte windows, 16-byte stride) with per-window RMS —
    the feature-extraction shape of every audio pipeline (VAD, loudness
    normalization, spectrogram framing).  One ``mapInPandas`` pass:
    buffers cross into Python per Arrow batch, ``sliding_window_view``
    frames them without copying, and the RMS is exact on both engines
    (byte squares and their 32-term sums are integers < 2^53, so the
    double math has no rounding freedom before the final sqrt)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("audio")
    )

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            if pdf.empty:
                continue
            out_ids, out_chunks, out_rms = [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["audio"]):
                if len(buf) < AUDIO_CHUNK:
                    continue
                v = np.frombuffer(buf, np.uint8).astype("float64")
                wins = sliding_window_view(v, AUDIO_CHUNK)[::AUDIO_STRIDE]
                rms = np.round(np.sqrt((wins**2).sum(axis=1) / AUDIO_CHUNK), 4)
                out_ids.extend([doc_id] * len(rms))
                out_chunks.extend(range(len(rms)))
                out_rms.extend(rms)
            if out_ids:
                yield pd.DataFrame(
                    {"doc_id": out_ids, "chunk_id": out_chunks, "rms": out_rms}
                )

    return docs.mapInPandas(chunk, "doc_id long, chunk_id long, rms double")


@register(
    "x_mm_dedup_binary",
    oracle="""
    SELECT md5(text) AS content_md5,  -- md5(VARCHAR) hashes UTF-8 bytes
           min(doc_id) AS canonical_id,
           count(*)::BIGINT AS n_copies,
           min(octet_length(encode(text)))::BIGINT AS n_bytes
    FROM documents
    GROUP BY 1
    """,
)
def x_mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over an opaque BINARY payload by content digest — the
    multimodal counterpart of ``x_llm_dedup_exact``: image/audio blobs
    can't be compared as text, so the canonical key is ``md5(bytes)``
    and the group carries the lowest owning id, the copy count, and the
    payload size.  The binary modality here is the same deterministic
    UTF-8 synthesis as ``x_mm_record``'s media column, so the DuckDB
    oracle replays the digest bit-for-bit.

    This IS the 'hash first, compare within bucket' two-phase shape of
    the text dedup: the shuffle key is a 16-byte digest, never the
    payload — the exchange moves digests, not media bytes, and a
    (vanishingly rare) digest collision is resolved by a within-bucket
    byte compare that touches only colliding groups."""
    data = F.encode(F.col("text"), "UTF-8")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(data).alias("content_md5"),
            F.octet_length(data).cast("bigint").alias("_bytes"),
        )
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.min("_bytes").alias("n_bytes"),
        )
    )
