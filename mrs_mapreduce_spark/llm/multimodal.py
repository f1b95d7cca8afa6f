"""Multimodal (binary) columns: typed payload + metadata + decode plumbing.

SURVEY.md §2.D D5. Design: media lives in opaque ``binary`` columns with a
typed metadata struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages. A real decoder
plugs in through ``decode_frames(mm, codec=...)``, the seam
examples/multimodal_codec.py uses with PIL when importable; the package
itself needs no image library, and its real-codec path is the
pure-Python BMP and RIFF/WAVE codecs in ``llm/codecs.py``:
``multimodal_bmp_roundtrip`` / ``multimodal_wav_roundtrip`` encode genuine
spec-conformant files and decode them by PARSING (magic, strides, padding,
chunk walk), end-to-end inside one Arrow stage with exact SQL oracles.
The remaining fake-decode queries keep their role: bit-exact plumbing
checks for schema, batch shape and partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, table
from ..registry import register

#: result schema of the decode stage — what a real image decoder would emit
DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, kind string"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Fixture documents → multimodal rows: binary payload + metadata struct.

    The payload is a deterministic 16-byte pseudo-image (md5 of the text);
    real pipelines read ``spark.read.format("binaryFile")`` or parquet
    binary columns — identical schema from there on.
    """
    return fan_out(docs).select(
        "doc_id",
        F.unhex(F.md5("text")).alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.length(F.unhex(F.md5("text"))).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def decode_frames(mm: DataFrame, codec=None) -> DataFrame:
    """Arrow-batched decode stage over binary payloads (mapInPandas).

    ``codec`` is the REAL seam: a
    ``Callable[[bytes], tuple[int, int]]`` returning (width, height) of
    an actually-encoded payload — examples/multimodal_codec.py passes a
    PIL decoder when importable and a stdlib PNG-header parser
    otherwise, running genuine image bytes through this exact stage.
    Without a codec the stage runs a fake decode: deterministic
    arithmetic on the payload's first bytes — enough to exercise schema,
    batch shape and partitioning with a bit-exact SQL oracle.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if codec is not None:
                # None payload -> NULL dims (the oracle's md5(NULL)
                # propagation; r11 stress-fixture sweep), nullable Int32
                dims = [
                    None if b is None else codec(bytes(b))
                    for b in pdf["payload"]
                ]
                width = pd.Series(
                    [None if d is None else d[0] for d in dims],
                    dtype="Int32", index=pdf.index,
                )
                height = pd.Series(
                    [None if d is None else d[1] for d in dims],
                    dtype="Int32", index=pdf.index,
                )
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "width": width,
                        "height": height,
                        # int64 BEFORE the multiply: int32*int32 wraps in int32
                        # first, an overflow trap for codecs returning
                        # large frames (8k video: 33M px fits, but a
                        # stitched panorama would not fit squared terms)
                        "n_pixels": width.astype("Int64") * height,
                        "kind": pdf["meta"].map(lambda m: m["mime"]),
                    }
                )
                continue
            payloads = pdf["payload"]
            # None payload -> NULL dims (oracle md5(NULL) propagation)
            width = payloads.map(
                lambda b: None if b is None else b[0] % 64 + 16
            ).astype("Int32")
            height = payloads.map(
                lambda b: None if b is None else b[1] % 64 + 16
            ).astype("Int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": width,
                    "height": height,
                    # int64 BEFORE the multiply, as in the codec branch
                    "n_pixels": width.astype("Int64") * height,
                    "kind": pdf["meta"].map(lambda m: m["mime"]),
                }
            )

    return mm.mapInPandas(decode, schema=DECODE_SCHEMA)


@register(
    "multimodal_struct",
    oracle="""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE 16 END AS n_bytes,
           substr(md5(text), 1, 8) AS hex8,
           'image/fake' AS mime,
           source AS origin
    FROM documents
    """,
    survey="D5 (binary payload + typed metadata struct)",
    scale="""
    Binary stays opaque and columnar; metadata is a struct column so
    filters on mime/origin prune without touching payload bytes (parquet
    column pruning works through struct fields). At 100 TB payloads
    dominate bytes: partition by a metadata key, never shuffle payloads
    through a groupBy — aggregate metadata only.
    """,
)
def multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row shape: scalar projections of payload + struct meta."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.lower(F.hex(F.substring("payload", 1, 4))).alias("hex8"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.origin").alias("origin"),
    )


@register(
    "multimodal_decode",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1
                 AS byte0,
             (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1
                 AS byte1
      FROM documents)
    SELECT doc_id,
           CAST(byte0 % 64 + 16 AS INT) AS width,
           CAST(byte1 % 64 + 16 AS INT) AS height,
           CAST((byte0 % 64 + 16) * (byte1 % 64 + 16) AS BIGINT) AS n_pixels,
           'image/fake' AS kind
    FROM b
    """,
    survey="D5 (mapInPandas decode plumbing, deterministic fake codec)",
    scale="""
    The decode stage is where 100 TB multimodal pipelines live or die:
    Arrow-batched mapInPandas moves payload batches to Python once, emits
    small typed rows, and drops the binary immediately after — downstream
    stages shuffle metadata, not media. Batch size is governed by
    spark.sql.execution.arrow.maxRecordsPerBatch; oversized payloads get
    repartitioned by byte budget before this stage.
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode stub through real mapInPandas plumbing, SQL-verifiable."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return decode_frames(mm)


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, new_w int, new_h int, "
    "out_pixels bigint"
)


def resize_frames(mm: DataFrame, box: int = 32, codec=None) -> DataFrame:
    """Aspect-preserving resize stage (mapInPandas, integer math).

    Fits the longer side to ``box`` with floor division — pure-integer
    math so the fake stage has a bit-exact SQL oracle. ``codec`` swaps
    in a real decoder for the source dimensions (see
    examples/multimodal_codec.py, which also performs the actual PIL
    pixel resize when PIL is importable) with identical batch plumbing.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            if codec is not None:
                dims = [
                    None if b is None else codec(bytes(b))
                    for b in payloads
                ]
                w = pd.Series(
                    [None if d is None else d[0] for d in dims],
                    dtype="Int32", index=pdf.index,
                )
                h = pd.Series(
                    [None if d is None else d[1] for d in dims],
                    dtype="Int32", index=pdf.index,
                )
            else:
                # None payload -> NULL dims (r11 stress-fixture sweep)
                w = payloads.map(
                    lambda b: None if b is None else b[0] % 64 + 16
                ).astype("Int32")
                h = payloads.map(
                    lambda b: None if b is None else b[1] % 64 + 16
                ).astype("Int32")
            long_side = w.where(w >= h, h)
            # widen BEFORE the multiply: w * box wraps silently in an
            # int32 pandas product for codec-seam dimensions (the same
            # overflow decode_frames is hardened against -- r11 review)
            w64 = w.astype("Int64")
            h64 = h.astype("Int64")
            new_w = (w64 * box // long_side.astype("Int64")).astype("Int64")
            new_h = (h64 * box // long_side.astype("Int64")).astype("Int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "new_w": new_w.astype("Int32"),
                    "new_h": new_h.astype("Int32"),
                    "out_pixels": new_w * new_h,
                }
            )

    return mm.mapInPandas(resize, schema=RESIZE_SCHEMA)


@register(
    "multimodal_resize",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 2))::INT % 64 + 16 AS w,
             ('0x' || substr(md5(text), 3, 2))::INT % 64 + 16 AS h
      FROM documents)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * 32 // greatest(w, h) AS INT) AS new_w,
           CAST(h * 32 // greatest(w, h) AS INT) AS new_h,
           CAST((w * 32 // greatest(w, h))
                * (h * 32 // greatest(w, h)) AS BIGINT) AS out_pixels
    FROM b
    """,
    survey="D5 (resize stage: aspect-preserving, Arrow-batched)",
    scale="""
    Resize is compute-bound, not shuffle-bound: a narrow mapInPandas
    stage that never moves data between executors — scales linearly with
    cores at any TB count. The contract that matters at 100 TB is batch
    sizing (arrow.maxRecordsPerBatch vs payload size) so one Arrow batch
    of decoded images fits executor-python memory; the integer-math fake
    keeps the stage oracle-checkable while the real-codec seam swaps in
    PIL without touching the plan.
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stub through real mapInPandas plumbing, SQL-verifiable."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return resize_frames(mm)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, pixel int"


def sample_frames(mm: DataFrame) -> DataFrame:
    """Frame-sampling stage: payload = 16 1-byte fake frames.

    Emits every 4th frame as (doc_id, frame_idx, pixel) — the
    1:n row explosion a real video sampler produces, with deterministic
    bytes so the output is SQL-checkable. A real ffmpeg seam would yield
    JPEG bytes per kept frame instead of one fake pixel.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_px = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # no payload -> no frames
                    continue
                for i in range(0, 16, 4):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_px.append(payload[i])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "pixel": pd.Series(out_px, dtype="int32"),
                }
            )

    return mm.mapInPandas(sample, schema=FRAME_SCHEMA)


@register(
    "multimodal_framesample",
    oracle="""
    SELECT d.doc_id, CAST(g.i AS INT) AS frame_idx,
           ('0x' || substr(md5(d.text), 2 * g.i + 1, 2))::INT AS pixel
    FROM documents d CROSS JOIN generate_series(0, 12, 4) AS g(i)
    WHERE d.text IS NOT NULL
    """,
    survey="D5 (frame-sample stage: 1:n video sampling, Arrow-batched)",
    scale="""
    Frame sampling explodes rows 4x here and ~1000x for real video —
    the stage to budget shuffle around. Keeping it mapInPandas (narrow)
    means the explosion happens AFTER any filter pushdown on metadata
    and BEFORE any shuffle; downstream aggregations see small typed
    frames, and the sampled-frame stream partitions by doc_id for
    per-video rollups without moving source bytes.
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampler through real mapInPandas plumbing, SQL-verifiable."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return sample_frames(mm)


AUDIO_SCHEMA = "doc_id bigint, win int, energy bigint"


def window_energy(mm: DataFrame) -> DataFrame:
    """Audio-style windowed energy over binary payloads (mapInPandas 1:n).

    Treats the 16-byte payload as 8 unsigned 16-bit PCM samples and emits
    one row per 2-sample window with its integer energy (sum of squares)
    — the frame-windowing shape of a real audio feature extractor; a
    real audio decoder is out of scope (``multimodal_wav_roundtrip``
    parses genuine WAV bytes instead).
    """

    def extract(batches):
        for pdf in batches:
            out = {"doc_id": [], "win": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # no payload -> no windows
                    continue
                samples = [
                    payload[2 * i] * 256 + payload[2 * i + 1]
                    for i in range(8)
                ]
                for w in range(4):
                    s1, s2 = samples[2 * w], samples[2 * w + 1]
                    out["doc_id"].append(doc_id)
                    out["win"].append(w)
                    out["energy"].append(s1 * s1 + s2 * s2)
            yield pd.DataFrame(out)

    return mm.mapInPandas(extract, schema=AUDIO_SCHEMA)


@register(
    "multimodal_audio_energy",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents
               WHERE text IS NOT NULL),
    win AS (SELECT doc_id, g.w,
                   ('0x' || substr(hx, 8 * g.w + 1, 4))::BIGINT AS s1,
                   ('0x' || substr(hx, 8 * g.w + 5, 4))::BIGINT AS s2
            FROM h CROSS JOIN generate_series(0, 3) AS g(w))
    SELECT doc_id, CAST(w AS INT) AS win,
           CAST(s1 * s1 + s2 * s2 AS BIGINT) AS energy
    FROM win
    """,
    survey="D5 (audio-style frame windowing over binary payloads)",
    scale="""
    The audio twin of multimodal_framesample: payload bytes window into
    fixed-size PCM frames inside an Arrow-batched mapInPandas (1:n, no
    shuffle — the fan-out is pipelined), integer energies per frame.
    With a real codec the same stage decodes then windows; the schema,
    batch shape and partitioning are what production needs. At 100 TB
    compute features BEFORE any shuffle and drop the payload column
    immediately after — frames/features are orders of magnitude smaller
    than raw audio, exactly like dropping decoded pixels after resize.
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window integer energies of the fake-PCM payload (4 per doc)."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return window_energy(mm)


BMP_ROUNDTRIP_SCHEMA = (
    "doc_id bigint, width int, height int, n_pixels bigint, "
    "channel_sum bigint"
)


def bmp_roundtrip(mm: DataFrame) -> DataFrame:
    """Encode a REAL 24-bit BMP per row, then decode it by parsing.

    The real-codec branch made honest without PIL (r7 verdict Missing
    #2): pixels are deterministic integer math on the payload bytes
    (w = b0 % 12 + 4, h = b1 % 12 + 4, gray(x, y) = (b2 + x + 2y) %
    256), the encoder writes a spec-conformant file (bottom-up padded
    BGR rows), and the decoder REPARSES those bytes — magic, pixel
    offset, stride, padding skip — rather than remembering what was
    encoded. A corrupted stride or padding bug changes channel_sum,
    which the SQL oracle pins exactly.
    """
    from ..mapreduce import _ensure_code_shipped

    _ensure_code_shipped(mm.sparkSession.sparkContext)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mrs_mapreduce_spark.llm.codecs import (
            decode_bmp,
            encode_bmp_gray24,
        )

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "n_pixels": [], "channel_sum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # oracle's px CTE drops NULL docs
                    continue
                b = bytes(payload)
                w, h, b2 = b[0] % 12 + 4, b[1] % 12 + 4, b[2]
                bmp = encode_bmp_gray24(
                    w, h, lambda x, y: (b2 + x + 2 * y) % 256
                )
                dw, dh, csum = decode_bmp(bmp)
                out["doc_id"].append(doc_id)
                out["width"].append(dw)
                out["height"].append(dh)
                out["n_pixels"].append(dw * dh)
                out["channel_sum"].append(csum)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "n_pixels": pd.Series(out["n_pixels"], dtype="int64"),
                    "channel_sum": pd.Series(
                        out["channel_sum"], dtype="int64"
                    ),
                }
            )

    return mm.mapInPandas(stage, schema=BMP_ROUNDTRIP_SCHEMA)


@register(
    "multimodal_bmp_roundtrip",
    oracle="""
    WITH b AS (SELECT doc_id,
                      ('0x' || substr(md5(text), 1, 2))::INT % 12 + 4 AS w,
                      ('0x' || substr(md5(text), 3, 2))::INT % 12 + 4 AS h,
                      ('0x' || substr(md5(text), 5, 2))::INT AS b2
               FROM documents),
    px AS (SELECT doc_id, w, h, (b2 + x.i + 2 * y.i) % 256 AS v
           FROM b
           CROSS JOIN generate_series(0, 14) AS x(i)
           CROSS JOIN generate_series(0, 14) AS y(i)
           WHERE x.i < w AND y.i < h)
    SELECT doc_id,
           CAST(max(w) AS INT) AS width,
           CAST(max(h) AS INT) AS height,
           CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
           CAST(3 * sum(v) AS BIGINT) AS channel_sum
    FROM px GROUP BY doc_id
    """,
    survey="D5/E82 (REAL image codec branch: spec-conformant BMP "
    "encode → header/stride parse decode, end-to-end in one Arrow "
    "stage — the codec seam exercised without PIL)",
    scale="""
    The real-codec twin of multimodal_decode: genuine file bytes flow
    through the stage, and the decode is a parse (magic, pixel-array
    offset, 4-byte row stride with padding SKIPPED, bottom-up rows).
    Plan shape is the production one — encode+decode fused in ONE
    narrow mapInPandas so raw media bytes never cross a stage
    boundary, only typed features leave. At 100 TB the encoder half
    is replaced by reading real files (binaryFile / parquet binary)
    and the decoder half by PIL/ffmpeg behind the same codec seam;
    batch sizing and schema are identical. channel_sum is the witness
    that the PIXELS round-tripped, not just the dimensions — a
    stride/padding bug moves it.
    """,
)
def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP encode→parse round trip per document (pure-Python codec)."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return bmp_roundtrip(mm)


WAV_ROUNDTRIP_SCHEMA = (
    "doc_id bigint, rate int, win int, energy bigint"
)


def wav_roundtrip_energy(mm: DataFrame) -> DataFrame:
    """Encode REAL RIFF/WAVE PCM16 per row, chunk-walk decode, window.

    Samples are the payload's 8 big-endian uint16s reduced mod 2^15
    (PCM16 is signed); the decoder walks RIFF chunks — fmt validated
    from bytes actually read, data located by chunk id, odd sizes
    padded — then the decoded samples window into per-pair energies.
    The emitted rate comes from the PARSED fmt chunk, witnessing the
    header round trip alongside the sample values.
    """
    from ..mapreduce import _ensure_code_shipped

    _ensure_code_shipped(mm.sparkSession.sparkContext)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mrs_mapreduce_spark.llm.codecs import (
            decode_wav_pcm16,
            encode_wav_pcm16,
        )

        for pdf in batches:
            out = {"doc_id": [], "rate": [], "win": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # no payload -> no windows
                    continue
                b = bytes(payload)
                samples = [
                    (b[2 * i] * 256 + b[2 * i + 1]) % 32768 for i in range(8)
                ]
                rate, decoded = decode_wav_pcm16(
                    encode_wav_pcm16(samples, rate=8000)
                )
                for w in range(4):
                    s1, s2 = decoded[2 * w], decoded[2 * w + 1]
                    out["doc_id"].append(doc_id)
                    out["rate"].append(rate)
                    out["win"].append(w)
                    out["energy"].append(s1 * s1 + s2 * s2)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "rate": pd.Series(out["rate"], dtype="int32"),
                    "win": pd.Series(out["win"], dtype="int32"),
                    "energy": pd.Series(out["energy"], dtype="int64"),
                }
            )

    return mm.mapInPandas(stage, schema=WAV_ROUNDTRIP_SCHEMA)


@register(
    "multimodal_wav_roundtrip",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents
               WHERE text IS NOT NULL),
    win AS (SELECT doc_id, g.w,
                   ('0x' || substr(hx, 8 * g.w + 1, 4))::BIGINT % 32768 AS s1,
                   ('0x' || substr(hx, 8 * g.w + 5, 4))::BIGINT % 32768 AS s2
            FROM h CROSS JOIN generate_series(0, 3) AS g(w))
    SELECT doc_id, 8000 AS rate, CAST(w AS INT) AS win,
           CAST(s1 * s1 + s2 * s2 AS BIGINT) AS energy
    FROM win
    """,
    survey="D5/E82 (REAL audio codec branch: RIFF/WAVE PCM16 encode → "
    "chunk-walk parse decode → frame energies, without soundfile)",
    scale="""
    multimodal_audio_energy with the codec made real: the stage
    produces and REPARSES genuine WAV bytes (RIFF chunk walk, fmt
    validation, odd-chunk padding) before windowing — so the declared
    output witnesses the container format handling, not just the
    arithmetic. Same 100 TB contract as every multimodal stage:
    narrow 1:n mapInPandas, features leave, bytes don't; swap the
    encoder half for real recordings and the windowing math is
    unchanged. rate in the output comes from the parsed fmt chunk —
    a header-corruption bug fails the oracle, not just a unit test.
    """,
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV encode→parse→window-energy round trip per document."""
    mm = attach_payload(table(spark, sf_dir, "documents"))
    return wav_roundtrip_energy(mm)
