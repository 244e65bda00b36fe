"""Multimodal columns: image/audio/video as opaque binary + typed metadata
(SURVEY §2.11).

Design for 100 TB: media bytes live in a ``content BINARY`` column (or an
object-store URI column for >row-group-sized blobs) beside typed metadata
(modality, mime, width/height/duration).  Decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` stages so bytes
stream executor-side in columnar batches and never concentrate on the
driver.  Partition by content-size-balanced buckets, not row count, so one
task doesn't absorb all the large blobs.

The decode kernels themselves need image/audio libs not present in this
container, so they are STUBBED behind ``_decode_image_stub`` (deterministic
fake, clearly marked); the Spark-side plumbing — schema, batch iteration,
UDF signatures, metadata extraction — is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ago_sisdb_spark.materialize import spread

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("uri", T.StringType(), True),  # object-store ref for big blobs
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, modality string, n_bytes int, magic string,"
    " feature array<float>, error string"
)


def attach_binary_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap metadata pass (no decode): byte length + magic-number sniff,
    pure column expressions."""
    c = F.col(content_col)
    magic = F.hex(F.substring(c, 1, 4))
    return df.withColumn("n_bytes", F.length(c)).withColumn(
        "magic",
        F.when(magic.startswith("FFD8"), "jpeg")
        .when(magic.startswith("89504E47"), "png")
        .when(magic.startswith("52494646"), "riff-wav")
        .when(magic.startswith("00000018") | magic.startswith("00000020"), "mp4")
        .otherwise("unknown"),
    )


def _decode_image_stub(buf: bytes) -> tuple[list[float] | None, str | None]:
    """STUB: deterministic fake 8-dim feature in place of a real decoder.

    Real deployment: ``PIL.Image.open(io.BytesIO(buf))`` → resize →
    normalize → model features.  This container has no imaging libs, so the
    stub hashes fixed byte positions into a stable vector — keeps the
    pipeline shape (bytes → fixed-width float vector) real and testable.

    Null-safe by contract: a poisoned blob (None/empty/decoder error) yields
    ``(None, error_message)`` — never an exception, because one bad row must
    not fail a 100 TB job.  Callers route errors via the ``error`` column.
    """
    if buf is None:
        return None, "null-content"
    if len(buf) == 0:
        return None, "empty-content"
    try:
        step = max(len(buf) // 8, 1)
        return [
            float(buf[min(i * step, len(buf) - 1)]) / 255.0 for i in range(8)
        ], None
    except Exception as e:  # real decoders raise on corrupt media
        return None, f"decode-error: {e}"


def extract_features(df: DataFrame, batch_limit: int = 1024) -> DataFrame:
    """Decode + featurize media rows via Arrow-batched mapInPandas.

    Batch shape: Arrow caps the frames the iterator yields at
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (records), but blob
    SIZES vary wildly — ``batch_limit`` additionally slices each frame
    before decoding, so peak executor memory is bounded by
    batch_limit × max blob size regardless of the Arrow record cap
    (r8: the parameter previously existed but was never applied).
    """
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # empty partitions: dtype-less frames break Arrow
                continue
            for lo in range(0, len(pdf), batch_limit):
                sl = pdf.iloc[lo:lo + batch_limit]
                decoded = [
                    _decode_image_stub(
                        b if b is None or isinstance(b, bytes) else bytes(b)
                    )
                    for b in sl["content"]
                ]
                yield pd.DataFrame(
                    {
                        "media_id": sl["media_id"],
                        "modality": sl["modality"],
                        "n_bytes": [
                            len(b) if b is not None else 0 for b in sl["content"]
                        ],
                        "magic": [
                            bytes(b)[:2].hex() if b is not None else ""
                            for b in sl["content"]
                        ],
                        "feature": [f for f, _ in decoded],
                        "error": [e for _, e in decoded],
                    }
                )

    return spread(df.select("media_id", "modality", "content")).mapInPandas(
        run, FEATURE_SCHEMA
    )


RESIZE_SCHEMA = (
    "media_id long, width int, height int, content binary, n_bytes_out int"
)


def _resize_stub(buf: bytes, width: int, height: int) -> bytes | None:
    """STUB resize kernel: real deployment decodes, resamples (PIL/opencv),
    re-encodes.  The deterministic fake scales the byte budget by the pixel
    ratio against a nominal 64×64 source — keeps the contract (bytes in,
    smaller bytes out, deterministic) testable without imaging libs.
    Null-safe: a missing blob yields a null row, not an exception."""
    if buf is None or len(buf) == 0:
        return None
    target = max(1, int(len(buf) * (width * height) / (64 * 64)))
    return bytes(buf[:target])


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage as Arrow-batched mapInPandas — the shape of every
    transcode step at 100 TB: bytes stream executor-side per batch, output
    rows carry the new typed metadata beside the new bytes."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = [
                _resize_stub(
                    b if b is None or isinstance(b, bytes) else bytes(b),
                    width,
                    height,
                )
                for b in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "content": out,
                    "n_bytes_out": [len(b) if b is not None else 0 for b in out],
                }
            )

    return spread(df.select("media_id", "content")).mapInPandas(run, RESIZE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n_seconds: int = 5) -> DataFrame:
    """Video frame-sampling *plan*: one output row per planned frame via
    sequence+explode on the duration metadata — the real decoder (stubbed)
    would fill ``frame_content``.  Shows the partitioning shape: explode
    happens executor-side, fan-out is bounded by duration/step."""
    dur = F.coalesce(
        F.element_at(F.col("meta"), "duration_s").cast("int"), F.lit(0)
    )
    return df.where(F.col("modality") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(dur - 1, F.lit(0)), F.lit(every_n_seconds))
        ).alias("frame_ts"),
        F.lit(None).cast("binary").alias("frame_content"),
    )
