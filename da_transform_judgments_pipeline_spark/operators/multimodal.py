"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque BINARY columns with typed metadata structs, exactly
as a 100 TB training-data pipeline would: the Spark-side schema,
partitioning, Arrow batch shape, and UDF signatures are real and tested.
``real_decode=True`` paths run REAL pure-stdlib/numpy codecs
(:mod:`.imagecodec` PPM/PGM/BMP/PNG/GIF, :mod:`.jpegcodec` baseline
and progressive JPEG, :mod:`.audiocodec` WAV/PCM, :mod:`.videocodec`
Y4M) — actual pixel/sample math. Formats that genuinely need a codec
library this container lacks (MP3/H.264, WebP) raise a typed error
naming the sniffed format; the default fake-decode
path keeps plumbing testable on arbitrary bytes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def media_catalog(files: DataFrame, kind: str, mime: str | None = None) -> DataFrame:
    """Wrap a binaryFile scan as a typed media table (schema above)."""
    return files.select(
        F.xxhash64("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit(mime).alias("mime"),
        F.col("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def _fake_decode(blob: bytes, dim: int) -> list[float]:
    """STUB: deterministic fake 'decoded feature' — a real deployment swaps
    this for PIL/ffmpeg/torchaudio decode + model embed. Derived from content
    bytes so results are stable and testable."""
    acc = 2166136261
    out = []
    step = max(1, len(blob) // dim) if blob else 1
    for i in range(dim):
        chunk = blob[i * step : (i + 1) * step] or b"\x00"
        h = acc
        for b in chunk[:16]:
            h = ((h ^ b) * 16777619) & 0xFFFFFFFF
        out.append((h % 10_000) / 10_000.0)
    return out


def _check_on_error(on_error: str) -> bool:
    if on_error not in ("raise", "report"):
        raise ValueError(
            f"on_error must be 'raise' or 'report', not {on_error!r}"
        )
    return on_error == "report"


def extract_features(
    media: DataFrame,
    dim: int = 16,
    real_decode: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Decode/feature-extract over mapInPandas (Arrow-batched; one batch of
    media rows per invocation — the shape a GPU decode stage needs).

    ``real_decode=True`` runs the REAL codec (:mod:`.imagecodec`):
    PPM/PGM, 24/32-bit BMP, full stdlib PNG (zlib inflate + all five
    scanline filters), GIF87a/89a (LZW + palette + interlace), and
    baseline/progressive JPEG (:mod:`.jpegcodec`) decode to
    actual pixels; features are per-channel moments + a resampled luma
    grid. Formats that need a codec library this container lacks
    (WebP) raise :class:`.imagecodec.
    UnsupportedImageError` naming the sniffed format. The default fake
    path keeps the plumbing testable on arbitrary bytes.

    ``on_error="report"`` isolates undecodable blobs instead of failing
    the job (same contract as :func:`..sources.archive.unzip`): an
    ``error`` column is appended (NULL on success), a failed decode
    yields its row with feature=NULL and the exception message — one
    corrupt object must not fail a million-object batch.
    """
    report = _check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        if real_decode:
            from . import imagecodec

        for pdf in batches:
            blobs = [bytes(b) if b is not None else b"" for b in pdf["content"]]
            feats: list = []
            errs: list = []
            for b in blobs:
                try:
                    if real_decode:
                        feats.append(
                            imagecodec.image_features(
                                imagecodec.decode_image(b), dim
                            )
                        )
                    else:
                        feats.append(_fake_decode(b, dim))
                    errs.append(None)
                except Exception as e:
                    if not report:
                        raise
                    feats.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            out = {
                "media_id": pdf["media_id"],
                "n_bytes": [len(b) for b in blobs],
                "sha256": [hashlib.sha256(b).hexdigest() for b in blobs],
                "feature": feats,
            }
            if report:
                out["error"] = errs
            yield pd.DataFrame(out)

    schema = (
        T.StructType(
            FEATURE_SCHEMA.fields
            + [T.StructField("error", T.StringType(), True)]
        )
        if report
        else FEATURE_SCHEMA
    )
    return media.select("media_id", "content").mapInPandas(run, schema=schema)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    real_decode: bool = False,
) -> DataFrame:
    """Image resize over mapInPandas. ``real_decode=True`` decodes,
    nearest-neighbor-resizes, and re-encodes (as binary PPM) through the
    pure-numpy codec (:mod:`.imagecodec`) for uncompressed input formats;
    compressed formats raise :class:`.imagecodec.UnsupportedImageError`
    naming what a codec library would be needed for. The default path is
    the byte-passthrough stub (plumbing testable on arbitrary bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real_decode:
            from . import imagecodec

        for pdf in batches:
            if real_decode:
                content = [
                    imagecodec.encode_ppm(
                        imagecodec.resize_nearest(
                            imagecodec.decode_image(bytes(b)), width, height
                        )
                    )
                    for b in pdf["content"]
                ]
            else:
                # STUB passthrough: swap in a codec-library decode/resize/
                # re-encode for compressed formats here.
                content = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": content,
                    "width": width,
                    "height": height,
                }
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema="media_id long, content binary, width int, height int"
    )


AUDIO_FEATURE_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, duration_ms double,"
    " rms double, peak double, zcr double"
)


def audio_clip_features(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """REAL audio decode + per-clip features over mapInPandas: WAV
    (RIFF/PCM 16-bit, G.711) and FLAC (the pure-stdlib RFC 9639
    decoder — CRCs and STREAMINFO MD5 re-verified during decode) blobs
    decode through :func:`.audiocodec.decode_audio` into duration /
    RMS / peak / zero-crossing-rate — actual sample math, no external
    audio libs.  Lossy audio raises
    :class:`.audiocodec.UnsupportedAudioError` naming the sniffed
    container (MP3/OGG stay codec-library territory; faking them would
    be dishonest). Output:
    (media_id, sample_rate, n_samples, duration_ms, rms, peak, zcr).

    ``on_error="report"`` appends an ``error`` column (NULL on success)
    and emits a NULL-feature row for each undecodable clip instead of
    failing the job — the unzip report contract."""
    report = _check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import audiocodec

        cols = [
            "media_id", "sample_rate", "n_samples", "duration_ms",
            "rms", "peak", "zcr",
        ] + (["error"] if report else [])
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                try:
                    rate, samples = audiocodec.decode_audio(bytes(blob))
                    row = {
                        "media_id": mid,
                        **audiocodec.audio_features(rate, samples),
                    }
                    if report:
                        row["error"] = None
                except Exception as e:
                    if not report:
                        raise
                    row = {c: None for c in cols}
                    row["media_id"] = mid
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    schema = AUDIO_FEATURE_SCHEMA + (", error string" if report else "")
    return media.select("media_id", "content").mapInPandas(run, schema=schema)


VIDEO_FRAME_SCHEMA = (
    "media_id long, frame_no long, width int, height int, fps_num int,"
    " fps_den int, mean_luma_milli long, min_luma int, max_luma int,"
    " delta_milli long"
)


def video_frame_features(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """REAL video decode + per-frame features over mapInPandas: Y4M
    (uncompressed yuv4mpeg2) blobs decode through the pure-numpy codec
    (:mod:`.videocodec`) into one row per frame with luma statistics and
    a scene-cut delta — actual pixel math. Compressed containers raise
    :class:`.videocodec.UnsupportedVideoError` naming the sniffed format
    (MP4/MKV/AVI need a codec library; no fake decode). The fan-out row
    shape matches :func:`frame_sample_plan` — this is that plan's decode
    stage for the one container decodable without codecs.

    ``on_error="report"`` appends an ``error`` column (NULL on success);
    an undecodable blob yields ONE row (frame_no NULL, error=<message>)
    and every healthy video's frames flow through — the unzip report
    contract, so one corrupt object cannot fail a large batch."""
    report = _check_on_error(on_error)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import videocodec

        cols = [
            "media_id", "frame_no", "width", "height", "fps_num",
            "fps_den", "mean_luma_milli", "min_luma", "max_luma",
            "delta_milli",
        ] + (["error"] if report else [])
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                try:
                    w, h, num, den, luma = videocodec.decode_y4m(bytes(blob))
                    stats = list(videocodec.frame_stats(luma))
                except Exception as e:
                    if not report:
                        raise
                    row = {c: None for c in cols}
                    row["media_id"] = mid
                    row["error"] = f"{type(e).__name__}: {e}"
                    rows.append(row)
                    continue
                for st in stats:
                    row = {
                        "media_id": mid,
                        "frame_no": st["frame_no"],
                        "width": w,
                        "height": h,
                        "fps_num": num,
                        "fps_den": den,
                        "mean_luma_milli": st["mean_luma_milli"],
                        "min_luma": st["min_luma"],
                        "max_luma": st["max_luma"],
                        "delta_milli": st["delta_milli"],
                    }
                    if report:
                        row["error"] = None
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    schema = VIDEO_FRAME_SCHEMA + (", error string" if report else "")
    return media.select("media_id", "content").mapInPandas(run, schema=schema)


def audio_window_plan(
    media: DataFrame,
    window_ms: int = 1000,
    hop_ms: int = 500,
) -> DataFrame:
    """Audio feature-extraction *plan*: one row per overlapping analysis
    window (the STFT/fbank batch shape — window_ms wide, sliding by
    hop_ms), pure Catalyst (sequence + explode) so the expensive decode +
    transform fans out evenly over executors before any codec runs.
    Windows start at 0, hop_ms, 2·hop_ms, ... while they still fit
    entirely inside the clip (win_start + window_ms <= duration_ms);
    clips shorter than one window yield no rows (nothing to analyze).
    Output: (media_id, win_no, win_start_ms, win_end_ms)."""
    if window_ms < 1 or hop_ms < 1:
        raise ValueError("window_ms and hop_ms must be >= 1")
    duration = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    last_start = duration - F.lit(window_ms)
    starts = F.when(
        last_start >= 0,
        F.sequence(F.lit(0).cast("long"), last_start, F.lit(hop_ms)),
    ).otherwise(F.array().cast("array<long>"))
    return media.select(
        "media_id", F.posexplode(starts).alias("win_no", "win_start_ms")
    ).select(
        "media_id",
        F.col("win_no").cast("long").alias("win_no"),
        "win_start_ms",
        (F.col("win_start_ms") + F.lit(window_ms)).alias("win_end_ms"),
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms) the
    decode stage should materialize — pure Catalyst (sequence + explode), so
    the expensive decode fans out over executors with even partitioning."""
    duration = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), duration, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def tile_plan(
    media: DataFrame, tile_w: int = 256, tile_h: int = 256
) -> DataFrame:
    """Image tiling *plan*: one row per (media_id, tile_x, tile_y) patch
    the decode/embed stage should materialize — the patch-extraction
    fan-out every vision-training pipeline runs before a ViT-style
    encoder. Edge tiles are included (ceil division), so every pixel is
    covered; a 0-width/height or null-meta image contributes no tiles.

    Pure Catalyst (two nested sequence/explode fan-outs — no Python, no
    shuffle): the expensive per-tile decode inherits the scan's
    partitioning and spreads over executors, and Spark's nested-loop-
    free explode keeps the row expansion pipelined inside whole-stage
    codegen. Same plan-before-decode pattern as frame_sample_plan /
    audio window plan."""
    if tile_w <= 0 or tile_h <= 0:
        raise ValueError("tile dimensions must be positive")
    width = F.coalesce(F.col("meta.width"), F.lit(0)).cast("long")
    height = F.coalesce(F.col("meta.height"), F.lit(0)).cast("long")
    nx = F.floor((width + tile_w - 1) / F.lit(tile_w))
    ny = F.floor((height + tile_h - 1) / F.lit(tile_h))
    return (
        media.select("media_id", nx.alias("nx"), ny.alias("ny"))
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .select(
            "media_id",
            "ny",
            F.explode(F.sequence(F.lit(0), F.col("nx") - 1)).alias("tile_x"),
        )
        .select(
            "media_id",
            "tile_x",
            F.explode(F.sequence(F.lit(0), F.col("ny") - 1)).alias("tile_y"),
        )
    )


def modality_interleave(
    df: DataFrame,
    modality_col: str = "modality",
    id_col: str = "media_id",
    n_modalities: int | None = None,
    range_partitions: int = 32,
) -> DataFrame:
    """Deterministic modality-interleaved layout for multimodal training
    batches: row i of modality m lands at ``global_pos = i·M + m``, so a
    sequential reader sees modalities round-robin (text, image, audio,
    text, ...) instead of long single-modality runs — the standard batch-
    composition step before sharding a mixed corpus to data loaders.
    The position map is injective by construction; when one modality
    exhausts, its slots simply stay vacant (gaps, never collisions).

    ``modality_col`` must hold integer indices in ``[0, M)``. Per-
    modality ranks come from :func:`..scale.keyed_prefix_rank` — the
    two-phase per-key prefix scan — because modalities are the textbook
    low-cardinality/huge-group case where a
    ``Window.partitionBy(modality)`` would drag each modality's entire
    corpus through ONE task; here every modality stays spread across all
    range partitions and the driver only sees P×M small counts.
    """
    from .scale import keyed_prefix_rank

    if n_modalities is None:
        n_modalities = (
            df.agg(F.max(F.col(modality_col)).cast("long")).first()[0] or 0
        ) + 1
    ranked = keyed_prefix_rank(
        df,
        key_col=modality_col,
        order_col=id_col,
        rank_name="pos_in_modality",
        range_partitions=range_partitions,
    )
    return ranked.withColumn(
        "global_pos",
        (
            F.col("pos_in_modality") * n_modalities
            + F.col(modality_col).cast("long")
        ).cast("long"),
    )
