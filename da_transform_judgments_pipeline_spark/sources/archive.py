"""Archive (tar / tar.gz) container layer (SURVEY.md §1.5, §2.1 S13-S15).

Spark has no tar codec, so this is the engine's one genuinely imperative
layer: an Arrow-batched unpack UDF exploding members to rows, and a grouped
pack via applyInPandas. Memory model matches the reference — one whole
archive in RAM per task (s3_lib/s3_lib/tar_lib.py:45,87,143) — but archives
process in parallel across executors instead of sequentially.

At 100 TB scale the unit of parallelism is the archive: one consignment
tar.gz per row/task. `spark.sql.files.maxPartitionBytes` doesn't split
binaryFile rows, so skew is bounded by the largest archive — and that
bound is ENFORCED: archives above `max_archive_bytes` (default 2 GiB)
raise :class:`ArchiveTooLargeError` task-side instead of OOM-killing the
executor (same memory contract as the reference's Lambda bound).
"""

from __future__ import annotations

import gzip
import io
import tarfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Whole-archive-in-RAM bound (bytes). The task that unpacks or packs an
# archive holds it fully in memory — same model as the reference's Lambda
# (tar_lib.py loads the whole object; Lambda caps at 10 GiB RAM). 2 GiB
# default leaves headroom for the member copies inside a worker that is
# also running other tasks; callers with bigger executors can raise it,
# None disables the guard.
DEFAULT_MAX_ARCHIVE_BYTES = 2 << 30


class ArchiveTooLargeError(ValueError):
    """An archive (or the members packed into one) exceeds the configured
    whole-archive-in-RAM bound. Raised task-side so the job fails fast with
    a clear cause instead of an executor OOM kill."""


class ArchiveError(ValueError):
    """Structurally invalid archive bytes (bad magic, corrupt central
    directory) — typed so report mode isolates the blob with the cause."""


def _check_size(what: str, size: int, limit: int | None) -> None:
    if limit is not None and size > limit:
        raise ArchiveTooLargeError(
            f"{what} is {size} bytes, above the {limit}-byte "
            "whole-archive-in-RAM bound; raise max_archive_bytes (bigger "
            "executors) or split the archive upstream"
        )


UNTAR_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("mtime", T.LongType(), True),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def _untar_bytes(
    blob: bytes, max_bytes: int | None = None
) -> list[dict]:
    """One archive → member dicts. Regular files only; leading './' stripped
    (reference behavior: tar_lib.py:25-65 strips './', skips directories).
    Every compressed transport (gz / bz2 / xz / zst) is inflated FIRST
    through the bounded :func:`..operators.compress.decompress`
    dispatch, so the ``max_bytes`` decompressed-size bound holds
    uniformly — a gz tarbomb fails fast with
    :class:`..operators.compress.CompressBombError` exactly like the
    zst twin, instead of tarfile inflating it unbounded."""
    bound = max_bytes if max_bytes is not None else DEFAULT_MAX_ARCHIVE_BYTES
    transport = None
    if len(blob) >= 4 and blob[:4] == b"\x28\xb5\x2f\xfd":
        transport = "zstd"
    elif blob[:2] == b"\x1f\x8b":
        transport = "gzip"
    elif blob[:3] == b"BZh":
        transport = "bz2"
    elif blob[:6] == b"\xfd7zXZ\x00":
        transport = "xz"
    if transport is not None:
        from ..operators.compress import decompress

        blob = decompress(blob, transport, max_output=bound)
    out = []
    with tarfile.open(fileobj=io.BytesIO(blob), mode="r:") as tf:
        for member in tf:
            if not member.isfile():
                continue
            name = member.name
            if name.startswith("./"):
                name = name[2:]
            fh = tf.extractfile(member)
            out.append(
                {
                    "name": name,
                    "size": int(member.size),
                    "mtime": int(member.mtime),
                    "content": fh.read() if fh is not None else None,
                }
            )
    return out


def untar_blob(
    archive: str,
    blob: bytes,
    max_archive_bytes: int | None = DEFAULT_MAX_ARCHIVE_BYTES,
) -> list[dict]:
    """One archive's bytes → its member dicts: the compressed blob is
    held to ``max_archive_bytes`` (an :class:`ArchiveTooLargeError`
    naming ``archive``), then untarred under the same bound on the
    inflated bytes. :func:`untar` and the batched bagit validation call
    it once per archive."""
    _check_size(f"archive {archive!r}", len(blob), max_archive_bytes)
    return _untar_bytes(bytes(blob), max_bytes=max_archive_bytes)


# untar's schema plus a nullable name and an ``error`` column: the
# ``on_error="report"`` shape of :func:`unzip`
UNTAR_REPORT_SCHEMA = T.StructType(
    list(UNTAR_RESULT_SCHEMA)[:1]
    + [T.StructField("name", T.StringType(), True)]
    + list(UNTAR_RESULT_SCHEMA)[2:]
    + [T.StructField("error", T.StringType(), True)]
)


def untar(
    archives: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    max_archive_bytes: int | None = DEFAULT_MAX_ARCHIVE_BYTES,
) -> DataFrame:
    """S13 unpack: (path, content) rows → one row per member
    (archive, name, size, mtime, content) via mapInPandas (UDTF shape:
    explode of a member array without materializing it as one giant cell).

    Archives above ``max_archive_bytes`` fail fast with
    :class:`ArchiveTooLargeError` naming the archive, instead of an
    opaque executor OOM (the whole blob lives in the task's RAM); so do
    archives that inflate past it. A blob that won't untar fails the job.
    """
    src = archives.select(
        F.col(path_col).alias("archive"), F.col(content_col).alias("_blob")
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for archive, blob in zip(pdf["archive"], pdf["_blob"]):
                members = untar_blob(archive, blob, max_archive_bytes)
                if members:
                    yield pd.DataFrame(
                        {
                            "archive": [archive] * len(members),
                            "name": [m["name"] for m in members],
                            "size": [m["size"] for m in members],
                            "mtime": [m["mtime"] for m in members],
                            "content": [m["content"] for m in members],
                        }
                    )

    return src.mapInPandas(expand, schema=UNTAR_RESULT_SCHEMA)


def tar_gz_bytes(
    archive: str,
    members: list[tuple],
    max_archive_bytes: int | None = DEFAULT_MAX_ARCHIVE_BYTES,
) -> tuple[bytes, list[dict]]:
    """The one tar.gz writer: pack ``members`` — (name, content, mtime)
    tuples, in the order given; an mtime of None or NaN keeps tarfile's
    0 — into one archive's bytes, and return them with the (name, size)
    items. ``archive`` names the archive in the size-guard error."""
    total = sum(len(content) for _, content, _ in members)
    _check_size(
        f"archive {archive!r} ({len(members)} members)",
        total,
        max_archive_bytes,
    )
    buf = io.BytesIO()
    items = []
    # PIN the gzip header timestamp: mode="w:gz" stamps the CURRENT
    # time into the gzip header, so a task retry or a replayed batch
    # would re-pack the same members into different bytes.
    # mtime=0 makes the pack a pure function of its inputs (the
    # build_warc_gz/_gzip_member convention).
    gz = gzip.GzipFile(fileobj=buf, mode="wb", mtime=0)
    with tarfile.open(fileobj=gz, mode="w") as tf:
        for name, content, mtime in members:
            data = bytes(content)
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            if mtime is not None and mtime == mtime:
                info.mtime = int(mtime)
            tf.addfile(info, io.BytesIO(data))
            items.append({"name": name, "size": len(data)})
    gz.close()  # flush the gzip trailer before reading the buffer
    return buf.getvalue(), items


def tar_gz_pack(
    members: DataFrame,
    archive_col: str = "archive",
    name_col: str = "name",
    content_col: str = "content",
    mtime_col: str | None = "mtime",
    internal_prefix: str | None = None,
    remove_prefix_col: str | None = None,
    add_prefix_col: str | None = None,
    order_col: str | None = None,
    max_archive_bytes: int | None = DEFAULT_MAX_ARCHIVE_BYTES,
) -> DataFrame:
    """S14/S15 pack sink: group member rows by target archive and build one
    tar.gz blob per group (applyInPandas — the grouped-map twin of the
    reference's driver-side packer, tar_lib.py:67-191).

    Prefix handling mirrors both reference variants: a constant
    ``internal_prefix`` prepended to every member name (S14), or per-row
    remove/add prefix columns (S15 `S3objectsToZip`). Entry mtimes are
    preserved when ``mtime_col`` is given.

    Members are packed name-sorted by default (deterministic under Spark's
    unordered grouped-map input). Pass ``order_col`` (an integer ordinal
    column) to pack in an explicit caller order instead — the reference's
    `to_tar_list` packs metadata-first, not alphabetically
    (tre_editorial_integration.py:257-287).

    Returns (archive, content BINARY, items ARRAY<STRUCT<name,size>>).
    """
    out_schema = T.StructType(
        [
            T.StructField("archive", T.StringType(), False),
            T.StructField("content", T.BinaryType(), False),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("name", T.StringType(), False),
                            T.StructField("size", T.LongType(), False),
                        ]
                    )
                ),
                False,
            ),
        ]
    )

    cols = {
        "archive": archive_col,
        "name": name_col,
        "content": content_col,
    }
    has_mtime = mtime_col is not None and mtime_col in members.columns
    sel = [F.col(v).alias(k) for k, v in cols.items()]
    if has_mtime:
        sel.append(F.col(mtime_col).alias("mtime"))
    if remove_prefix_col:
        sel.append(F.col(remove_prefix_col).alias("rmprefix"))
    if add_prefix_col:
        sel.append(F.col(add_prefix_col).alias("addprefix"))
    if order_col:
        sel.append(F.col(order_col).cast("long").alias("ord"))
    src = members.select(*sel)

    prefix = internal_prefix or ""
    sort_key = "ord" if order_col else "name"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_key, kind="stable")
        members = []
        for rec in pdf.to_dict("records"):
            name = rec["name"]
            rm = rec.get("rmprefix")
            if rm and name.startswith(rm):
                name = name[len(rm):]
            add = rec.get("addprefix")
            if add:
                name = add + name
            members.append((prefix + name, rec["content"], rec.get("mtime")))
        archive = pdf["archive"].iloc[0]
        blob, items = tar_gz_bytes(archive, members, max_archive_bytes)
        return pd.DataFrame(
            {"archive": [archive], "content": [blob], "items": [items]}
        )

    return src.groupBy("archive").applyInPandas(pack, schema=out_schema)


def _unzip_bytes(blob: bytes, max_bytes: int | None) -> list[dict]:
    """Zip → member dicts with the docx_parser bomb posture: per-member
    AND cumulative ACTUAL decompressed bytes bounded (headers can lie
    small), central-directory driven (zipfile), deterministic order."""
    import io
    import zipfile

    try:
        zf = zipfile.ZipFile(io.BytesIO(blob))
    except zipfile.BadZipFile as e:
        raise ArchiveError(f"not a zip: {e}")
    members = []
    total = 0
    limit = max_bytes if max_bytes is not None else float("inf")
    for info in zf.infolist():
        if info.is_dir():
            continue
        if info.file_size > limit:
            raise ArchiveTooLargeError(
                f"zip member {info.filename!r} declares"
                f" {info.file_size} bytes (> {max_bytes})"
            )
        with zf.open(info) as f:
            data = f.read(int(min(limit, info.file_size)) + 1)
        if len(data) > info.file_size or len(data) > limit:
            raise ArchiveTooLargeError(
                f"zip member {info.filename!r} inflates past its header"
                " or the bound"
            )
        total += len(data)
        if total > limit:
            raise ArchiveTooLargeError(
                f"zip cumulative decompressed bytes exceed {max_bytes}"
            )
        dt = info.date_time
        members.append({
            "name": info.filename,
            "size": len(data),
            "mtime": None if dt == (1980, 1, 1, 0, 0, 0) else int(
                __import__("calendar").timegm((*dt, 0, 0, 0))
            ),
            "content": bytearray(data),
        })
    return members


def unzip(
    archives: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    max_archive_bytes: int | None = DEFAULT_MAX_ARCHIVE_BYTES,
    on_error: str = "raise",
) -> DataFrame:
    """The :func:`untar` twin for ZIP containers (deliveries and Office
    packages arrive zipped as often as tarred): (path, content) rows →
    one row per member with the SAME schema, so downstream stages are
    container-agnostic. ``on_error='report'`` adds an ``error`` column
    and isolates a blob that won't unzip (over the size bound, not a
    zip) as ONE row (archive, name=NULL, error=<message>) while every
    healthy archive's members flow through with error=NULL. Decompression is bounded per member AND
    cumulatively on actual bytes (zip headers can lie small — the
    docx_parser bomb posture generalized to the archive surface)."""
    if on_error not in ("raise", "report"):
        raise ValueError(
            f"on_error must be 'raise' or 'report', not {on_error!r}"
        )
    report = on_error == "report"
    schema = UNTAR_REPORT_SCHEMA if report else UNTAR_RESULT_SCHEMA

    src = archives.select(
        F.col(path_col).alias("archive"), F.col(content_col).alias("_blob")
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for archive, blob in zip(pdf["archive"], pdf["_blob"]):
                try:
                    _check_size(
                        f"archive {archive!r}", len(blob),
                        max_archive_bytes,
                    )
                    members = _unzip_bytes(bytes(blob), max_archive_bytes)
                except Exception as e:
                    if not report:
                        raise
                    # size is non-nullable in the shared schema
                    yield pd.DataFrame([{
                        "archive": archive, "name": None, "size": 0,
                        "mtime": None, "content": None,
                        "error": f"{type(e).__name__}: {e}",
                    }])
                    continue
                rows = [
                    {"archive": archive, **m,
                     **({"error": None} if report else {})}
                    for m in members
                ]
                if rows:
                    yield pd.DataFrame(rows)

    return src.mapInPandas(expand, schema=schema)


def zip_pack(files: list[tuple[str, bytes]]) -> bytes:
    """Deterministic zip builder twin (pinned 1980-01-01 timestamps,
    stored order preserved, deflate level 6) — the build_docx zip layer
    exposed for archive-level tests and oracles."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(
        buf, "w", zipfile.ZIP_DEFLATED, compresslevel=6
    ) as zf:
        for name, data in files:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            zi.external_attr = 0o644 << 16
            zf.writestr(zi, data)
    return buf.getvalue()
