"""Sinks (SURVEY.md §2.1 S5/S6).

Single-file renders exist for parity with the reference's one-object outputs
(metadata.csv / closure.csv / output-message.json); at scale the same DFs
write partitioned parquet/csv via the normal writer. :func:`csv_text` is the
one CSV writer: :func:`render_csv` feeds it a DataFrame collected through the
driver, the batched SIP build (plans.batch) one consignment's rows inside a
grouped task. The errorifexists guard is the reference's overwrite
protection (object_lib.py:196-209).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import fsio


def require_absent(path: str) -> None:
    """S6 write guard — raise if target exists (reference:
    object_lib.py:196-209 raise_error_if_object_exists). Scheme-aware
    (round-12): probes through the active session's Hadoop FS, so the
    guard holds on s3a/abfs/gs/hdfs paths exactly as on local ones."""
    if fsio.exists(path):
        raise FileExistsError(f"Object already exists: {path}")


def write_single_text(text: str, path: str, allow_overwrite: bool = False) -> None:
    """S5 literal/string sink (reference: object_lib.py:173-194
    string_to_s3_object) — written through the Hadoop FS API
    (:mod:`.fsio`), so the reference's one-object outputs land on any
    scheme the deployment carries credentials for."""
    if not allow_overwrite:
        require_absent(path)
    fsio.write_bytes(path, text.encode("utf-8"), overwrite=True)


def write_single_csv(
    df: DataFrame,
    path: str,
    order_by: list[str] | None = None,
    allow_overwrite: bool = False,
) -> None:
    """Render a (small) result DF to ONE csv file, header included,
    RFC-4180-minimal quoting — byte-compatible with the reference's
    csv.DictWriter output (tre_bagit.py:31-63). Collects: metadata/closure
    CSVs are per-consignment KB-scale; large tables use df.write.csv."""
    text = render_csv(df, order_by=order_by)
    write_single_text(text, path, allow_overwrite=allow_overwrite)


def csv_text(columns: list[str], rows) -> str:
    """CSV string with csv.QUOTE_MINIMAL + '\\n' line terminator, matching
    the reference's DictWriter byte-for-byte: a header of ``columns``,
    then one line per row of ``rows`` (value sequences in column order;
    None renders as ''). The one CSV writer behind :func:`render_csv`
    and the batched SIP build."""
    import csv
    import io

    out = io.StringIO()
    writer = csv.writer(out, lineterminator="\n")
    writer.writerow(columns)
    for row in rows:
        writer.writerow(["" if v is None else v for v in row])
    return out.getvalue()


def render_csv(df: DataFrame, order_by: list[str] | None = None) -> str:
    """:func:`csv_text` over a (small) DataFrame's rows, collected
    through the driver."""
    if order_by:
        df = df.orderBy(*order_by)
    return csv_text(df.columns, df.toLocalIterator())


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    target_file_mb: int = 256,
    mode: str = "error",
) -> int:
    """Range-sorted, size-balanced parquet layout — the write-path
    discipline a 100 TB table needs: globally range-partitioned on
    ``order_cols`` (so downstream range predicates prune files via
    min/max footer stats), sorted within each partition (so row-group
    stats are tight), and sized to ``target_file_mb`` via the partition
    count (one file per partition when row sizes are uniform).
    Returns the partition count used.

    The partition count comes from the optimizer's size estimate over
    the target (uncompressed in-plan bytes / target size, min 1) — the
    same sub-ms stats probe the dedup operators use; when stats are
    unavailable it falls back to the current partition count. Skewed
    order keys are handled by repartitionByRange's reservoir sampling:
    a hot key spans several adjacent partitions rather than one giant
    file. ``maxRecordsPerFile`` is deliberately NOT set — at uniform row
    width the range partitioner already balances, and a records cap
    would split the sorted runs row-count-wise, not byte-wise.
    """
    from ..operators.dedup import _plan_size_bytes

    est = _plan_size_bytes(df)
    if est is not None and est < (1 << 62):
        n = max(1, int(est // (target_file_mb * 1024 * 1024)) + 1)
    else:
        n = max(1, df.rdd.getNumPartitions())
    (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode(mode)
        .parquet(path)
    )
    return n
