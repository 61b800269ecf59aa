"""File-catalog scans (SURVEY.md §1.1, §2.1 S1-S3/S10).

The reference's "table space" is an object store keyed by path convention
`consignments/{type}/{reference}/{retry}/...`. The Spark-native equivalent is
a binaryFile scan with partition columns derived from the path — Catalyst
then gets partition pruning and predicate pushdown for free, which is the
100 TB-scale replacement for boto3 prefix listings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_file_catalog(
    spark: SparkSession,
    root: str | list[str],
    glob: str = "*",
    with_content: bool = True,
) -> DataFrame:
    """binaryFile scan → (path, modificationTime, length, content).

    S1 prefix-list scan (reference: s3_lib object_lib.py:37-52 s3_ls) and S10
    single-object get in one operator. With ``with_content=False`` only file
    status is read (column pruning drops the content read entirely).
    ``root`` may be a list of roots — ONE scan over all of them (the batched
    multi-consignment stages read every consignment's archive in one job).
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    if not with_content:
        df = df.drop("content")
    return df


def catalog_lists(relpath: str, size: int) -> bool:
    """Whether :func:`read_file_catalog` over a root lists the file of
    ``size`` bytes at ``relpath`` below it. Spark's file listing hides a
    path when any component starts with ``.``, or starts with ``_`` and
    holds no ``=`` (its metadata/temp-file rule, which keeps ``_k=v``
    partition dirs), or ends in ``._COPYING_``; the binaryFile source
    drops 0-byte files (all checked on Spark 4.1.2)."""
    return size > 0 and not any(
        part.startswith(".")
        or (part.startswith("_") and "=" not in part)
        or part.endswith("._COPYING_")
        for part in relpath.split("/")
    )


def with_consignment_partitions(df: DataFrame, root: str) -> DataFrame:
    """Derive `consignments/{type}/{reference}/{retry}/relpath` partition
    columns from the path (reference key convention:
    tre_vb_validate_bagit.py:72-75, tre_bagit_checksum_validation.py:106-108).
    """
    rel = F.regexp_replace(F.col("path"), f"^.*{root.rstrip('/')}/", "")
    pattern = r"^([^/]+)/([^/]+)/(\d+)/(.*)$"
    return (
        df.withColumn("_rel", rel)
        .withColumn("consignment_type", F.regexp_extract("_rel", pattern, 1))
        .withColumn("reference", F.regexp_extract("_rel", pattern, 2))
        .withColumn("retry", F.regexp_extract("_rel", pattern, 3).cast("int"))
        .withColumn("relpath", F.regexp_extract("_rel", pattern, 4))
        .drop("_rel")
    )


def prefix_exists(catalog: DataFrame, prefix: str) -> bool:
    """S2 existence probe (reference: object_lib.py:23-35) — `limit(1)` scan,
    not a count over the catalog."""
    return bool(
        catalog.filter(F.col("path").startswith(prefix)).limit(1).take(1)
    )


def max_numeric_subfolder(catalog: DataFrame, prefix: str) -> int | None:
    """S3 max-numeric-subfolder scan (reference: object_lib.py:54-85) —
    the retry-discovery operator. Keeps only all-digit first segments after
    the prefix, returns their max as int (None when none exist)."""
    prefix = prefix if prefix.endswith("/") else prefix + "/"
    seg = F.regexp_extract(
        F.col("path"), "^" + _re_escape(prefix) + r"(\d+)/", 1
    )
    row = (
        catalog.filter(F.col("path").startswith(prefix))
        .select(seg.alias("n"))
        .filter(F.col("n") != "")
        .agg(F.max(F.col("n").cast("int")).alias("max_n"))
        .first()
    )
    return None if row is None else row["max_n"]


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)
