"""Batched multi-consignment stage execution (SURVEY.md §3, §7.6).

The per-event stages in :mod:`.stages` reproduce the reference's one-Lambda-
invocation-per-consignment shape (tre_vb_validate_bagit_files.py:40-174):
N consignments = N sequential stage invocations, each with its own driver
round-trips. That is the right PARITY surface but the wrong SCALE surface —
on a real cluster a nightly batch of thousands of consignments should be ONE
Spark job, not thousands of driver loops.

This module is the Spark-native batch twin: given ALL pending
``bagit-received`` events, it

1. reads every consignment's archive in ONE binaryFile scan,
2. hands each archive to ONE Python call in ONE ``mapInPandas`` pass,
   which untars it, writes every member to the store, hashes every
   member, parses both manifests from the members in hand (no re-read
   of what it just wrote), and applies the checksum and count checks,
3. collects ONE row per consignment (its first error, or the manifests'
   file lists),

then emits one ``bagit-validated`` / ``bagit-validation-error`` event per
consignment with the same parameters and error strings as the sequential
stage (equivalence is pytest-asserted against
:func:`..plans.stages.validate_bagit_files` on the same store; the
validated-file lists are sorted rather than manifest-line-ordered).
:func:`batch_validation_report` is the same checks as one relational
plan over member rows, the DuckDB-oracle-checked reference.

Scale shape: per-consignment work never funnels through one task — each
archive is one Python call, and a task's memory holds one archive at a
time, as untar's does; the only driver-side materialization is the N-row
result plus the manifest-sized validated-file lists the output events must
carry (the same lists the reference's events carry — control-plane by
contract).
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validation import STATUS_OK
from ..session import local_df
from ..sources.archive import untar_blob
from ..sources.catalog import read_file_catalog
from ..sources.manifest import CHECKSUM_WIDTH, manifest_from_lines
from .events import latest_uuid, validate_event
from .stages import (
    EVENT_BAGIT_AVAILABLE,
    EVENT_BAGIT_ERROR,
    EVENT_BAGIT_RECEIVED,
    EVENT_BAGIT_VALIDATED,
    StageContext,
    _n_listed,
    _write_member,
    _write_members,
)

# Manifest kinds, in the order the sequential stage checks them: the
# tagmanifest (root files) first, the data manifest second — the batch
# report's "first error" must pick the same winner as the sequential
# stage's first raise.
KIND_ROOT = "root"
KIND_DATA = "data"
TAGMANIFEST = "tagmanifest-sha256.txt"
DATA_MANIFEST = "manifest-sha256.txt"


def batch_manifest_entries(
    members: DataFrame,
    consignment_col: str = "consignment",
    name_col: str = "name",
    content_col: str = "content",
) -> DataFrame:
    """Parse every consignment's tag + data manifests from in-flight member
    rows → (consignment, kind, checksum, file, basename).

    One plan over all consignments: filter to the two manifest basenames,
    explode lines (S11 fixed-width parse, same projection as
    :func:`..sources.manifest.read_manifest`). ``kind`` is 'root' for the
    tagmanifest, 'data' for the data manifest.
    """
    m = members.filter(
        F.col(name_col).isin(TAGMANIFEST, DATA_MANIFEST)
    ).select(
        F.col(consignment_col).alias("consignment"),
        F.when(F.col(name_col) == F.lit(TAGMANIFEST), F.lit(KIND_ROOT))
        .otherwise(F.lit(KIND_DATA))
        .alias("kind"),
        F.col(content_col).alias("content"),
    )
    return manifest_from_lines(m, "content")


def batch_validation_report(
    members: DataFrame,
    consignment_col: str = "consignment",
    name_col: str = "name",
    content_col: str = "content",
) -> DataFrame:
    """Validate MANY consignments' manifests + checksums + counts in one
    plan (reference semantics: tre_vb_validate_bagit_files.py:88-174,
    batched; J2 checksum join + A3 count reconciliation keyed by
    consignment).

    Input: one row per extracted file per consignment —
    (consignment, name, content), ``name`` relative to the unpacked root
    (``bag-info.txt``, ``data/content/x.txt``, ...).

    Output: ONE row per consignment:

    - ``status`` 'ok' | 'error'
    - ``error`` — NULL when ok, else the SAME message the sequential stage
      raises, chosen with the SAME precedence: first bad tagmanifest entry,
      else first bad data-manifest entry (bad = mismatch or missing,
      ordered by file; missing files print actual='None' exactly like the
      sequential stage's f-string), else total-count mismatch, else
      data-count mismatch.
    - audit counts: ``n_root_listed``/``n_data_listed`` (manifest entries),
      ``n_root_bad``/``n_data_bad``, ``n_extracted``/``n_data_extracted``.

    The store audit (the sequential stage's third count check) needs the
    filesystem, not these rows; this report is the pure relational core,
    oracle-checkable (registry query b01 and the batch, plan and property
    tests run it; :func:`validate_bagit_files_batch` applies the same
    checks per archive in Python).

    Shape: checksum sha2 is map-side; the verification join's manifest side
    is per-consignment KBs (broadcast); the rollup is one partial-agg
    groupBy(consignment). Nothing funnels through a single task.
    """
    src = members.select(
        F.col(consignment_col).alias("consignment"),
        F.col(name_col).alias("name"),
        F.col(content_col).alias("content"),
    )

    manifests = batch_manifest_entries(src)
    computed = src.select(
        "consignment",
        F.col("name").alias("file"),
        F.sha2(F.col("content").cast("binary"), 256).alias("actual"),
    )

    # J2, batched: manifest → files left join on (consignment, file).
    # The reference's bad-filter keeps rows with a manifest entry whose
    # file is missing OR mismatched (expected.isNotNull() in the
    # sequential stage) — a left join IS that filter.
    kord = F.when(F.col("kind") == KIND_ROOT, F.lit(0)).otherwise(F.lit(1))
    report = (
        manifests.select(
            "consignment", "kind", "file",
            F.col("checksum").alias("expected"),
        )
        .join(computed, ["consignment", "file"], "left")
        .select(
            "consignment",
            "kind",
            kord.alias("kord"),
            "file",
            "expected",
            "actual",
            (
                F.col("actual").isNull()
                | (F.col("actual") != F.col("expected"))
            ).alias("bad"),
        )
    )

    bad_struct = F.when(
        F.col("bad"),
        F.struct(
            F.col("kord"), F.col("file"), F.col("expected"), F.col("actual")
        ),
    )
    per_manifest = report.groupBy("consignment").agg(
        F.sum(F.when(F.col("kind") == KIND_ROOT, 1).otherwise(0))
        .cast("long")
        .alias("n_root_listed"),
        F.sum(F.when(F.col("kind") == KIND_DATA, 1).otherwise(0))
        .cast("long")
        .alias("n_data_listed"),
        F.sum(
            F.when((F.col("kind") == KIND_ROOT) & F.col("bad"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_root_bad"),
        F.sum(
            F.when((F.col("kind") == KIND_DATA) & F.col("bad"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_data_bad"),
        # first error = min (kord, file): tagmanifest wins over data
        # manifest, then file order — the sequential stage's raise order
        F.min(bad_struct).alias("first_bad"),
    )

    extracted = src.groupBy("consignment").agg(
        F.count("*").cast("long").alias("n_extracted"),
        F.sum(F.when(F.col("name").startswith("data/"), 1).otherwise(0))
        .cast("long")
        .alias("n_data_extracted"),
    )

    joined = extracted.join(per_manifest, "consignment", "left").select(
        "consignment",
        F.coalesce("n_root_listed", F.lit(0)).alias("n_root_listed"),
        F.coalesce("n_data_listed", F.lit(0)).alias("n_data_listed"),
        F.coalesce("n_root_bad", F.lit(0)).alias("n_root_bad"),
        F.coalesce("n_data_bad", F.lit(0)).alias("n_data_bad"),
        "n_extracted",
        "n_data_extracted",
        "first_bad",
    )

    # manifests_total = the tagmanifest file itself (+1) + every listed
    # root + data file (sequential stage's arithmetic verbatim)
    manifests_total = (
        F.lit(1) + F.col("n_root_listed") + F.col("n_data_listed")
    )
    n_bad_for_first = F.when(
        F.col("first_bad.kord") == 0, F.col("n_root_bad")
    ).otherwise(F.col("n_data_bad"))
    checksum_error = F.concat(
        F.lit('Object "'),
        F.col("consignment"),
        F.lit("/"),
        F.col("first_bad.file"),
        F.lit('" checksum "'),
        F.coalesce(F.col("first_bad.actual"), F.lit("None")),
        F.lit('" does not match expected checksum "'),
        F.col("first_bad.expected"),
        F.lit('" ('),
        n_bad_for_first.cast("string"),
        F.lit(" problem file(s) total)"),
    )
    total_count_error = F.concat(
        F.lit("Incorrect total file count; "),
        manifests_total.cast("string"),
        F.lit(" in manifest, but "),
        F.col("n_extracted").cast("string"),
        F.lit(" found"),
    )
    data_count_error = F.concat(
        F.lit("Incorrect data file count; "),
        F.col("n_data_listed").cast("string"),
        F.lit(" in manifest but "),
        F.col("n_data_extracted").cast("string"),
        F.lit(" found"),
    )
    error = (
        F.when(F.col("first_bad").isNotNull(), checksum_error)
        .when(F.col("n_extracted") != manifests_total, total_count_error)
        .when(
            F.col("n_data_listed") != F.col("n_data_extracted"),
            data_count_error,
        )
    )
    return joined.select(
        "consignment",
        F.when(error.isNull(), F.lit(STATUS_OK))
        .otherwise(F.lit("error"))
        .alias("status"),
        error.alias("error"),
        "n_root_listed",
        "n_data_listed",
        "n_root_bad",
        "n_data_bad",
        "n_extracted",
        "n_data_extracted",
        F.col("first_bad.file").alias("first_bad_file"),
        F.col("first_bad.expected").alias("first_bad_expected"),
        F.col("first_bad.actual").alias("first_bad_actual"),
    )


def _manifest_entries(text: str) -> list[tuple[str, str]]:
    """(checksum, file) per manifest line, by the rule of
    :func:`..sources.manifest.manifest_from_lines` (Spark's ``trim``
    strips spaces only)."""
    return [
        (line[:CHECKSUM_WIDTH].strip(" ").lower(), line[CHECKSUM_WIDTH:].strip(" "))
        for line in text.split("\n")
        if line.strip(" ")
    ]


def _no_members_error(archive_path: str) -> str:
    return f'Object "{archive_path}" produced no members'


def _check_bagit_archive(
    archive: str, blob: bytes, store: str, plan: dict
) -> tuple[str | None, list[str], list[str]]:
    """One consignment's archive → (error, root files, data files): the
    sequential stage's untar-in-place, checksum and count checks, in its
    order and with its error strings, on the bytes in hand. Members are
    written under ``{store}/{out_prefix}/`` and hashed; the manifests
    are read from the members under the unpacked root. The first bad
    tagmanifest entry wins, then the first bad data-manifest entry (bad
    = missing or mismatched, by file; the problem count is that
    manifest's), then the total count (strays outside the root count
    too), the data count and the store audit (:func:`.stages._n_listed`)."""
    archive_path = plan["archive_path"]
    prefix = plan["out_prefix"]
    try:
        members = untar_blob(archive, blob)
    except Exception as e:
        return f'Unpack failed for "{archive_path}": {type(e).__name__}: {e}', [], []

    keys, rel_names, digests, manifests = [], [], {}, {}
    base = plan["unpacked_root"].rsplit("/", 1)[-1] + "/"
    for m in members:
        key = f"{prefix}/{m['name']}" if prefix else m["name"]
        _write_member(store, key, m["content"])
        keys.append(key)
        if m["name"].startswith(base):
            rel = m["name"][len(base):]
            rel_names.append(rel)
            digests[rel] = hashlib.sha256(m["content"]).hexdigest()
            if rel in (TAGMANIFEST, DATA_MANIFEST):
                manifests[rel] = bytes(m["content"]).decode("utf-8", "replace")
    if not rel_names:
        return _no_members_error(archive_path), [], []

    root_entries, data_entries = (
        _manifest_entries(manifests.get(name, ""))
        for name in (TAGMANIFEST, DATA_MANIFEST)
    )
    for entries in (root_entries, data_entries):
        bad = [(f, c, digests.get(f)) for c, f in entries if digests.get(f) != c]
        if bad:
            file, expected, actual = min(bad)
            return (
                f'Object "{plan["unpacked_root"]}/{file}" checksum "{actual}" '
                f'does not match expected checksum "{expected}" '
                f"({len(bad)} problem file(s) total)"
            ), [], []
    root_files = [f for _, f in root_entries]
    data_files = [f for _, f in data_entries]
    n_all, n_data = len(members), sum(n.startswith("data/") for n in rel_names)
    manifests_total = 1 + len(root_files) + len(data_files)
    if n_all != manifests_total:
        error = (
            f"Incorrect total file count; {manifests_total} in manifest, "
            f"but {n_all} found"
        )
    elif len(data_files) != n_data:
        error = (
            f"Incorrect data file count; {len(data_files)} in manifest but "
            f"{n_data} found"
        )
    elif (n_listed := _n_listed(store, keys, prefix)) != n_all:
        error = (
            f"Incorrect data file count; {n_all} extracted but {n_listed} "
            "found"
        )
    else:
        return None, root_files, data_files
    return error, [], []


def validate_bagit_files_batch(
    spark: SparkSession, events: list[dict], ctx: StageContext
) -> list[dict]:
    """bagit-received* → (bagit-validated | bagit-validation-error)* —
    ALL consignments in one Spark job.

    Returns one output event per input event, in input order, with the
    same parameters + error strings as running
    :func:`..plans.stages.validate_bagit_files` per event (sequential /
    batch equivalence is pytest-asserted). Consignments are keyed by
    their unpacked root (``consignments/{type}/{reference}/{uuid}/...``) —
    the reference's (type, reference, retry) grouping — so duplicate
    references in one batch stay distinct.

    ONE binaryFile scan reads every archive, ONE ``mapInPandas`` hands
    each archive to one :func:`_check_bagit_archive` call (untar, write,
    checksum, count), and ONE ``collect`` returns a row per consignment:
    (archive, error, root files, data files). An archive that won't
    untar becomes its own consignment's error; any other failure fails
    the batch. The driver holds the N rows and the manifest-sized file
    lists the events must carry.
    """
    plans: list[dict] = []
    for event in events:
        validate_event(event, EVENT_BAGIT_RECEIVED)
        params = event["parameters"][EVENT_BAGIT_RECEIVED]
        s3_bagit_name = params["s3-bagit-name"]
        unpacked_root = (
            s3_bagit_name[: -len(".tar.gz")]
            if s3_bagit_name.endswith(".tar.gz")
            else s3_bagit_name
        )
        plans.append(
            {
                "event": event,
                "reference": params["reference"],
                "store": params["s3-bucket"],
                "s3_bagit_name": s3_bagit_name,
                "out_prefix": os.path.split(s3_bagit_name)[0],
                "unpacked_root": unpacked_root,
                "archive_path": f"{params['s3-bucket']}/{s3_bagit_name}",
            }
        )
    if not plans:
        return []
    if len({p["store"] for p in plans}) != 1:
        raise ValueError("one batch = one store root")
    store = plans[0]["store"]
    # what the executors need, keyed by the path the scan reports
    by_path = {
        os.path.abspath(p["archive_path"]): {
            k: p[k] for k in ("archive_path", "out_prefix", "unpacked_root")
        }
        for p in plans
    }

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for archive, blob in zip(pdf["path"], pdf["content"]):
                # binaryFile paths carry a file: scheme
                plan = by_path[archive.removeprefix("file:")]
                error, root_files, data_files = _check_bagit_archive(
                    archive, blob, store, plan
                )
                rows.append({
                    "archive": plan["archive_path"],
                    "error": error,
                    "root_files": root_files,
                    "data_files": data_files,
                })
            if rows:
                yield pd.DataFrame(rows)

    checked = {
        r["archive"]: r
        for r in read_file_catalog(spark, list(by_path))
        .select("path", "content")
        .mapInPandas(
            check,
            "archive string, error string, root_files array<string>, "
            "data_files array<string>",
        )
        .collect()
    }

    out_events: list[dict] = []
    for p in plans:
        root = p["unpacked_root"]
        reference = p["reference"]
        row = checked.get(p["archive_path"])
        # the scan skips a 0-byte archive: no row, no members
        error = row["error"] if row else _no_members_error(p["archive_path"])
        if error is not None:
            out_events.append(
                ctx.emit_error(
                    EVENT_BAGIT_ERROR, p["event"], reference, ValueError(error)
                )
            )
            continue
        # sorted, as this stage's lists always were: the sequential stage
        # carries manifest LINE order, and equivalence tests compare as
        # sorted sets
        validated = {
            "path": root,
            "root": sorted(f"{root}/{f}" for f in row["root_files"]),
            "data": sorted(f"{root}/{f}" for f in row["data_files"]),
        }
        out_events.append(
            ctx.emit(
                EVENT_BAGIT_VALIDATED,
                p["event"],
                {
                    EVENT_BAGIT_VALIDATED: {
                        "reference": reference,
                        "s3-bucket": store,
                        "s3-bagit-name": p["s3_bagit_name"],
                        "s3-object-root": root,
                        "validated-files": validated,
                    }
                },
            )
        )
    return out_events


def validate_bagit_batch(
    spark: SparkSession, events: list[dict], ctx: StageContext
) -> list[dict]:
    """bagit-available* → (bagit-received | bagit-validation-error)* —
    the stage-A batch twin (sequential form: stages.validate_bagit,
    reference tre_vb_validate_bagit.py:43-161), ALL deliveries in one set
    of Spark jobs:

    1. ONE distributed STREAMED copy of every delivery's archive +
       sidecar into its consignment store prefix
       (``consignments/{type}/{reference}/{uuid}/``) — fixed 5 MB blocks
       through pyarrow filesystem streams with a running SHA-256 folded
       during the transfer (:func:`..sources.ingest.copy_objects_streamed`;
       the reference's multipart copy + checksum fold,
       object_lib.py:87-171 / checksum_lib.py:101-119). A multi-GB bagit
       never materializes as a Spark row. The running digest IS the
       stored bytes' digest, so no second read pass hashes the archive.
    2. ONE scan over the (tiny) stored sidecars parsing every manifest,
    3. ONE joined report applying the stage's checks per consignment, in
       its order and with its error strings: exactly-one sidecar row →
       basename parity → archive checksum. A failed copy (unreadable
       source, full disk) routes that consignment to the error event with
       the transfer error — the batch twin's report-then-route upgrade
       over the sequential stage's uncaught IOError.

    Emits one event per input event, in order, matching the sequential
    stage (pytest-asserted equivalence).
    """
    plans: list[dict] = []
    for event in events:
        validate_event(event, EVENT_BAGIT_AVAILABLE)
        params = event["parameters"][EVENT_BAGIT_AVAILABLE]
        bagit_url = params["resource"]["value"]
        sha_url = params["resource-validation"]["value"]
        prefix = (
            f"consignments/{event['producer']['type']}/"
            f"{params['reference']}/{latest_uuid(event)}"
        )
        bagit_name = os.path.basename(bagit_url)
        plans.append(
            {
                "event": event,
                "reference": params["reference"],
                "prefix": prefix,
                "bagit_url": bagit_url,
                "sha_url": sha_url,
                "bagit_name": bagit_name,
                "sha_name": os.path.basename(sha_url),
                "s3_bagit_name": f"{prefix}/{bagit_name}",
            }
        )
    if not plans:
        return []

    # 1) one distributed streamed copy of every delivery file; the
    # running digest doubles as the stored archive's checksum (no second
    # read pass over archive bytes, which never ride a row)
    from ..sources.ingest import copy_objects_streamed

    copy_rows = [
        (p[src_key], f"{ctx.store_root}/{p['prefix']}/{p[name_key]}")
        for p in plans
        for src_key, name_key in (
            ("bagit_url", "bagit_name"),
            ("sha_url", "sha_name"),
        )
    ]
    copy_df = local_df(spark, copy_rows, "src string, dest string")
    copy_results = {
        r["dest"]: r for r in copy_objects_streamed(copy_df).collect()
    }

    # 2) one scan over the stored sidecars only (KBs each) → keyed
    # manifest rows; archives are NOT re-read
    sidecar_paths = [
        f"{ctx.store_root}/{p['prefix']}/{p['sha_name']}"
        for p in plans
        if copy_results.get(
            f"{ctx.store_root}/{p['prefix']}/{p['sha_name']}", {"ok": False}
        )["ok"]
    ]
    prefix_expr = None
    for p in plans:
        cond = F.col("path").contains(f"/{p['prefix']}/")
        prefix_expr = (
            F.when(cond, F.lit(p["prefix"]))
            if prefix_expr is None
            else prefix_expr.when(cond, F.lit(p["prefix"]))
        )
    m_agg_rows = {}
    if sidecar_paths:
        manifests = manifest_from_lines(
            read_file_catalog(spark, sidecar_paths).select(
                prefix_expr.alias("prefix"), "content"
            ),
            "content",
        )
        m_agg_rows = {
            r["prefix"]: r
            for r in manifests.groupBy("prefix")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.min(F.struct("checksum", "file", "basename")).alias(
                    "entry"
                ),
            )
            .collect()
        }

    # 3) the stage's checks, its order, its strings — driver-side
    # arithmetic over the N collected rows (control-plane)
    out_events: list[dict] = []
    for p in plans:
        bagit_dest = f"{ctx.store_root}/{p['prefix']}/{p['bagit_name']}"
        sha_dest = f"{ctx.store_root}/{p['prefix']}/{p['sha_name']}"
        bagit_copy = copy_results.get(bagit_dest)
        sha_copy = copy_results.get(sha_dest)
        r = m_agg_rows.get(p["prefix"])
        error: str | None = None
        if bagit_copy is None or not bagit_copy["ok"]:
            error = (
                "Transfer failed for "
                f'"{p["bagit_url"]}": '
                f'{bagit_copy["error"] if bagit_copy else "not attempted"}'
            )
        elif sha_copy is None or not sha_copy["ok"]:
            error = (
                "Transfer failed for "
                f'"{p["sha_url"]}": '
                f'{sha_copy["error"] if sha_copy else "not attempted"}'
            )
        elif (r["n_rows"] if r is not None else 0) != 1:
            n_rows = r["n_rows"] if r is not None else 0
            error = f"Incorrect number of checksums; expected 1, found {n_rows}"
        else:
            entry = r["entry"]
            if entry["basename"] != p["bagit_name"]:
                error = (
                    f'The name "{entry["basename"]}" (derived from manifest '
                    f'file entry) does not match the value '
                    f'"{p["bagit_name"]}" (derived from the input URL)'
                )
            elif bagit_copy["sha256"] != entry["checksum"]:
                error = (
                    f'Checksum mismatch for "{p["s3_bagit_name"]}": expected '
                    f'"{entry["checksum"]}", calculated '
                    f'"{bagit_copy["sha256"]}"'
                )
        if error is not None:
            out_events.append(
                ctx.emit_error(
                    EVENT_BAGIT_ERROR, p["event"], p["reference"],
                    ValueError(error),
                )
            )
        else:
            out_events.append(
                ctx.emit(
                    EVENT_BAGIT_RECEIVED,
                    p["event"],
                    {
                        EVENT_BAGIT_RECEIVED: {
                            "reference": p["reference"],
                            "s3-bucket": ctx.store_root,
                            "s3-bagit-name": p["s3_bagit_name"],
                        }
                    },
                )
            )
    return out_events


EVENT_SIP_AVAILABLE = "dri-preingest-sip-available"
EVENT_SIP_ERROR = "dri-preingest-sip-error"


def bagit_to_dri_sip_batch(
    spark: SparkSession, events: list[dict], ctx: StageContext
) -> list[dict]:
    """bagit-validated* → (dri-preingest-sip-available |
    dri-preingest-sip-error)* — the stage-3 batch twin (sequential form:
    stages.bagit_to_dri_sip, reference tre_bagit_to_dri_sip.py:38-150),
    ALL consignments' SIPs built in one set of Spark jobs:

    1. ONE scan collects every bag-info.txt (N×a-dozen kv rows —
       config-plane); per-consignment :func:`..operators.dri_sip.
       dri_config` naming is driver arithmetic. Config failures (missing
       keys, malformed reference) route that consignment to the error
       event and drop it from the batch, like the sequential try/except.
    2. ONE keyed manifest scan + ONE keyed file-metadata.csv scan (all
       files in one spark.read.csv — the batch therefore assumes a
       uniform TDR header vocabulary across its consignments; mix v1.1
       and v1.2 batches by grouping on vocabulary first). The read sets
       ``enforceSchema=false`` so EVERY file's header row is validated
       positionally against the schema taken from the first file — a
       consignment whose CSV carries the same column names in a
       different order fails the read loudly instead of silently
       landing values in the wrong columns.
    3. ONE plan gives every consignment's metadata.csv + closure.csv
       rows (dri_metadata_keyed / dri_closure_keyed over a broadcast
       config dim), each as (consignment, kind, _row_order, cells).
    4. Those rows are cogrouped by consignment with ONE scan of the
       bagit ``data/`` dirs, and ONE grouped call per consignment builds
       its whole SIP: both CSVs (:func:`..sources.sinks.csv_text`, the
       sequential render's writer; header-only when the consignment has
       no file-metadata rows), their .sha256 sidecars, the schema files,
       and the tar.gz of those plus the ``data/`` files
       (:func:`..sources.archive.tar_gz_bytes`, the sequential pack's
       writer; the SIP files are named by their ``*_IN_SIP`` keys and
       stamped with one driver-side write time) with its own sidecar.
       One task holds one consignment's archive — the sequential
       stage's per-archive memory model.
    5. ONE distributed write lands the SIP files under each
       ``{root}/sip/`` and each archive + sidecar under
       ``ctx.out_root``.

    Note on error isolation: after config build, the remaining work is
    one fused job set — an engine-side strict-enum error (dri_sip P1
    parity raises) fails the whole batch rather than one consignment.
    Consignments reaching this stage already passed full checksum
    validation, so that is the rare path; when per-consignment isolation
    matters more than batch throughput, run the sequential stage.
    """
    from ..operators.dri_sip import (
        dri_closure_keyed,
        dri_config,
        dri_metadata_keyed,
    )
    from ..schemas import DRI_CLOSURE_COLUMNS, DRI_METADATA_COLUMNS
    from ..sources.archive import tar_gz_bytes
    from ..sources.bagit import FILE_METADATA_COLUMNS_V11
    from ..sources.sinks import csv_text
    from .stages import _dri_schema_text

    plans: list[dict] = []
    for event in events:
        validate_event(event, EVENT_BAGIT_VALIDATED)
        params = event["parameters"][EVENT_BAGIT_VALIDATED]
        plans.append(
            {
                "event": event,
                "reference": params["reference"],
                "store": params["s3-bucket"],
                "root": params["s3-object-root"],
            }
        )
    if not plans:
        return []
    if len({p["store"] for p in plans}) != 1:
        raise ValueError("one batch = one store root")
    store = plans[0]["store"]

    # 1) config: one scan over every bag-info.txt, parsed driver-side
    # with the reference's left-most-colon split (object_lib.py:211-228)
    info_rows = read_file_catalog(
        spark, [f"{store}/{p['root']}/bag-info.txt" for p in plans]
    ).select("path", "content").collect()
    info_by_root: dict[str, dict] = {}
    for r in info_rows:
        for p in plans:
            if r["path"].endswith(f"/{p['root']}/bag-info.txt") or r[
                "path"
            ].endswith(f":{store}/{p['root']}/bag-info.txt"):
                kv = {}
                for line in bytes(r["content"]).decode().splitlines():
                    if line.strip():
                        k, _, v = line.partition(":")
                        kv[k.strip()] = v.strip()
                info_by_root[p["root"]] = kv
                break

    out_events: dict[int, dict] = {}
    live: list[dict] = []
    for i, p in enumerate(plans):
        try:
            info = info_by_root.get(p["root"])
            if info is None:
                raise ValueError(f"bag-info.txt not found under {p['root']}")
            dc = dri_config(p["reference"], info["Consignment-Series"])
            p["dc"] = dc
            p["export_dt"] = info["Consignment-Export-Datetime"]
            p["index"] = i
            live.append(p)
        except (KeyError, ValueError) as exc:
            msg = (
                f"missing bag-info key: {exc}"
                if isinstance(exc, KeyError)
                else str(exc)
            )
            out_events[i] = ctx.emit_error(
                EVENT_SIP_ERROR, p["event"], p["reference"], ValueError(msg)
            )
    if not live:
        return [out_events[i] for i in range(len(plans))]

    root_expr_cases = None
    for p in live:
        cond = F.col("path").contains(f"/{p['root']}/")
        root_expr_cases = (
            F.when(cond, F.lit(p["root"]))
            if root_expr_cases is None
            else root_expr_cases.when(cond, F.lit(p["root"]))
        )

    # 2) keyed manifest + file-metadata scans (one job each)
    manifest = manifest_from_lines(
        read_file_catalog(
            spark, [f"{store}/{p['root']}/manifest-sha256.txt" for p in live]
        )
        .select(root_expr_cases.alias("consignment"), "content"),
        "content",
    )
    fm = (
        spark.read.option("enforceSchema", False)
        .csv(
            [f"{store}/{p['root']}/file-metadata.csv" for p in live],
            header=True,
            inferSchema=False,
            escape='"',
        )
        .withColumn("path", F.input_file_name())
        .withColumn("consignment", root_expr_cases)
        .drop("path")
        .na.fill("")
        .withColumn("_row_order", F.monotonically_increasing_id())
    )
    missing = [c for c in FILE_METADATA_COLUMNS_V11 if c not in fm.columns]
    if missing:
        raise ValueError(
            f"file-metadata.csv missing required columns: {missing}"
        )

    config_df = local_df(spark, 
        [
            (
                p["root"],
                p["reference"],
                p["export_dt"],
                p["dc"]["IDENTIFIER_PREFIX"],
            )
            for p in live
        ],
        "consignment string, reference string, export_datetime string,"
        " identifier_prefix string",
    )

    # 3) every consignment's DRI rows, each CSV row as an array of cells
    def dri_rows(df, kind, columns):
        return df.select(
            "consignment",
            F.lit(kind).alias("kind"),
            "_row_order",
            F.array(*[F.col(c).cast("string") for c in columns]).alias("cells"),
        )

    rows = dri_rows(
        dri_metadata_keyed(fm, manifest, config_df), "METADATA",
        DRI_METADATA_COLUMNS,
    ).unionByName(
        dri_rows(dri_closure_keyed(fm, config_df), "CLOSURE", DRI_CLOSURE_COLUMNS)
    )
    data = read_file_catalog(
        spark, [f"{store}/{p['root']}/data" for p in live]
    ).select(
        root_expr_cases.alias("consignment"),
        "path",
        "content",
        F.unix_timestamp("modificationTime").alias("mtime"),
    )

    if len({p["dc"]["BATCH"] for p in live}) != len(live):
        raise ValueError("duplicate SIP batch names in one batch")
    # 4) one grouped call per consignment builds every file of its SIP
    dcs = {p["root"]: p["dc"] for p in live}
    schema_texts = {
        dest_key: _dri_schema_text(schema_name).encode()
        for schema_name, dest_key in (
            ("metadata-schema.txt", "METADATA_SCHEMA_IN_SIP"),
            ("closure-schema.txt", "CLOSURE_SCHEMA_IN_SIP"),
        )
    }
    # absolute names, written under "/": the store and the out root may
    # be any two roots
    store_dir, out_root = os.path.abspath(store), os.path.abspath(ctx.out_root)
    # the tar mtime of the in-flight SIP files: one write time
    written_at = int(time.time())

    def build_sip(key, dri, files):
        import pandas as pd

        root = key[0]
        dc = dcs[root]
        sip = {}
        for kind, columns in (
            ("METADATA", DRI_METADATA_COLUMNS),
            ("CLOSURE", DRI_CLOSURE_COLUMNS),
        ):
            cells = dri[dri["kind"] == kind].sort_values("_row_order")["cells"]
            text = csv_text(columns, cells).encode()
            sip[dc[f"{kind}_IN_SIP"]] = text
            sip[dc[f"{kind}_CHECKSUM_IN_SIP"]] = (
                f"{hashlib.sha256(text).hexdigest()}  {dc[kind]}\n".encode()
            )
        for dest_key, text in schema_texts.items():
            sip[dc[dest_key]] = text
        # keyed and packed by source name, tar_gz_pack's order: the SIP
        # files' keys, the data/ files' paths; data/ files keep their
        # own mtimes
        members = {n: (n, c, written_at) for n, c in sip.items()}
        data_dir = f"file:{store}/{root}/data/"
        for path, content, mtime in zip(
            files["path"], files["content"], files["mtime"]
        ):
            name = dc["INTERNAL_PREFIX"] + path.removeprefix(data_dir)
            members[path] = (name, content, mtime)
        archive = dc["BATCH"] + ".tar.gz"
        blob, _ = tar_gz_bytes(archive, [members[k] for k in sorted(members)])
        out_dir = f"{out_root}/{root}/sip/"
        return pd.DataFrame(
            [(f"{store_dir}/{root}/sip/{n}", c) for n, c in sip.items()]
            + [
                (out_dir + archive, blob),
                (
                    out_dir + archive + ".sha256",
                    f"{hashlib.sha256(blob).hexdigest()}  {archive}\n".encode(),
                ),
            ],
            columns=["name", "content"],
        )

    # 5) one write of every SIP file, archive and sidecar
    _write_members(
        rows.groupBy("consignment")
        .cogroup(data.groupBy("consignment"))
        .applyInPandas(build_sip, schema="name string, content binary"),
        "/",
    )

    for p in live:
        zip_key = f"{p['root']}/sip/{p['dc']['BATCH']}.tar.gz"
        out_path = f"{ctx.out_root}/{zip_key}"
        out_events[p["index"]] = ctx.emit(
            EVENT_SIP_AVAILABLE,
            p["event"],
            {
                EVENT_SIP_AVAILABLE: {
                    "reference": p["reference"],
                    "s3-folder-url": out_path,
                    "s3-sha256-url": out_path + ".sha256",
                    "file-type": "TAR",
                }
            },
        )
    return [out_events[i] for i in range(len(plans))]


def validate_consignments_batch(
    spark: SparkSession,
    events: list[dict],
    ctx: StageContext,
    to_sip: bool = False,
    between_stages=None,
) -> list[dict]:
    """The full intake chain, batched: bagit-available* → stage A
    (:func:`validate_bagit_batch`) → stage B
    (:func:`validate_bagit_files_batch`) → optionally stage 3
    (:func:`bagit_to_dri_sip_batch` when ``to_sip``) → one terminal
    event per input consignment (``bagit-validated`` /
    ``dri-preingest-sip-available`` or the first failing stage's error).
    Failures at each stage short-circuit (those consignments never enter
    the next stage, exactly like the sequential state machine routing
    errors away); everything else flows through as ONE job set per stage
    regardless of N — the whole nightly intake is three job sets.

    ``between_stages(label)`` (optional) is called after each stage's
    job set completes — the chaos harness uses it to kill the driver
    BETWEEN job sets and prove a restart replays the chain to the same
    terminal events with no duplicates (store writes are overwrite-
    idempotent, so a half-run chain converges on replay)."""

    def advance(current: list[dict], ok_name: str, stage_fn) -> list[dict]:
        ok_idx = [
            i
            for i, e in enumerate(current)
            if e["producer"]["event-name"] == ok_name
        ]
        if not ok_idx:
            return current
        nxt = stage_fn(spark, [current[i] for i in ok_idx], ctx)
        out = list(current)
        for i, v in zip(ok_idx, nxt):
            out[i] = v
        return out

    out = validate_bagit_batch(spark, events, ctx)
    if between_stages:
        between_stages("A")
    out = advance(out, EVENT_BAGIT_RECEIVED, validate_bagit_files_batch)
    if between_stages:
        between_stages("B")
    if to_sip:
        out = advance(out, EVENT_BAGIT_VALIDATED, bagit_to_dri_sip_batch)
        if between_stages:
            between_stages("SIP")
    return out


def orchestrated_batch_stage(
    ctx: StageContext, to_sip: bool = False, between_stages=None
):
    """Bridge the batched intake chain into the streaming orchestrator
    (:func:`..streaming.orchestrator.run_pipeline`): returns a stage
    function for the ``stages`` dict, keyed on ``bagit-available``. Each
    micro-batch (≤10 events under the reference's SQS trigger shape —
    control-plane to collect) runs the WHOLE chain as the batch twins'
    three job sets and emits one terminal event row per consignment to
    the orchestrator's events sink: (value, event_name, reference).

    This is the composed 100 TB shape: T1 trigger batching + T3/T10
    dedup/replay guards upstream in the orchestrator, then ONE job set
    per stage for everything the trigger admitted — instead of the
    reference's one state-machine execution per consignment."""
    import json

    def stage(spark: SparkSession, batch_df: DataFrame):
        events = [
            json.loads(r["value"])
            for r in batch_df.select("value").collect()
        ]
        if not events:
            return None
        out = validate_consignments_batch(
            spark, events, ctx, to_sip=to_sip, between_stages=between_stages
        )
        rows = [
            (
                json.dumps(e),
                e["producer"]["event-name"],
                e["parameters"][e["producer"]["event-name"]].get(
                    "reference"
                ),
            )
            for e in out
        ]
        return local_df(spark, 
            rows, "value string, event_name string, reference string"
        )

    return stage
