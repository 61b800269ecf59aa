"""Batched multi-consignment stage tests (plans/batch.py).

The batch twin must (a) produce the right per-consignment report on raw
member rows (all four outcome classes), and (b) emit the SAME events as
running the sequential stage once per consignment on an identical store —
ONE set of Spark jobs for the whole batch (job-count asserted).
"""

import hashlib
import io
import tarfile

import pytest
from pyspark.sql import functions as F

from da_transform_judgments_pipeline_spark.plans.batch import (
    batch_validation_report,
    validate_bagit_files_batch,
)
from da_transform_judgments_pipeline_spark.plans.events import create_event
from da_transform_judgments_pipeline_spark.plans.stages import (
    EVENT_BAGIT_ERROR,
    EVENT_BAGIT_VALIDATED,
    StageContext,
    validate_bagit,
    validate_bagit_files,
)


def sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


BAGIT_TXT = b"BagIt-Version: 0.97\nTag-File-Character-Encoding: UTF-8\n"


def members_for(consignment: str, tamper: str | None = None):
    """In-memory unpacked-bagit member rows (consignment, name, content)."""
    data = {
        "data/content/file-1.txt": f"{consignment} one".encode(),
        "data/content/file-2.txt": f"{consignment} two".encode(),
    }
    root = {
        "bagit.txt": BAGIT_TXT,
        "bag-info.txt": f"Internal-Sender-Identifier: {consignment}\n".encode(),
    }
    data_manifest = {k: sha(v) for k, v in data.items()}
    if tamper == "mismatch":
        data_manifest = {k: sha(v + b"!") for k, v in data.items()}  # 2 bad
    if tamper == "missing":
        data_manifest["data/content/ghost.txt"] = sha(b"ghost")
    root["manifest-sha256.txt"] = "".join(
        f"{c}  {k}\n" for k, c in sorted(data_manifest.items())
    ).encode()
    tag_manifest = "".join(
        f"{sha(v)}  {k}\n" for k, v in sorted(root.items())
    ).encode()
    out = dict(root)
    out["tagmanifest-sha256.txt"] = tag_manifest
    out.update(data)
    if tamper == "extra":
        out["data/content/stray.txt"] = b"not in any manifest"
    return [(consignment, name, content) for name, content in out.items()]


def test_batch_report_all_outcomes(spark):
    rows = (
        members_for("C-OK")
        + members_for("C-BAD", "mismatch")
        + members_for("C-GHOST", "missing")
        + members_for("C-EXTRA", "extra")
    )
    df = spark.createDataFrame(rows, "consignment string, name string, content binary")
    rep = {r["consignment"]: r for r in batch_validation_report(df).collect()}
    assert len(rep) == 4

    ok = rep["C-OK"]
    assert ok["status"] == "ok" and ok["error"] is None
    assert (ok["n_root_listed"], ok["n_data_listed"]) == (3, 2)
    # 3 root + tagmanifest + 2 data = 6 = 1 + 3 + 2
    assert (ok["n_extracted"], ok["n_data_extracted"]) == (6, 2)

    bad = rep["C-BAD"]
    assert bad["status"] == "error" and bad["n_data_bad"] == 2
    assert bad["first_bad_file"] == "data/content/file-1.txt"
    assert bad["error"] == (
        'Object "C-BAD/data/content/file-1.txt" checksum '
        f'"{sha(b"C-BAD one")}" does not match expected checksum '
        f'"{sha(b"C-BAD one!")}" (2 problem file(s) total)'
    )

    ghost = rep["C-GHOST"]
    assert ghost["status"] == "error"
    assert ghost["first_bad_file"] == "data/content/ghost.txt"
    assert ghost["first_bad_actual"] is None
    assert '" checksum "None" does not match' in ghost["error"]

    extra = rep["C-EXTRA"]
    assert extra["status"] == "error"
    assert extra["error"] == (
        "Incorrect total file count; 6 in manifest, but 7 found"
    )


def test_batch_report_root_manifest_precedes_data(spark):
    """Both manifests bad → the tagmanifest's first bad file wins, exactly
    like the sequential stage raising on the tagmanifest pass first."""
    rows = members_for("C-X", "mismatch")
    # corrupt bagit.txt so the tagmanifest entry for it mismatches too
    rows = [
        (c, n, b"corrupted!" if n == "bagit.txt" else v) for c, n, v in rows
    ]
    df = spark.createDataFrame(rows, "consignment string, name string, content binary")
    [r] = batch_validation_report(df).collect()
    assert r["first_bad_file"] == "bagit.txt"
    assert r["n_root_bad"] == 1 and r["n_data_bad"] == 2
    assert "(1 problem file(s) total)" in r["error"]


def build_bagit_tar_gz(ref: str, tamper: str | None = None) -> bytes:
    entries = {}
    for _, name, content in members_for(ref, tamper):
        entries[name] = content
    buf = io.BytesIO()
    # r15: member mtimes were pinned but "w:gz" stamps the GZIP HEADER
    # with wall-clock time — two builds of the same fixture straddling
    # a second boundary produced different bytes, and the seq-vs-batch
    # comparisons embed the blobs' checksums in error strings (flaked
    # once under a loaded host). Tar plain, gzip with mtime=0.
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, content in sorted(entries.items()):
            info = tarfile.TarInfo(name=f"{ref}/{name}")
            info.size = len(content)
            info.mtime = 1660000000
            tf.addfile(info, io.BytesIO(content))
    out = io.BytesIO()
    import gzip as _gzip

    with _gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
        gz.write(buf.getvalue())
    return out.getvalue()


def _received_events(spark, tmp_path, store_tag):
    """Stage-A three consignments into one store; return (ctx, events)."""
    delivery = tmp_path / f"delivery-{store_tag}"
    delivery.mkdir()
    ctx = StageContext(store_root=str(tmp_path / f"store-{store_tag}"))
    events = []
    for ref, tamper in (
        ("TDR-2026-AAA", None),
        ("TDR-2026-BBB", "mismatch"),
        ("TDR-2026-CCC", "extra"),
    ):
        blob = build_bagit_tar_gz(ref, tamper)
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        (delivery / f"{ref}.tar.gz.sha256").write_text(
            f"{sha(blob)}  {ref}.tar.gz\n"
        )
        e0 = create_event(
            environment="test",
            producer="TDR",
            process="consignment-export",
            event_name="bagit-available",
            type="judgment",
            parameters={
                "bagit-available": {
                    "resource": {"value": str(delivery / f"{ref}.tar.gz")},
                    "resource-validation": {
                        "value": str(delivery / f"{ref}.tar.gz.sha256")
                    },
                    "number-of-retries": 0,
                    "reference": ref,
                }
            },
        )
        e1 = validate_bagit(spark, e0, ctx)
        assert e1["producer"]["event-name"] == "bagit-received"
        events.append(e1)
    return ctx, events


def _scrub(v):
    import re

    uuid_re = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    if isinstance(v, str):
        return re.sub(uuid_re, "<uuid>", v)
    if isinstance(v, list):
        return [_scrub(x) for x in v]
    if isinstance(v, dict):
        return {k: _scrub(x) for k, x in v.items()}
    return v


def _norm(event):
    """Comparable (event-name, reference, params) with store roots, event
    uuids (fresh per run, embedded in store paths), and validated-file
    ordering normalized away."""
    name = event["producer"]["event-name"]
    params = _scrub(dict(event["parameters"][name]))
    if "s3-bucket" in params:
        params = {**params, "s3-bucket": "<store>"}
    if "validated-files" in params:
        vf = params["validated-files"]
        params["validated-files"] = {
            "path": vf["path"],
            "root": sorted(vf["root"]),
            "data": sorted(vf["data"]),
        }
    return (name, params.get("reference"), params)


def _run_in_job_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setJobGroup(None, None)


def test_batch_stage_matches_sequential(spark, tmp_path):
    """Same events out as the sequential stage — and strictly fewer Spark
    jobs for the WHOLE batch than the sequential loop needs (the batch
    job count is O(1) in consignments; the sequential loop is O(N))."""
    ctx_seq, ev_seq = _received_events(spark, tmp_path, "seq")
    ctx_bat, ev_bat = _received_events(spark, tmp_path, "bat")

    sequential = _run_in_job_group(
        spark,
        "seq-stage",
        lambda: [validate_bagit_files(spark, e, ctx_seq) for e in ev_seq],
    )
    batch = _run_in_job_group(
        spark,
        "batch-stage",
        lambda: validate_bagit_files_batch(spark, ev_bat, ctx_bat),
    )

    assert [e["producer"]["event-name"] for e in batch] == [
        EVENT_BAGIT_VALIDATED,
        EVENT_BAGIT_ERROR,
        EVENT_BAGIT_ERROR,
    ]
    assert [_norm(e) for e in batch] == [_norm(e) for e in sequential]
    # lineage: prior UUIDs carried + one new per event (T7)
    for prior, out in zip(ev_bat, batch):
        assert out["UUIDs"][:-1] == prior["UUIDs"]
        assert len(out["UUIDs"]) == len(prior["UUIDs"]) + 1

    tracker = spark.sparkContext.statusTracker()
    n_seq = len(tracker.getJobIdsForGroup("seq-stage"))
    n_bat = len(tracker.getJobIdsForGroup("batch-stage"))
    assert n_bat < n_seq, f"batch ran {n_bat} jobs vs sequential {n_seq}"
    # one scan, one mapInPandas, one collect: a single job, plus room
    # for a listing job
    assert n_bat <= 2, f"batch ran {n_bat} jobs"


def _available_event(delivery, ref):
    return create_event(
        environment="test",
        producer="TDR",
        process="consignment-export",
        event_name="bagit-available",
        type="judgment",
        parameters={
            "bagit-available": {
                "resource": {"value": str(delivery / f"{ref}.tar.gz")},
                "resource-validation": {
                    "value": str(delivery / f"{ref}.tar.gz.sha256")
                },
                "number-of-retries": 0,
                "reference": ref,
            }
        },
    )


def _deliver(tmp_path, tag, specs):
    """Write deliveries per spec: (ref, archive_tamper, sidecar_mode)."""
    delivery = tmp_path / f"adelivery-{tag}"
    delivery.mkdir()
    for ref, archive_tamper, sidecar_mode in specs:
        blob = build_bagit_tar_gz(ref, archive_tamper)
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        if sidecar_mode == "mismatch":
            line = f"{sha(blob + b'!')}  {ref}.tar.gz\n"
        elif sidecar_mode == "basename":
            line = f"{sha(blob)}  other-{ref}.tar.gz\n"
        elif sidecar_mode == "two-rows":
            line = f"{sha(blob)}  {ref}.tar.gz\n{sha(b'x')}  extra.bin\n"
        else:
            line = f"{sha(blob)}  {ref}.tar.gz\n"
        (delivery / f"{ref}.tar.gz.sha256").write_text(line)
    return delivery


def test_validate_bagit_batch_matches_sequential(spark, tmp_path):
    """Stage A batched: one scan/copy/hash job set for N deliveries,
    same events + error strings as the per-event stage across all four
    outcome classes (ok, sidecar-checksum mismatch, basename mismatch,
    wrong sidecar cardinality)."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        validate_bagit_batch,
    )

    specs = [
        ("TDR-2026-AOK", None, "ok"),
        ("TDR-2026-ABAD", None, "mismatch"),
        ("TDR-2026-ANAME", None, "basename"),
        ("TDR-2026-ATWO", None, "two-rows"),
    ]
    d_seq = _deliver(tmp_path, "seq", specs)
    d_bat = _deliver(tmp_path, "bat", specs)
    ctx_seq = StageContext(store_root=str(tmp_path / "astore-seq"))
    ctx_bat = StageContext(store_root=str(tmp_path / "astore-bat"))

    sequential = [
        validate_bagit(spark, _available_event(d_seq, ref), ctx_seq)
        for ref, _, _ in specs
    ]
    batch = validate_bagit_batch(
        spark, [_available_event(d_bat, ref) for ref, _, _ in specs],
        ctx_bat,
    )
    assert [e["producer"]["event-name"] for e in batch] == [
        "bagit-received",
        EVENT_BAGIT_ERROR,
        EVENT_BAGIT_ERROR,
        EVENT_BAGIT_ERROR,
    ]
    assert [_norm(e) for e in batch] == [_norm(e) for e in sequential]
    # the stored copies exist under each consignment prefix
    ok_params = batch[0]["parameters"]["bagit-received"]
    import os
    assert os.path.exists(
        os.path.join(ctx_bat.store_root, ok_params["s3-bagit-name"])
    )


def test_validate_consignments_batch_full_chain(spark, tmp_path):
    """A→B chained batch: stage-A failures short-circuit, stage-B runs
    once over the survivors, terminal events match the sequential
    two-stage chain per consignment."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        validate_consignments_batch,
    )
    from da_transform_judgments_pipeline_spark.plans.stages import (
        validate_bagit_files,
    )

    specs = [
        ("TDR-2026-COK", None, "ok"),          # both stages pass
        ("TDR-2026-CBFL", "mismatch", "ok"),   # A ok, B checksum error
        ("TDR-2026-CAFL", None, "mismatch"),   # A checksum error
    ]
    d_seq = _deliver(tmp_path, "cseq", specs)
    d_bat = _deliver(tmp_path, "cbat", specs)
    ctx_seq = StageContext(store_root=str(tmp_path / "cstore-seq"))
    ctx_bat = StageContext(store_root=str(tmp_path / "cstore-bat"))

    sequential = []
    for ref, _, _ in specs:
        a = validate_bagit(spark, _available_event(d_seq, ref), ctx_seq)
        sequential.append(
            validate_bagit_files(spark, a, ctx_seq)
            if a["producer"]["event-name"] == "bagit-received"
            else a
        )
    batch = validate_consignments_batch(
        spark, [_available_event(d_bat, ref) for ref, _, _ in specs],
        ctx_bat,
    )
    assert [e["producer"]["event-name"] for e in batch] == [
        EVENT_BAGIT_VALIDATED,
        EVENT_BAGIT_ERROR,
        EVENT_BAGIT_ERROR,
    ]
    assert [_norm(e) for e in batch] == [_norm(e) for e in sequential]


FILE_METADATA_HEADER = (
    "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,"
    "HeldBy,Language,FoiExemptionCode,LastModified\n"
)


def members_for_sip(
    consignment: str, header_only: bool = False, extra_data: tuple = ()
):
    """Unpacked-bagit members for the stage-3 (DRI SIP) flow: data files
    (plus ``extra_data`` names, listed like the others), a matching
    file-metadata.csv (its header line only when ``header_only``), and a
    bag-info.txt carrying the series + export datetime the transform
    needs."""
    data = {
        "data/content/file-1.txt": f"{consignment} one".encode(),
        "data/content/file-2.txt": f"{consignment} two".encode(),
    }
    data.update({name: f"{consignment} {name}".encode() for name in extra_data})
    fm = FILE_METADATA_HEADER
    for path, blob in sorted(data.items()):
        name = path.rsplit("/", 1)[1]
        fm += (
            f"{path},{name},File,{len(blob)},Crown Copyright,Public Record,"
            "TNA,English,open,2022-09-29T15:10:20\n"
        )
    fm += (
        "data/content,content,Folder,,Crown Copyright,Public Record,"
        "TNA,English,open,\n"
    )
    if header_only:
        fm = FILE_METADATA_HEADER
    root = {
        "bagit.txt": BAGIT_TXT,
        "bag-info.txt": (
            "Consignment-Series: MOCKA 101\n"
            f"Internal-Sender-Identifier: {consignment}\n"
            "Consignment-Export-Datetime: 2022-07-18T12:45:45Z\n"
        ).encode(),
        "file-metadata.csv": fm.encode(),
    }
    data_manifest = {k: sha(v) for k, v in data.items()}
    root["manifest-sha256.txt"] = "".join(
        f"{c}  {k}\n" for k, c in sorted(data_manifest.items())
    ).encode()
    tag_manifest = "".join(
        f"{sha(v)}  {k}\n" for k, v in sorted(root.items())
    ).encode()
    out = dict(root)
    out["tagmanifest-sha256.txt"] = tag_manifest
    out.update(data)
    return out


def _validated_events(spark, tmp_path, tag, refs, header_only=()):
    from da_transform_judgments_pipeline_spark.plans.stages import (
        validate_bagit_files,
    )

    delivery = tmp_path / f"sdelivery-{tag}"
    delivery.mkdir()
    ctx = StageContext(
        store_root=str(tmp_path / f"sstore-{tag}"),
        out_root=str(tmp_path / f"sout-{tag}"),
    )
    events = []
    for ref in refs:
        entries = members_for_sip(ref, header_only=ref in header_only)
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w:gz") as tf:
            for name, content in sorted(entries.items()):
                info = tarfile.TarInfo(name=f"{ref}/{name}")
                info.size = len(content)
                info.mtime = 1660000000
                tf.addfile(info, io.BytesIO(content))
        blob = buf.getvalue()
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        (delivery / f"{ref}.tar.gz.sha256").write_text(
            f"{sha(blob)}  {ref}.tar.gz\n"
        )
        a = validate_bagit(spark, _available_event(delivery, ref), ctx)
        b = validate_bagit_files(spark, a, ctx)
        assert b["producer"]["event-name"] == EVENT_BAGIT_VALIDATED, b
        events.append(b)
    return ctx, events


def _read_sip_tar(path):
    out = {}
    with tarfile.open(path) as tf:
        for m in tf.getmembers():
            if m.isfile():
                out[m.name] = tf.extractfile(m).read()
    return out


def test_bagit_to_dri_sip_batch_matches_sequential(spark, tmp_path, monkeypatch):
    """Stage 3 batched: every consignment's metadata/closure CSVs,
    sidecars, schema files, and SIP tar.gz built in one job set — member
    names and member BYTES identical to the sequential stage's SIPs
    (tar-level bytes differ only via copy mtimes, so contents are
    compared member-by-member), also for a consignment whose
    file-metadata.csv is its header line only (header-only CSVs and
    their sidecars, not missing members)."""
    import os

    from da_transform_judgments_pipeline_spark.plans.batch import (
        bagit_to_dri_sip_batch,
    )
    from da_transform_judgments_pipeline_spark.plans.stages import (
        bagit_to_dri_sip,
    )

    refs = ["TDR-2026-SAA", "TDR-2026-SBB", "TDR-2026-SHO"]
    header_only = ("TDR-2026-SHO",)
    ctx_seq, ev_seq = _validated_events(
        spark, tmp_path, "seq", refs, header_only
    )
    ctx_bat, ev_bat = _validated_events(
        spark, tmp_path, "bat", refs, header_only
    )
    # archives under a relative out root, SIP files under the absolute
    # store: two roots with no common path
    monkeypatch.chdir(tmp_path)
    ctx_bat.out_root = "sout-bat"

    sequential = [bagit_to_dri_sip(spark, e, ctx_seq) for e in ev_seq]
    batch = _run_in_job_group(
        spark,
        "sip-batch-stage",
        lambda: bagit_to_dri_sip_batch(spark, ev_bat, ctx_bat),
    )
    # every SIP built in one grouped pass and one write is 8 jobs; a
    # second grouped pass or write goes past the bound. A bound, not an
    # exact count: AQE splits actions into a varying number of jobs
    n_jobs = len(
        spark.sparkContext.statusTracker().getJobIdsForGroup("sip-batch-stage")
    )
    assert n_jobs <= 10, f"SIP batch ran {n_jobs} jobs"

    assert [e["producer"]["event-name"] for e in batch] == [
        "dri-preingest-sip-available"
    ] * 3

    def norm_out(event, out_root):
        n, ref, params = _norm(event)
        return n, ref, {
            k: v.replace(out_root, "<out>") if isinstance(v, str) else v
            for k, v in params.items()
        }

    assert [norm_out(e, ctx_bat.out_root) for e in batch] == [
        norm_out(e, ctx_seq.out_root) for e in sequential
    ]

    for e_seq, e_bat in zip(sequential, batch):
        p_seq = e_seq["parameters"]["dri-preingest-sip-available"]
        p_bat = e_bat["parameters"]["dri-preingest-sip-available"]
        tar_seq = _read_sip_tar(p_seq["s3-folder-url"])
        tar_bat = _read_sip_tar(p_bat["s3-folder-url"])
        assert sorted(tar_bat) == sorted(tar_seq)
        for name in tar_seq:
            assert tar_bat[name] == tar_seq[name], name
        # sidecar digests cover each store's own archive bytes
        for url, side in (
            (p_seq["s3-folder-url"], p_seq["s3-sha256-url"]),
            (p_bat["s3-folder-url"], p_bat["s3-sha256-url"]),
        ):
            digest = sha(open(url, "rb").read())
            assert open(side).read().startswith(digest + "  ")
        # the sip/ files and the packed members come from one render
        sip_dir = p_bat["s3-folder-url"].replace(
            ctx_bat.out_root, ctx_bat.store_root
        ).rsplit("/", 1)[0]
        for csv_name in ("metadata.csv", "closure.csv"):
            [member] = [n for n in tar_bat if n.endswith("/" + csv_name)]
            with open(f"{sip_dir}/{member}", "rb") as f:
                assert f.read() == tar_bat[member], member
        assert os.path.basename(p_bat["s3-folder-url"]).startswith("MOCKA101Y26TB")


def test_bagit_to_dri_sip_batch_routes_config_errors(spark, tmp_path):
    """A consignment whose bag-info lacks the series key routes to
    dri-preingest-sip-error and drops out; the rest of the batch still
    builds."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        bagit_to_dri_sip_batch,
    )

    ctx, events = _validated_events(
        spark, tmp_path, "err", ["TDR-2026-SCC", "TDR-2026-SDD"]
    )
    # strip the series key from the second consignment's stored bag-info
    root = events[1]["parameters"][EVENT_BAGIT_VALIDATED]["s3-object-root"]
    bi = f"{ctx.store_root}/{root}/bag-info.txt"
    lines = [
        ln for ln in open(bi).read().splitlines()
        if not ln.startswith("Consignment-Series")
    ]
    open(bi, "w").write("\n".join(lines) + "\n")

    out = bagit_to_dri_sip_batch(spark, events, ctx)
    assert [e["producer"]["event-name"] for e in out] == [
        "dri-preingest-sip-available",
        "dri-preingest-sip-error",
    ]
    errs = out[1]["parameters"]["dri-preingest-sip-error"]["errors"]
    assert "Consignment-Series" in errs[0]


def test_full_chain_to_sip(spark, tmp_path):
    """Three job sets end-to-end: bagit-available deliveries → validated
    → SIP, with stage-B failures short-circuiting before the SIP stage:
    a tampered data file, and a data file named ``_draft.txt``, which a
    Spark file scan does not list (the SIP's ``data/`` scan would drop
    it). A replay of the chain over the same store (a crash after the
    SIP write, before the ledger commit) gives the same terminal events,
    in the batch form, and stage B gives the same events in the
    sequential form: the SIP's files under the unpacked root must not
    count as extracted members."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        validate_consignments_batch,
    )
    from da_transform_judgments_pipeline_spark.plans.stages import (
        bagit_to_dri_sip,
    )

    delivery = tmp_path / "fdelivery"
    delivery.mkdir()
    specs = (
        ("TDR-2026-FAA", {}),
        ("TDR-2026-FBB", {"tamper": True}),
        ("TDR-2026-FDR", {"extra_data": ("data/content/_draft.txt",)}),
    )
    for ref, spec in specs:
        entries = members_for_sip(ref, extra_data=spec.get("extra_data", ()))
        if spec.get("tamper"):  # corrupt a data file AFTER manifests were built
            entries["data/content/file-1.txt"] = b"tampered"
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w:gz") as tf:
            for name, content in sorted(entries.items()):
                info = tarfile.TarInfo(name=f"{ref}/{name}")
                info.size = len(content)
                info.mtime = 1660000000
                tf.addfile(info, io.BytesIO(content))
        blob = buf.getvalue()
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        (delivery / f"{ref}.tar.gz.sha256").write_text(
            f"{sha(blob)}  {ref}.tar.gz\n"
        )
    events = [_available_event(delivery, ref) for ref, _ in specs]

    def terminal(out):
        return [
            (
                e["producer"]["event-name"],
                e["parameters"][e["producer"]["event-name"]].get("errors"),
            )
            for e in out
        ]

    ctx = StageContext(
        store_root=str(tmp_path / "fstore"),
        out_root=str(tmp_path / "fout"),
    )
    out = validate_consignments_batch(spark, events, ctx, to_sip=True)
    assert [e["producer"]["event-name"] for e in out] == [
        "dri-preingest-sip-available",
        EVENT_BAGIT_ERROR,
        EVENT_BAGIT_ERROR,
    ]
    url = out[0]["parameters"]["dri-preingest-sip-available"]["s3-folder-url"]
    names = set(_read_sip_tar(url))
    assert any(n.endswith("metadata.csv") for n in names)
    assert any(n.endswith("file-1.txt") for n in names)
    errs = out[1]["parameters"]["bagit-validation-error"]["errors"]
    assert "does not match expected checksum" in errs[0]
    errs = out[2]["parameters"]["bagit-validation-error"]["errors"]
    assert errs == ["Incorrect data file count; 8 extracted but 7 found"]
    replay = validate_consignments_batch(spark, events, ctx, to_sip=True)
    assert terminal(replay) == terminal(out)

    ctx_seq = StageContext(
        store_root=str(tmp_path / "fstore-seq"),
        out_root=str(tmp_path / "fout-seq"),
    )

    def sequential_stage_b():
        ends = []
        for e in events:
            e = validate_bagit(spark, e, ctx_seq)
            if e["producer"]["event-name"] == "bagit-received":
                e = validate_bagit_files(spark, e, ctx_seq)
            ends.append(e)
        return ends

    first = sequential_stage_b()
    assert [name for name, _ in terminal(first)] == [
        EVENT_BAGIT_VALIDATED,
        EVENT_BAGIT_ERROR,
        EVENT_BAGIT_ERROR,
    ]
    sip = bagit_to_dri_sip(spark, first[0], ctx_seq)
    assert sip["producer"]["event-name"] == "dri-preingest-sip-available"
    # the sequential SIP stage keeps the reference's write-once guard (it
    # refuses to overwrite a SIP), so the replay stops at stage B
    assert terminal(sequential_stage_b()) == terminal(first)


def test_orchestrated_batch_stage_via_pipeline(spark, tmp_path):
    """T1 trigger batching composed with the batch twins: two deliveries
    arrive as one micro-batch; the orchestrator's dispatch runs the whole
    chain as one set of batch jobs and the events sink receives one
    terminal row per consignment (validated + error)."""
    import json as _json

    from da_transform_judgments_pipeline_spark.plans.batch import (
        orchestrated_batch_stage,
    )
    from da_transform_judgments_pipeline_spark.streaming import orchestrator

    delivery = tmp_path / "odelivery"
    delivery.mkdir()
    ctx = StageContext(store_root=str(tmp_path / "ostore"))
    events = []
    for ref, tamper in (("TDR-2026-OAA", None), ("TDR-2026-OBB", "mismatch")):
        blob = build_bagit_tar_gz(ref, tamper)
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        (delivery / f"{ref}.tar.gz.sha256").write_text(
            f"{sha(blob)}  {ref}.tar.gz\n"
        )
        events.append(_available_event(delivery, ref))

    indir = tmp_path / "oin"
    indir.mkdir()
    (indir / "wave.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in events) + "\n"
    )
    out = tmp_path / "oout"
    q = orchestrator.run_pipeline(
        spark, str(indir), str(out), str(tmp_path / "ockpt"),
        stages={"bagit-available": orchestrated_batch_stage(ctx)},
    )
    q.awaitTermination(120)

    got = {
        r["reference"]: r["event_name"]
        for r in spark.read.parquet(str(out / "events"))
        .filter(F.col("event_name").isNotNull())
        .collect()
    }
    assert got == {
        "TDR-2026-OAA": EVENT_BAGIT_VALIDATED,
        "TDR-2026-OBB": EVENT_BAGIT_ERROR,
    }


def test_batch_isolates_corrupt_archive(spark, tmp_path):
    """A delivery whose archive won't untar (validated sidecar, corrupt
    gzip payload) must route to its OWN error event — never fail the
    batch job — while the other consignments validate normally."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        validate_bagit_files_batch,
    )

    delivery = tmp_path / "kdelivery"
    delivery.mkdir()
    ctx = StageContext(store_root=str(tmp_path / "kstore"))
    events = []
    for ref, corrupt in (("TDR-2026-KAA", False), ("TDR-2026-KBB", True)):
        blob = build_bagit_tar_gz(ref)
        if corrupt:
            blob = blob[:40] + b"\x00" * 64 + blob[104:]  # smash gzip body
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        (delivery / f"{ref}.tar.gz.sha256").write_text(
            f"{sha(blob)}  {ref}.tar.gz\n"
        )
        e = validate_bagit(spark, _available_event(delivery, ref), ctx)
        assert e["producer"]["event-name"] == "bagit-received"  # sha OK
        events.append(e)

    out = validate_bagit_files_batch(spark, events, ctx)
    assert [e["producer"]["event-name"] for e in out] == [
        EVENT_BAGIT_VALIDATED,
        EVENT_BAGIT_ERROR,
    ]
    errs = out[1]["parameters"]["bagit-validation-error"]["errors"]
    assert errs[0].startswith('Unpack failed for ')


def test_bagit_to_dri_sip_batch_rejects_reordered_csv_header(spark, tmp_path):
    """The one-scan file-metadata.csv read must fail LOUDLY when a
    consignment's CSV carries the same column names in a different order
    (enforceSchema=false validates every file's header against the
    schema positionally) — silently landing values in the wrong columns
    is the failure mode this guards against."""
    from da_transform_judgments_pipeline_spark.plans.batch import (
        bagit_to_dri_sip_batch,
    )

    ctx, events = _validated_events(
        spark, tmp_path, "reord", ["TDR-2026-SEE", "TDR-2026-SFF"]
    )
    root = events[1]["parameters"][EVENT_BAGIT_VALIDATED]["s3-object-root"]
    fm_path = f"{ctx.store_root}/{root}/file-metadata.csv"
    lines = open(fm_path).read().splitlines()
    header = lines[0].split(",")
    i, j = header.index("FileType"), header.index("Language")

    def swap(row):
        cells = row.split(",")
        cells[i], cells[j] = cells[j], cells[i]
        return ",".join(cells)

    open(fm_path, "w").write("\n".join(swap(ln) for ln in lines) + "\n")
    with pytest.raises(Exception, match="(?i)header|conform"):
        bagit_to_dri_sip_batch(spark, events, ctx)


def build_sip_tar_gz(ref: str) -> bytes:
    """A SIP-ready bagit delivery (file-metadata.csv + series bag-info)."""
    entries = members_for_sip(ref)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name, content in sorted(entries.items()):
            info = tarfile.TarInfo(name=f"{ref}/{name}")
            info.size = len(content)
            info.mtime = 1660000000
            tf.addfile(info, io.BytesIO(content))
    return buf.getvalue()


def test_composed_chaos_stream_to_batch_chain(spark, tmp_path):
    """The COMPOSED 100-TB shape under failure: trigger fan-out →
    dedup/replay guards → batched A+B+SIP chain → events sink, driven
    over 2 waves x 6 consignments with (a) a crash injected BETWEEN the
    batch job sets on the first attempt (stage A's store writes already
    landed, nothing committed downstream), (b) an in-wave duplicate
    resend, and (c) a verbatim cross-wave resend after restart. The
    restart must replay the whole chain over the half-written store to
    the SAME terminal events — exactly one terminal event per
    consignment, zero duplicates anywhere."""
    import json as _json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from da_transform_judgments_pipeline_spark.plans.batch import (
        orchestrated_batch_stage,
    )
    from da_transform_judgments_pipeline_spark.streaming import orchestrator

    delivery = tmp_path / "xdelivery"
    delivery.mkdir()
    ctx = StageContext(
        store_root=str(tmp_path / "xstore"),
        out_root=str(tmp_path / "xout-sip"),
    )

    def deliver(ref, break_sidecar=False):
        blob = build_sip_tar_gz(ref)
        (delivery / f"{ref}.tar.gz").write_bytes(blob)
        digest = sha(blob + b"!") if break_sidecar else sha(blob)
        (delivery / f"{ref}.tar.gz.sha256").write_text(
            f"{digest}  {ref}.tar.gz\n"
        )
        return _available_event(delivery, ref)

    wave1_refs = [f"TDR-2026-X{i}A" for i in range(6)]
    wave1 = [deliver(r, break_sidecar=(i == 3))
             for i, r in enumerate(wave1_refs)]
    indir = tmp_path / "xin"
    indir.mkdir()
    out = tmp_path / "xqout"
    ckpt = str(tmp_path / "xckpt")
    # in-wave duplicate: first event appears twice in the same file (T3)
    (indir / "wave1.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in [wave1[0]] + wave1) + "\n"
    )

    crash = {"armed": True}

    def boom(label):
        if label == "A" and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("chaos: killed between batch job sets")

    stages = {
        "bagit-available": orchestrated_batch_stage(
            ctx, to_sip=True, between_stages=boom
        )
    }

    def run():
        q = orchestrator.run_pipeline(
            spark, str(indir), str(out), ckpt, stages=stages
        )
        try:
            q.awaitTermination(240)
        except StreamingQueryException as exc:
            return exc
        finally:
            if q.isActive:
                q.stop()
        return None

    failure = run()
    assert failure is not None and "chaos" in str(failure)
    # crashed inside the stage: nothing reached the events sink
    assert not (out / "events").exists() or not [
        r for r in spark.read.parquet(str(out / "events")).collect()
        if r["event_name"] is not None
    ]

    # restart replays the batch over the half-written store
    assert run() is None

    def terminal():
        return {
            r["reference"]: r["event_name"]
            for r in spark.read.parquet(str(out / "events"))
            .filter(F.col("event_name").isNotNull())
            .collect()
        }

    want1 = {
        r: ("bagit-validation-error" if i == 3
            else "dri-preingest-sip-available")
        for i, r in enumerate(wave1_refs)
    }
    got = terminal()
    rows1 = spark.read.parquet(str(out / "events")).filter(
        F.col("event_name").isNotNull()
    ).count()
    assert got == want1
    assert rows1 == 6  # one terminal row per consignment, no duplicates

    # wave 2: 6 new consignments + a verbatim cross-wave resend of
    # wave 1's first event (T10 ledger must swallow it — watermark
    # state died with the restart)
    wave2_refs = [f"TDR-2026-X{i}B" for i in range(6)]
    wave2 = [deliver(r) for r in wave2_refs]
    (indir / "wave2.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in wave2 + [wave1[0]]) + "\n"
    )
    assert run() is None
    got = terminal()
    assert got == {
        **want1,
        **{r: "dri-preingest-sip-available" for r in wave2_refs},
    }
    total = spark.read.parquet(str(out / "events")).filter(
        F.col("event_name").isNotNull()
    ).count()
    assert total == 12  # 2 waves x 6 — resends and replay added nothing
    # every SIP the chain promised actually exists on disk
    import glob as _glob
    sips = _glob.glob(f"{ctx.out_root}/**/*.tar.gz", recursive=True)
    assert len(sips) == 11  # 5 wave-1 + 6 wave-2 survivors
