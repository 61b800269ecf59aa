"""tar.gz unpack/pack layer (SURVEY.md §2.1 S13-S15)."""

import io
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from da_transform_judgments_pipeline_spark.sources.archive import (
    tar_gz_pack,
    untar,
)
from da_transform_judgments_pipeline_spark.sources.catalog import read_file_catalog


def make_tar_gz(entries: dict[str, bytes], with_dot_slash=False) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        info_dir = tarfile.TarInfo(name="bag")
        info_dir.type = tarfile.DIRTYPE
        tf.addfile(info_dir)
        for name, data in entries.items():
            if with_dot_slash:
                name = "./" + name
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 1660000000
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


ENTRIES = {
    "bag/bagit.txt": b"BagIt-Version: 0.97\n",
    "bag/data/doc.docx": b"DOCXBYTES",
    "bag/manifest-sha256.txt": b"deadbeef  data/doc.docx\n",
}


@pytest.fixture(scope="module")
def archive_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("archives")
    (d / "one.tar.gz").write_bytes(make_tar_gz(ENTRIES))
    (d / "two.tar.gz").write_bytes(make_tar_gz(ENTRIES, with_dot_slash=True))
    return d


def test_untar_members(spark, archive_dir):
    cat = read_file_catalog(spark, str(archive_dir), glob="*.tar.gz")
    members = untar(cat)
    rows = members.collect()
    # 2 archives x 3 files (directory entries skipped)
    assert len(rows) == 6
    names = {r.name for r in rows}
    # './' prefix stripped (reference tar_lib.py:53)
    assert names == set(ENTRIES)
    doc = [r for r in rows if r.name == "bag/data/doc.docx"][0]
    assert bytes(doc.content) == b"DOCXBYTES"
    assert doc.size == len(b"DOCXBYTES")
    assert doc.mtime == 1660000000


def test_pack_roundtrip(spark, archive_dir):
    cat = read_file_catalog(spark, str(archive_dir), glob="one.tar.gz")
    members = untar(cat).withColumn("archive", F.lit("repacked.tar.gz"))
    packed = tar_gz_pack(members).collect()
    assert len(packed) == 1
    items = {i["name"]: i["size"] for i in packed[0]["items"]}
    assert items == {n: len(b) for n, b in ENTRIES.items()}
    # blob is a readable tar.gz whose contents round-trip
    with tarfile.open(fileobj=io.BytesIO(bytes(packed[0]["content"])), mode="r:gz") as tf:
        got = {m.name: tf.extractfile(m).read() for m in tf if m.isfile()}
    assert got == ENTRIES
    # mtime preserved (reference tar_lib.py:172)
    with tarfile.open(fileobj=io.BytesIO(bytes(packed[0]["content"])), mode="r:gz") as tf:
        assert all(m.mtime == 1660000000 for m in tf if m.isfile())


def test_pack_is_a_pure_function(spark, archive_dir):
    """Two evaluations of the same pack plan are BYTE-identical: the
    gzip header timestamp is pinned (mode='w:gz' would stamp the
    current time, so a plan whose archive bytes and sha256 sidecar are
    computed in two branches of one union could fail verification
    against itself when the branches straddle a second boundary — the
    intermittent bagit_to_dri_sip_batch flake this pins down). Waits
    across a second boundary to make the old behavior deterministic to
    catch."""
    import time

    cat = read_file_catalog(spark, str(archive_dir), glob="one.tar.gz")
    members = untar(cat).withColumn("archive", F.lit("det.tar.gz"))
    first = bytes(tar_gz_pack(members).collect()[0]["content"])
    time.sleep(1.1)  # straddle a wall-clock second
    second = bytes(tar_gz_pack(members).collect()[0]["content"])
    assert first == second


def test_pack_prefix_substitution(spark, archive_dir):
    cat = read_file_catalog(spark, str(archive_dir), glob="one.tar.gz")
    members = (
        untar(cat)
        .withColumn("archive", F.lit("sip.tar.gz"))
        .withColumn("rm", F.lit("bag/"))
        .withColumn("add", F.lit("BATCH/SERIES/"))
    )
    packed = tar_gz_pack(
        members, remove_prefix_col="rm", add_prefix_col="add"
    ).collect()
    names = {i["name"] for i in packed[0]["items"]}
    assert names == {"BATCH/SERIES/" + n[len("bag/"):] for n in ENTRIES}


def test_pack_explicit_order(spark, archive_dir):
    """order_col packs members in caller order (reference to_tar_list packs
    metadata first — tre_editorial_integration.py:257-287), overriding the
    default name sort; tar member sequence and items list both follow it."""
    cat = read_file_catalog(spark, str(archive_dir), glob="one.tar.gz")
    want = sorted(ENTRIES, reverse=True)  # deliberately anti-alphabetical
    members = (
        untar(cat)
        .withColumn("archive", F.lit("ordered.tar.gz"))
        .withColumn(
            "ord",
            F.array_position(F.array(*[F.lit(n) for n in want]), F.col("name")),
        )
    )
    packed = tar_gz_pack(members, order_col="ord").collect()
    assert [i["name"] for i in packed[0]["items"]] == want
    with tarfile.open(
        fileobj=io.BytesIO(bytes(packed[0]["content"])), mode="r:gz"
    ) as tf:
        assert [m.name for m in tf if m.isfile()] == want


def test_untar_size_guard(spark, archive_dir):
    """S13 guard: an archive above max_archive_bytes fails fast with
    ArchiveTooLargeError naming the archive, not an executor OOM."""
    cat = read_file_catalog(spark, str(archive_dir), glob="one.tar.gz")
    guarded = untar(cat, max_archive_bytes=10)
    with pytest.raises(Exception, match="whole-archive-in-RAM bound"):
        guarded.collect()
    # None disables the guard
    assert untar(cat, max_archive_bytes=None).count() == 3


def test_pack_size_guard(spark):
    """S14 guard: members summing above max_archive_bytes fail the pack."""
    rows = [("a.tar.gz", f"f{i}.txt", b"x" * 100) for i in range(5)]
    df = spark.createDataFrame(rows, "archive string, name string, content binary")
    with pytest.raises(Exception, match="whole-archive-in-RAM bound"):
        tar_gz_pack(df, max_archive_bytes=300).collect()
    assert tar_gz_pack(df, max_archive_bytes=None).count() == 1


def test_unzip_roundtrip_report_isolation_and_bounds(spark):
    """unzip: member-exact round trip through the deterministic
    zip_pack twin, one corrupt blob isolates under report mode with the
    untar-shared schema, and declared/actual decompressed bounds hold."""
    import pytest as _pytest

    from da_transform_judgments_pipeline_spark.sources.archive import (
        unzip,
        zip_pack,
    )

    blob = zip_pack([("a/x.txt", b"hello"), ("b/y.bin", bytes(range(256)) * 4)])
    assert zip_pack([("a", b"b")]) == zip_pack([("a", b"b")])  # pinned
    df = spark.createDataFrame(
        [
            ("p1.zip", bytearray(blob)),
            ("p2.zip", bytearray(b"PK\x03\x04garbage")),
            ("p3.zip", bytearray(zip_pack([("only.txt", b"solo")]))),
        ],
        "path string, content binary",
    )
    rows = unzip(df, on_error="report").collect()
    by = {}
    for r in rows:
        by.setdefault(r["archive"], []).append(r)
    assert [r["name"] for r in by["p1.zip"]] == ["a/x.txt", "b/y.bin"]
    assert bytes(by["p1.zip"][0]["content"]) == b"hello"
    assert by["p1.zip"][1]["size"] == 1024
    assert by["p2.zip"][0]["error"] is not None
    assert by["p2.zip"][0]["name"] is None
    assert by["p3.zip"][0]["error"] is None
    with _pytest.raises(Exception):
        unzip(df).collect()  # strict mode propagates the corrupt blob
    big = spark.createDataFrame(
        [("b.zip", bytearray(zip_pack([("big", b"\x00" * 100_000)])))],
        "path string, content binary",
    )
    out = unzip(big, max_archive_bytes=1000, on_error="report").collect()
    assert "ArchiveTooLargeError" in out[0]["error"]
    with _pytest.raises(ValueError, match="on_error"):
        unzip(df, on_error="nope")


def test_untar_tar_zst_transport(spark):
    """.tar.zst consignments inflate through the pure-stdlib zstd
    decoder (bounded), then walk the same tar path."""
    import io as _io
    import tarfile as _tarfile

    import pyarrow as _pa

    from da_transform_judgments_pipeline_spark.sources import archive as A

    buf = _io.BytesIO()
    with _tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in (("a.txt", b"alpha"), ("dir/b.bin", b"\x00\x01")):
            info = _tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 1234
            tf.addfile(info, _io.BytesIO(data))
    tzst = _pa.Codec("zstd", compression_level=9).compress(
        buf.getvalue(), asbytes=True
    )
    df = spark.createDataFrame(
        [("c.tar.zst", bytearray(tzst))], "path string, content binary"
    )
    rows = {r["name"]: r for r in A.untar(df).collect()}
    assert set(rows) == {"a.txt", "dir/b.bin"}
    assert bytes(rows["a.txt"]["content"]) == b"alpha"
    # the whole-archive bound applies to the INFLATED bytes too
    with pytest.raises(Exception, match="above the 16-byte"):
        A.untar(df, max_archive_bytes=16).collect()


def test_untar_gz_bz2_xz_bounded_like_zst(spark):
    """r12 (ADVICE r11): every tar transport honors the same
    decompressed-size bound — a gz tarbomb fails fast with a typed
    error, exactly like the .tar.zst twin, instead of tarfile
    inflating it unbounded."""
    import bz2 as _bz2
    import gzip as _gz
    import io as _io
    import lzma as _lzma
    import tarfile as _tarfile

    from da_transform_judgments_pipeline_spark.sources import archive as A

    buf = _io.BytesIO()
    with _tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"\x00" * 1_000_000  # inflates 1 MB from a ~1 KB blob
        info = _tarfile.TarInfo("bomb.bin")
        info.size = len(data)
        tf.addfile(info, _io.BytesIO(data))
    plain = buf.getvalue()
    for label, blob in (
        ("t.tar.gz", _gz.compress(plain)),
        ("t.tar.bz2", _bz2.compress(plain)),
        ("t.tar.xz", _lzma.compress(plain)),
    ):
        df = spark.createDataFrame(
            [(label, bytearray(blob))], "path string, content binary"
        )
        # healthy under the default bound
        ok = A.untar(df).collect()
        assert [r["name"] for r in ok] == ["bomb.bin"]
        # bounded: compressed size passes the archive guard, inflation
        # is stopped by the codec layer before materializing
        with pytest.raises(Exception, match="Bomb|whole-archive-in-RAM bound"):
            A.untar(df, max_archive_bytes=65536).collect()
