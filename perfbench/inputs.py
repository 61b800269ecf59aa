"""Seeded input generators for the benchmark workloads.

Every file is built here with the standard library (``tarfile``, ``gzip``,
``hashlib``, ``json``) and numpy/pyarrow for the query tables, never with
the package's own writers, so a fault in the package's packers cannot hide
itself in the inputs it is checked against. Each generator returns the
expected outcome of every planted case next to the paths it wrote; the
program under test sees only the files.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import io
import json
import os
import random
import tarfile
import uuid

# -------------------------------------------------------------------------
# intake_stream: BagIt consignments + bagit-available event envelopes
# -------------------------------------------------------------------------

#: messages per orchestrator micro-batch (the reference's SQS batch size)
ROUND_SIZE = 10
#: planted stage-A / stage-B failures, one per round, rotating
INVALID_KINDS = ("sidecar", "manifest_mismatch", "missing", "extra")
#: the envelope ``version`` the event schema pins
MESSAGE_VERSION = "0.0.2"
#: the oldest event timestamp; later rounds step forward so the
#: orchestrator's 10-minute dedup watermark never marks a message late
BASE_TS_NS = 1_767_225_600 * 10**9  # 2026-01-01T00:00:00Z

FILE_METADATA_HEADER = (
    "Filepath,FileName,FileType,Filesize,RightsCopyright,LegalStatus,"
    "HeldBy,Language,FoiExemptionCode,LastModified\n"
)
SERIES = "MOCKA 101"
EXPORT_DATETIME = "2022-07-18T12:45:45Z"
LAST_MODIFIED = "2022-09-29T15:10:20"

EV_AVAILABLE = "bagit-available"
EV_ERROR = "bagit-validation-error"
EV_SIP = "dri-preingest-sip-available"


def sha256(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _tar_gz(ref: str, entries: dict[str, bytes]) -> bytes:
    """Plain tar, then gzip with a pinned mtime: same entries, same bytes."""
    raw = io.BytesIO()
    with tarfile.open(fileobj=raw, mode="w") as tf:
        for name, content in sorted(entries.items()):
            info = tarfile.TarInfo(name=f"{ref}/{name}")
            info.size = len(content)
            info.mtime = 1660000000
            tf.addfile(info, io.BytesIO(content))
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
        gz.write(raw.getvalue())
    return out.getvalue()


def _bag_entries(ref: str, data: dict[str, bytes], kind: str | None):
    """A SIP-ready bag: data files, file-metadata.csv, bag-info.txt,
    both manifests; ``kind`` plants one stage-B failure."""
    fm = FILE_METADATA_HEADER
    for path, blob in sorted(data.items()):
        name = path.rsplit("/", 1)[1]
        fm += (
            f"{path},{name},File,{len(blob)},Crown Copyright,Public Record,"
            f"TNA,English,open,{LAST_MODIFIED}\n"
        )
    fm += (
        "data/content,content,Folder,,Crown Copyright,Public Record,"
        "TNA,English,open,\n"
    )
    root = {
        "bagit.txt": b"BagIt-Version: 0.97\nTag-File-Character-Encoding: UTF-8\n",
        "bag-info.txt": (
            f"Consignment-Series: {SERIES}\n"
            f"Internal-Sender-Identifier: {ref}\n"
            f"Consignment-Export-Datetime: {EXPORT_DATETIME}\n"
        ).encode(),
        "file-metadata.csv": fm.encode(),
    }
    manifest = {k: sha256(v) for k, v in data.items()}
    if kind == "manifest_mismatch":
        first = sorted(manifest)[0]
        manifest[first] = sha256(data[first] + b"!")
    elif kind == "missing":
        manifest["data/content/ghost.txt"] = sha256(b"ghost")
    root["manifest-sha256.txt"] = "".join(
        f"{c}  {k}\n" for k, c in sorted(manifest.items())
    ).encode()
    root["tagmanifest-sha256.txt"] = "".join(
        f"{sha256(v)}  {k}\n" for k, v in sorted(root.items())
    ).encode()
    entries = dict(root)
    entries.update(data)
    if kind == "extra":
        entries["data/content/stray.txt"] = b"listed in no manifest"
    return entries


def _envelope(rng, ts_ns, event_name, params, *, bad_uuid=False) -> dict:
    lineage = {"TDR-UUID": "not-a-uuid" if bad_uuid else _uuid(rng)}
    return {
        "version": MESSAGE_VERSION,
        "timestamp": ts_ns,
        "UUIDs": [lineage],
        "producer": {
            "environment": "bench",
            "name": "TDR",
            "process": "consignment-export",
            "type": "judgment",
            "event-name": event_name,
        },
        "parameters": {event_name: params},
    }


class IntakeInputs:
    """Consignment deliveries and one-event-per-file message rounds.

    Round ``r`` holds ``ROUND_SIZE`` messages in a fixed make-up:

    - 5 valid consignments → ``dri-preingest-sip-available``;
    - 1 invalid consignment, kind ``INVALID_KINDS[r % 4]`` →
      ``bagit-validation-error`` (stage A for a wrong sidecar, stage B
      for the three manifest faults);
    - 1 verbatim resend of an earlier valid message (of round ``r-1``, or
      of its own round for ``r == 0``) → no second terminal event;
    - 1 error event under the retry limit → ``retries/`` with counter 1;
    - 1 error event at the retry limit → ``dlq/`` as ``dead-letter``;
    - 1 malformed envelope (a lineage entry that is not a UUID) →
      ``dlq/`` as ``invalid``.

    ``self.expected`` maps each message's reference to its planted
    outcome; valid consignments also carry their data files' digests.
    """

    def __init__(self, seed: int, root: str):
        self.rng = random.Random(seed)
        self.delivery = os.path.join(root, "delivery")
        os.makedirs(self.delivery, exist_ok=True)
        self.expected: dict[str, dict] = {}
        self.rounds: list[list[tuple[str, str]]] = []  # [(ref, json line)]

    def _deliver(self, ref: str, kind: str | None) -> tuple[dict, dict]:
        rng = self.rng
        data = {}
        for k in range(rng.randint(2, 4)):
            n = rng.randint(200, 3000)
            words = [rng.choice(_WORDS) for _ in range(n // 6)]
            data[f"data/content/file-{k + 1}.txt"] = (
                f"{ref} " + " ".join(words)
            ).encode()
        blob = _tar_gz(ref, _bag_entries(ref, data, kind))
        tar_path = os.path.join(self.delivery, f"{ref}.tar.gz")
        with open(tar_path, "wb") as f:
            f.write(blob)
        digest = sha256(blob + b"!") if kind == "sidecar" else sha256(blob)
        with open(tar_path + ".sha256", "w") as f:
            f.write(f"{digest}  {ref}.tar.gz\n")
        first = sorted(data)[0]
        return {
            "resource": {"value": tar_path},
            "resource-validation": {"value": tar_path + ".sha256"},
            "number-of-retries": 0,
            "reference": ref,
        }, {
            "files": {k: sha256(v) for k, v in data.items()},
            # what the stage-B error text must name for each planted fault
            "actual": sha256(data[first]),
            "listed": sha256(data[first] + b"!"),
            "n_listed": 5 + len(data),  # tagmanifest + 4 root files + data
        }

    def make_round(self) -> list[tuple[str, str, str]]:
        """Build the next round's deliveries and messages, in send order,
        as (reference, JSON line, planted class)."""
        r = len(self.rounds)
        rng = self.rng
        ts = BASE_TS_NS + r * 10**9
        msgs: list[tuple[str, str, str]] = []

        def add(ref, envelope, outcome):
            line = json.dumps(envelope)
            msgs.append((ref, line, outcome["class"]))
            self.expected[ref] = outcome
            return line

        valid_lines = []
        for i in range(5):
            ref = f"TDR-2026-R{r:03d}V{i}"
            params, facts = self._deliver(ref, None)
            valid_lines.append((ref, add(
                ref, _envelope(rng, ts + i, EV_AVAILABLE, params),
                {"class": "valid", "terminal": EV_SIP, **facts},
            )))
        kind = INVALID_KINDS[r % len(INVALID_KINDS)]
        ref = f"TDR-2026-R{r:03d}X{kind[:2].upper()}"
        params, facts = self._deliver(ref, kind)
        add(ref, _envelope(rng, ts + 5, EV_AVAILABLE, params),
            {"class": kind, "terminal": EV_ERROR, **facts})
        # resend: the same JSON line again, later in the stream
        src_ref, src_line = (
            self.rounds[-1][0][:2] if self.rounds else valid_lines[0]
        )
        msgs.append((src_ref, src_line, "resend"))
        for n, (cls, retries) in enumerate(
            (("retry", 0), ("dead_letter", 2))
        ):
            ref = f"TDR-2026-R{r:03d}E{n}"
            add(ref, _envelope(rng, ts + 6 + n, EV_ERROR, {
                "reference": ref,
                "number-of-retries": retries,
                "errors": ["upstream transfer failed"],
            }), {"class": cls})
        ref = f"TDR-2026-R{r:03d}M"
        add(ref, _envelope(rng, ts + 8, EV_AVAILABLE, {
            "resource": {"value": "s3://nowhere/none.tar.gz"},
            "resource-validation": {"value": "s3://nowhere/none.tar.gz.sha256"},
            "number-of-retries": 0,
            "reference": ref,
        }, bad_uuid=True), {"class": "malformed"})
        assert len(msgs) == ROUND_SIZE
        self.rounds.append(msgs)
        return msgs

    @staticmethod
    def drop(msgs, indir: str, r: int) -> None:
        """Write one message per file, each under a hidden name first and
        then renamed, so the stream never lists a half-written file."""
        for i, (_, line, _) in enumerate(msgs):
            tmp = os.path.join(indir, f".r{r:04d}-{i:02d}.json")
            with open(tmp, "w") as f:
                f.write(line + "\n")
            os.rename(tmp, os.path.join(indir, f"r{r:04d}-{i:02d}.json"))


_WORDS = (
    "judgment court appeal claimant respondent tribunal order hearing "
    "evidence witness counsel statute section paragraph costs ruling "
    "justice lord submission decision application permission grounds"
).split()


# -------------------------------------------------------------------------
# crawl_waves: WARC files + one manifest per wave
# -------------------------------------------------------------------------

HOSTS = ("a.example", "b.example", "c.example")
#: robots.txt of every host the benchmark crawls; ``blocked.example``
#: disallows everything, the others only ``/private/``
ROBOTS = {
    **{h: "User-agent: *\nDisallow: /private/\n" for h in HOSTS},
    "blocked.example": "User-agent: *\nDisallow: /\n",
}
WARC_DATE = "2021-03-04T05:06:07Z"
FILES_PER_WAVE = 4


def _gzip_member(b: bytes) -> bytes:
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
        gz.write(b)
    return out.getvalue()


def _warc_record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return (
        b"WARC/1.0\r\n" + head.encode("latin-1")
        + b"Content-Length: %d\r\n\r\n" % len(block) + block + b"\r\n\r\n"
    )


def warc_gz(rng: random.Random, name: str, responses: list[dict]) -> bytes:
    """A warcinfo record, then one response record per entry, each record
    its own gzip member (the Common Crawl layout). Entries: ``url``,
    ``body`` (bytes) and optional ``status``/``location``."""
    members = [_warc_record([
        ("WARC-Type", "warcinfo"),
        ("WARC-Record-ID", f"<urn:uuid:{_uuid(rng)}>"),
        ("WARC-Date", WARC_DATE),
        ("WARC-Filename", name),
        ("Content-Type", "application/warc-fields"),
    ], b"software: perfbench\r\nformat: WARC File Format 1.0\r\n")]
    for r in responses:
        status = r.get("status", 200)
        reason = {200: "OK", 301: "Moved Permanently"}[status]
        loc = f"Location: {r['location']}\r\n" if "location" in r else ""
        body = r["body"]
        http = (
            f"HTTP/1.1 {status} {reason}\r\nContent-Type: text/html\r\n"
            f"{loc}Content-Length: {len(body)}\r\n\r\n"
        ).encode("latin-1") + body
        digest = base64.b32encode(hashlib.sha1(body).digest()).decode()
        members.append(_warc_record([
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:uuid:{_uuid(rng)}>"),
            ("WARC-Date", WARC_DATE),
            ("WARC-Target-URI", r["url"]),
            ("WARC-Payload-Digest", f"sha1:{digest}"),
            ("Content-Type", "application/http; msgtype=response"),
        ], http))
    return b"".join(_gzip_member(m) for m in members)


def messy(url: str, rng: random.Random) -> str:
    """A respelling of an ``https://host/path`` URL with the same RFC 3986
    canonical form: upper-case scheme and host, the explicit default
    port, a dot segment and a fragment."""
    host, path = url[len("https://"):].split("/", 1)
    head, _, leaf = path.rpartition("/")
    dotted = f"{head}/x/../{leaf}" if head else f"x/../{leaf}"
    return f"HTTPS://{host.upper()}:443/{dotted}#s{rng.randint(0, 99)}"


class CrawlInputs:
    """Seed URLs, and one manifest of WARC files per wave.

    Wave ``w`` has a fixed make-up, spread over ``FILES_PER_WAVE`` fresh
    WARC files plus two control files:

    - 16 new pages (each links to two other pages) → ``accepted``;
    - 3 messy respellings of pages accepted in earlier waves (of seed
      URLs in wave 0) → ``duplicates`` with reason ``url_seen``;
    - 2 in-batch duplicates of this wave's new pages, in a later file
      than the original → ``duplicates`` with reason ``in_batch_dup``;
    - 2 redirects (301 + Location) → ``seen`` kind ``redirect``;
    - 2 pages on a host whose robots.txt disallows all → ``disallowed``;
    - 2 ``noindex`` pages → ``seen`` kind ``noindex``;
    - a resend of the first file of the previous wave (wave 0: the same
      manifest line twice) → nothing new in any sink;
    - one truncated gzip file → one ``errors`` row.

    Each wave lists its planted records as ``{"canonical", "sink"}``;
    ``sink`` is ``accepted``, a duplicates reason, a seen kind or
    ``disallowed``.
    """

    N_NEW, N_RESPELL, N_DUP, N_REDIRECT, N_BLOCKED, N_NOINDEX = 16, 3, 2, 2, 2, 2
    SEEDS = tuple(f"https://{HOSTS[i % 3]}/seed/{i}" for i in range(6))

    def __init__(self, seed: int, root: str):
        self.rng = random.Random(seed)
        self.warcs = os.path.join(root, "warcs")
        self.manifests = os.path.join(root, "manifests")
        os.makedirs(self.warcs, exist_ok=True)
        os.makedirs(self.manifests, exist_ok=True)
        self.accepted: list[str] = []  # canonicals, in acceptance order
        self.waves: list[dict] = []
        self.next_file_id = 1

    def _page(self, title: str, links: list[str], meta: str = "") -> bytes:
        rng = self.rng
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 90)))
        hrefs = "".join(f'<a href="{u}">{u}</a>' for u in links)
        return (
            f"<html><head><title>{title}</title>{meta}</head><body>"
            f"<p>{title} {words}</p>{hrefs}</body></html>"
        ).encode()

    def _write(self, name: str, blob: bytes) -> str:
        path = os.path.join(self.warcs, name)
        with open(path, "wb") as f:
            f.write(blob)
        return path

    def make_wave(self) -> dict:
        w = len(self.waves)
        rng = self.rng
        files: list[list[dict]] = [[] for _ in range(FILES_PER_WAVE)]
        records: list[dict] = []  # {"canonical", "sink"} per planted record

        def plant(k, rec, canonical, sink):
            files[k].append(rec)
            records.append({"canonical": canonical, "sink": sink})

        new = [f"https://{HOSTS[i % 3]}/w{w}/p{i}" for i in range(self.N_NEW)]
        for i, url in enumerate(new):
            links = [new[(i + 1) % len(new)], f"/w{w}/next{i}"]
            plant(i % 2, {"url": url, "body": self._page(url, links)},
                  url, "accepted")
        earlier = self.accepted or list(self.SEEDS)
        # distinct targets: a second respelling of one canonical in the
        # same batch is an in-batch duplicate, not a url_seen
        for i, target in enumerate(rng.sample(earlier, self.N_RESPELL)):
            plant(2 + i % 2, {
                "url": messy(target, rng),
                "body": self._page(f"respelt {w} {i}", []),
            }, target, "url_seen")
        for i in range(self.N_DUP):
            plant(2 + i % 2, {
                "url": new[i] + "#again",
                "body": self._page(f"mirror {w} {i}", []),
            }, new[i], "in_batch_dup")
        for i in range(self.N_REDIRECT):
            url = f"https://{HOSTS[i % 3]}/w{w}/old{i}"
            plant(i % FILES_PER_WAVE, {
                "url": url, "status": 301,
                "location": f"https://{HOSTS[i % 3]}/w{w}/moved{i}",
                "body": b"<html><body><p>moved</p></body></html>",
            }, url, "redirect")
        for i in range(self.N_BLOCKED):
            url = f"https://blocked.example/w{w}/d{i}"
            plant((i + 1) % FILES_PER_WAVE,
                  {"url": url, "body": self._page(url, [])}, url, "disallowed")
        for i in range(self.N_NOINDEX):
            url = f"https://{HOSTS[(i + 1) % 3]}/w{w}/ni{i}"
            plant((i + 2) % FILES_PER_WAVE, {"url": url, "body": self._page(
                url, [], '<meta name="robots" content="noindex">'
            )}, url, "noindex")

        lines = []
        for k, recs in enumerate(files):
            name = f"w{w:03d}-f{k}.warc.gz"
            path = self._write(name, warc_gz(rng, name, recs))
            lines.append({"file_id": self.next_file_id, "path": path})
            self.next_file_id += 1
        resend = dict(self.waves[-1]["lines"][0] if self.waves else lines[0])
        name = f"w{w:03d}-trunc.warc.gz"
        blob = warc_gz(rng, name, [{
            "url": f"https://{HOSTS[0]}/w{w}/broken",
            "body": self._page("broken", []),
        }])
        trunc = {"file_id": self.next_file_id,
                 "path": self._write(name, blob[:-7])}
        self.next_file_id += 1
        self.accepted.extend(new)
        wave = {
            "lines": lines, "all_lines": lines + [resend, trunc],
            "records": records, "trunc_file_id": trunc["file_id"],
        }
        self.waves.append(wave)
        return wave

    def drop(self, wave: dict) -> None:
        """Publish the wave's manifest (one JSON line per file)."""
        w = len(self.waves) - 1
        tmp = os.path.join(self.manifests, f".w{w:04d}.jsonl")
        with open(tmp, "w") as f:
            for line in wave["all_lines"]:
                f.write(json.dumps(line) + "\n")
        os.rename(tmp, os.path.join(self.manifests, f"w{w:04d}.jsonl"))


# -------------------------------------------------------------------------
# query_mix: the registry's driver tables at a given scale factor
# -------------------------------------------------------------------------

DOC_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()


def write_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten driver tables (TPC-H-like star schema, events,
    documents, embeddings) as one parquet file each, with the column
    names and types the registry reads. Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    def day(lo: str, n_days: int, n: int):
        base = np.datetime64(lo, "us")
        return base + g.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": g.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    g.choice(["blue", "cold", "hot", "red", "small", "new",
                              "old", "large"], n_part),
                    g.choice(["ring", "plate", "gear", "rod", "bolt", "anvil",
                              "widget"], n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
            "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"], n_part),
            "p_size": g.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": g.integers(0, n_cust, n_ord),
            "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": day("1995-01-01", 2404, n_ord),
            "o_orderpriority": g.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord),
        },
        "lineitem": {
            "l_orderkey": g.integers(0, n_ord, n_li),
            "l_partkey": g.integers(0, n_part, n_li),
            "l_suppkey": g.integers(0, n_supp, n_li),
            "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": g.integers(0, 11, n_li) / 100.0,
            "l_tax": g.integers(0, 9, n_li) / 100.0,
            "l_returnflag": g.choice(["A", "N", "R"], n_li),
            "l_linestatus": g.choice(["F", "O"], n_li),
            "l_shipdate": day("1995-01-02", 2498, n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + g.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
            ),
            "user_id": g.integers(0, 1500, n_ev),
            "event_type": g.choice(
                ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(g.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        },
    }
    # documents: random word strings, with planted exact and near
    # duplicates so the dedup queries have pairs to find
    texts = [
        " ".join(g.choice(DOC_WORDS, int(k)))
        for k in g.integers(10, 101, n_doc)
    ]
    for i in range(0, n_doc, 50):
        j = int(g.integers(0, n_doc))
        if i % 100 == 0:
            texts[j] = texts[i]
        else:
            words = texts[i].split()
            words[int(g.integers(0, len(words)))] = str(g.choice(DOC_WORDS))
            texts[j] = " ".join(words)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{i}" for i in g.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = g.integers(0, 10, n_emb).astype(np.int32)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table({k: pa.array(v) if not isinstance(v, pa.Array) else v
                      for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def main() -> None:
    """Write one workload's inputs and planted outcomes to a directory,
    exactly as a benchmark run with the same seed builds them."""
    import argparse

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--workload", required=True,
                    choices=("intake_stream", "crawl_waves", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write into")
    ap.add_argument("--steps", type=int, default=2,
                    help="rounds or waves to build, warm-up included")
    args = ap.parse_args()
    if args.workload == "query_mix":
        print(write_tables(args.seed, os.path.join(args.out, "tables"), 0.1))
        return
    if args.workload == "intake_stream":
        gen = IntakeInputs(args.seed, args.out)
        messages = os.path.join(args.out, "messages")
        os.makedirs(messages, exist_ok=True)
        for r in range(args.steps):
            gen.drop(gen.make_round(), messages, r)
        planted = gen.expected
    else:
        gen = CrawlInputs(args.seed, args.out)
        for _ in range(args.steps):
            gen.drop(gen.make_wave())
        planted = [w["records"] for w in gen.waves]
    with open(os.path.join(args.out, "planted.json"), "w") as f:
        json.dump(planted, f, indent=1)


if __name__ == "__main__":
    main()
