"""The workloads: set-up, one step, output checks, layer figures.

Each workload drives the package only through its public entry points;
the traced run wraps module attributes from here (outside-in) and never
edits a package file.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import statistics
import tarfile
import time
from collections import Counter, defaultdict

import inputs

#: the registry queries of ``query_mix``, in execution order
QUERY_MIX = (
    "a07_pricing_summary", "a13_local_supplier_volume",
    "j04_anti_join_reconciliation", "w05_top_orders_per_customer",
    "o02_asof_join", "d07_exact_dedup_survivors", "e02_cosine_topk",
    "x03_bpe_token_count", "x36_bm25_scores", "g01_pagerank",
    "m27_flac_decode_features",
)
QUERY_SF = 0.1


def _qid(name: str) -> str:
    return name.split("_", 1)[0]


def _await(q, timeout: float = 170.0) -> None:
    """Wait for an availableNow query; a query still running is stopped
    and reported (``awaitTermination`` raises on a failed query)."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(f"streaming query did not finish in {timeout}s")


def _params(value: str, event_name: str) -> dict:
    """An envelope's parameter block; re-serialized envelopes carry it as
    JSON text."""
    block = json.loads(value)["parameters"][event_name]
    return json.loads(block) if isinstance(block, str) else block


def _read(spark, path):
    if not os.path.exists(path):
        return []
    return spark.read.parquet(path).collect()


class Tally:
    """Per-operation outcomes of a run's steps: operations of timed steps
    count in ``attempted``/``failed``; a failure in a warm-up step, or a
    whole-run invariant that breaks, makes the run not ``correct``."""

    def __init__(self, warmup_steps: int):
        self.warmup_steps = warmup_steps
        self.attempted = self.failed = 0
        self.correct = True
        self.problems: list[str] = []

    def add(self, step: int, what: str, why: str | None) -> None:
        if step >= self.warmup_steps:
            self.attempted += 1
            self.failed += why is not None
        elif why is not None:
            self.correct = False
        if why is not None:
            self.problems.append(f"step {step} {what}: {why}")

    def broken(self, why: str) -> None:
        self.correct = False
        self.problems.append(why)

    def result(self) -> dict:
        return {"ok": self.attempted - self.failed, "attempted": self.attempted,
                "failed": self.failed, "correct": self.correct,
                "problems": self.problems}


class Workload:
    #: whole steps a run times at least, however short ``--seconds`` is;
    #: ``step_cpu_s`` is the cheapest of them. One: a second step made a
    #: run 10-17 s longer, and 22 runs per workload must fit a comparison
    #: on a busy host too
    MIN_STEPS = 1

    def __init__(self, spark, run_dir, seed, tracer):
        self.spark, self.run_dir, self.seed, self.tracer = (
            spark, run_dir, seed, tracer)
        self.batch_s: dict[str, float] = {}   # step → addBatch seconds

    def end_to_end(self, step_walls) -> dict:
        """Workload-specific end-to-end metrics beyond the common four."""
        return {}

    def layer_metrics(self, steps) -> dict:
        t = self.tracer

        def med(fn):
            return statistics.median(fn(s) for s in steps)

        return {
            "streaming.orchestrator.batch_s": (
                med(lambda s: self.batch_s.get(s, 0.0)), "s"),
            "streaming.orchestrator.self_s": (med(
                lambda s: self.batch_s.get(s, 0.0)
                - t.total("streaming.orchestrator.stage", s)
                if s in self.batch_s else 0.0), "s"),
            "plans.batch.stage_a_s": (
                med(lambda s: t.total("plans.batch.stage_a", s)), "s"),
            "plans.batch.stage_b_s": (
                med(lambda s: t.total("plans.batch.stage_b", s)), "s"),
            "plans.batch.sip_s": (
                med(lambda s: t.total("plans.batch.sip", s)), "s"),
            "streaming.crawl_stream.sink_writes": (med(
                lambda s: len(t.of("streaming.crawl_stream.sink_write", s))),
                "count"),
            "streaming.crawl_stream.sink_busy_s": (
                med(lambda s: t.busy("streaming.crawl_stream.sink_write", s)),
                "s"),
            "sources.frontier.append_s": (
                med(lambda s: t.total("sources.frontier.append", s)), "s"),
            "sources.frontier.index_rows": (self.index_rows(), "count"),
        }

    def index_rows(self) -> int:
        return 0


# -------------------------------------------------------------------------


class IntakeStream(Workload):
    """Consignment messages through ``orchestrator.run_pipeline`` with the
    batched A→B→SIP chain as its ``bagit-available`` stage; one step is
    one ``availableNow`` call over one round of ten messages."""

    WARMUP_ROUNDS = 1

    def setup(self):
        from da_transform_judgments_pipeline_spark.plans import batch
        from da_transform_judgments_pipeline_spark.plans.stages import (
            StageContext,
        )

        d = self.run_dir
        self.gen = inputs.IntakeInputs(self.seed, os.path.join(d, "inputs"))
        self.indir = os.path.join(d, "messages")
        os.makedirs(self.indir)
        self.out = os.path.join(d, "out")
        self.ctx = StageContext(
            store_root=os.path.join(d, "store"),
            out_root=os.path.join(d, "sip"),
        )
        if self.tracer is not None:
            self.tracer.wrap(batch, "validate_bagit_batch", "plans.batch.stage_a")
            self.tracer.wrap(
                batch, "validate_bagit_files_batch", "plans.batch.stage_b")
            self.tracer.wrap(batch, "bagit_to_dri_sip_batch", "plans.batch.sip")
        stage = batch.orchestrated_batch_stage(self.ctx, to_sip=True)
        if self.tracer is not None:
            inner = stage

            def stage(spark, df):
                with self.tracer.span("streaming.orchestrator.stage"):
                    return inner(spark, df)

        self.stages = {inputs.EV_AVAILABLE: stage}
        for _ in range(self.WARMUP_ROUNDS):
            self._round()

    def _round(self) -> list[dict]:
        """One round through one ``availableNow`` query; its progress."""
        from da_transform_judgments_pipeline_spark.streaming import orchestrator

        msgs = self.gen.make_round()
        self.gen.drop(msgs, self.indir, len(self.gen.rounds) - 1)
        q = orchestrator.run_pipeline(
            self.spark, self.indir, self.out, os.path.join(self.run_dir, "ckpt"),
            stages=self.stages, max_files_per_trigger=inputs.ROUND_SIZE,
        )
        _await(q)
        return q.recentProgress

    def step(self, sid):
        self.batch_s[sid] = sum(
            p["durationMs"].get("addBatch", 0) / 1e3
            for p in self._round() if p["numInputRows"] > 0
        )

    def check(self):
        spark = self.spark
        terminal = defaultdict(list)
        other_events = 0
        for row in _read(spark, os.path.join(self.out, "events")):
            if row["_writer"] == f"stage_{inputs.EV_AVAILABLE}":
                terminal[row["reference"]].append(row)
            elif row["event_name"] is not None:
                other_events += 1
        retries = defaultdict(list)
        for row in _read(spark, os.path.join(self.out, "retries")):
            retries[row["reference"]].append(row)
        dlq = defaultdict(list)
        for row in _read(spark, os.path.join(self.out, "dlq")):
            dlq[row["reference"]].append(row)

        tally = Tally(self.WARMUP_ROUNDS)
        planted = set()
        for r, msgs in enumerate(self.gen.rounds):
            for ref, _, cls in msgs:
                planted.add(ref)
                tally.add(r, f"{ref} ({cls})",
                          self._check_one(ref, cls, terminal, retries, dlq))
        stray = (set(terminal) | set(retries) | set(dlq)) - planted
        if stray or other_events:
            tally.broken(f"unplanned outputs: {sorted(stray)[:5]} "
                         f"forwarded={other_events}")
        return tally.result()

    def _check_one(self, ref, cls, terminal, retries, dlq):
        exp = self.gen.expected[ref]
        if cls == "resend":
            n = len(terminal.get(ref, []))
            return None if n == 1 else f"{n} terminal events after a resend"
        if cls in ("retry", "dead_letter", "malformed"):
            if terminal.get(ref):
                return "reached the intake chain"
            if cls == "retry":
                rows = retries.get(ref, [])
                if len(rows) != 1 or dlq.get(ref):
                    return f"{len(rows)} retry rows, {len(dlq.get(ref, []))} dlq rows"
                n = _params(rows[0]["value"], inputs.EV_ERROR)["number-of-retries"]
                if rows[0]["retries"] != 1 or n != 1:
                    return f"retry counter {rows[0]['retries']}/{n}, want 1"
                return None
            rows = dlq.get(ref, [])
            want = "dead-letter" if cls == "dead_letter" else "invalid"
            if len(rows) != 1 or retries.get(ref):
                return f"{len(rows)} dlq rows, {len(retries.get(ref, []))} retry rows"
            if rows[0]["route"] != want:
                return f"dlq route {rows[0]['route']!r}, want {want!r}"
            if cls == "dead_letter" and rows[0]["retries"] != 2:
                return f"dlq counter {rows[0]['retries']}, want 2"
            return None
        rows = terminal.get(ref, [])
        if len(rows) != 1:
            return f"{len(rows)} terminal events"
        name = rows[0]["event_name"]
        if name != exp["terminal"]:
            return f"terminal {name!r}, want {exp['terminal']!r}"
        params = _params(rows[0]["value"], name)
        if cls == "valid":
            return self._check_sip(ref, params, exp["files"])
        errors = " ".join(params.get("errors", []))
        want = {
            "sidecar": "Checksum mismatch for",
            "manifest_mismatch": (
                '/data/content/file-1.txt" checksum "'
                f'{exp["actual"]}" does not match expected checksum '
                f'"{exp["listed"]}" (1 problem file(s) total)'),
            "missing": (
                '/data/content/ghost.txt" checksum "None" does not match '
                f'expected checksum "{inputs.sha256(b"ghost")}" '
                "(1 problem file(s) total)"),
            "extra": (
                f"Incorrect total file count; {exp['n_listed']} in manifest, "
                f"but {exp['n_listed'] + 1} found"),
        }[cls]
        return None if want in errors else f"error text {errors[:160]!r}"

    @staticmethod
    def _check_sip(ref, params, files):
        tar_path = params["s3-folder-url"]
        with open(tar_path, "rb") as f:
            blob = f.read()
        with open(params["s3-sha256-url"]) as f:
            if f.read().split()[0] != inputs.sha256(blob):
                return "SIP .sha256 sidecar does not match the SIP"
        members = {}
        with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
            for m in tf.getmembers():
                if m.isfile():
                    members[m.name] = tf.extractfile(m).read()
        meta = [n for n in members if n.endswith("/metadata.csv")]
        if len(meta) != 1:
            return f"{len(meta)} metadata.csv members"
        body = members[meta[0]]
        side = members.get(meta[0] + ".sha256", b"").split()
        if not side or side[0].decode() != inputs.sha256(body):
            return "metadata.csv.sha256 does not match metadata.csv"
        rows = list(csv.DictReader(io.StringIO(body.decode())))
        got = {r["file_name"]: r["checksum"] for r in rows if r["folder"] == "file"}
        want = {k.rsplit("/", 1)[1]: v for k, v in files.items()}
        if got != want:
            return f"metadata.csv files/checksums {sorted(got)} != {sorted(want)}"
        if {r["TDR_consignment_ref"] for r in rows} != {ref}:
            return "metadata.csv consignment reference"
        return None


# -------------------------------------------------------------------------


class CrawlWaves(Workload):
    """WARC manifests through ``crawl_stream.run_crawl_stream`` with one
    checkpoint, frontier table and output dir; robots rules and CDX on.
    One step is one wave (one ``availableNow`` call over one manifest)."""

    WARMUP_WAVES = 1
    TABLE = "perfbench_frontier"

    def setup(self):
        from da_transform_judgments_pipeline_spark.operators.robots import (
            robots_rules,
        )
        from da_transform_judgments_pipeline_spark.sources import frontier
        from da_transform_judgments_pipeline_spark.streaming import crawl_stream

        spark = self.spark
        self.gen = inputs.CrawlInputs(
            self.seed, os.path.join(self.run_dir, "inputs"))
        self.out = os.path.join(self.run_dir, "crawl")
        frontier.build_url_index(
            spark.createDataFrame([(u,) for u in self.gen.SEEDS], "url string"),
            self.TABLE, buckets=4, path=os.path.join(self.run_dir, "frontier"),
        )
        self.rules = robots_rules(
            spark.createDataFrame(
                sorted(inputs.ROBOTS.items()), "host string, content string"),
            agent="perfbench",
        )
        if self.tracer is not None:
            self.tracer.wrap(crawl_stream, "_write_batch_partition",
                             "streaming.crawl_stream.sink_write")
            self.tracer.wrap(crawl_stream, "append_to_url_index",
                             "sources.frontier.append")
        for _ in range(self.WARMUP_WAVES):
            self._wave()

    def _wave(self) -> None:
        from da_transform_judgments_pipeline_spark.streaming import crawl_stream

        wave = self.gen.make_wave()
        self.gen.drop(wave)
        q = crawl_stream.run_crawl_stream(
            self.spark, self.gen.manifests, self.TABLE, self.out,
            rules=self.rules, emit_cdx=True,
        )
        _await(q)

    def step(self, sid):
        self._wave()

    def index_rows(self) -> int:
        return self.spark.table(self.TABLE).count()

    def check(self):
        from da_transform_judgments_pipeline_spark.streaming.crawl_stream import (
            read_seen,
        )

        spark, gen = self.spark, self.gen
        got = Counter()
        for r in _read(spark, os.path.join(self.out, "accepted")):
            got[(r["canonical"], "accepted")] += 1
        for r in _read(spark, os.path.join(self.out, "duplicates")):
            got[(r["canonical"], r["reason"])] += 1
        for r in _read(spark, os.path.join(self.out, "disallowed")):
            got[(r["canonical"], "disallowed")] += 1
        for r in read_seen(spark, self.out).select("canonical", "kind").collect():
            got[(r["canonical"], r["kind"])] += 1
        errors = Counter(
            r["file_id"] for r in _read(spark, os.path.join(self.out, "errors")))

        want = Counter()
        for wave in gen.waves:
            for rec in wave["records"]:
                want[(rec["canonical"], rec["sink"])] += 1
        # rows no planted record explains: what a re-processed resend adds
        extra = sum((got - want).values())
        tally = Tally(self.WARMUP_WAVES)
        for w, wave in enumerate(gen.waves):
            for rec in wave["records"]:
                key = (rec["canonical"], rec["sink"])
                tally.add(w, f"{rec['canonical']} → {rec['sink']}",
                          None if got[key] == want[key]
                          else f"{got[key]} rows, want {want[key]}")
            n_err = errors.get(wave["trunc_file_id"], 0)
            tally.add(w, "truncated file → errors",
                      None if n_err == 1 else f"{n_err} error rows")
            tally.add(w, "resent file → nothing new",
                      None if extra == 0 else f"{extra} unplanned rows")
        accepted = {c for (c, s) in got if s == "accepted"}
        want_acc = {c for (c, s) in want if s == "accepted"}
        idx = spark.table(self.TABLE)
        n_idx, n_distinct = idx.count(), idx.select("canonical").distinct().count()
        want_idx = len(gen.SEEDS) + sum(
            1 for (c, s) in want if s in ("accepted", "redirect", "noindex"))
        if not (accepted == want_acc and n_idx == n_distinct == want_idx):
            tally.broken(
                f"accepted set differs by {len(accepted ^ want_acc)}; index "
                f"rows {n_idx} (distinct {n_distinct}), want {want_idx}")
        return tally.result()


# -------------------------------------------------------------------------


class QueryMix(Workload):
    """The registry's read-only plans at sf0.1 on seeded tables; one step
    is one pass over the mix, each query built by its registry function
    and forced with a no-op write (every column computed, nothing
    collected)."""

    def setup(self):
        import __spark_entry__ as entry

        from da_transform_judgments_pipeline_spark.operators import dedup

        self.dedup = dedup
        self.sf_dir = os.path.join(self.run_dir, "tables")
        inputs.write_tables(self.seed, self.sf_dir, QUERY_SF)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {n: registry[n] for n in QUERY_MIX}
        self.oracles = {n: oracles[n] for n in QUERY_MIX}
        self.times: dict[str, list[float]] = defaultdict(list)
        self.failed_steps: dict[str, set] = defaultdict(set)
        self.passes = 0
        # warm-up pass: the results the check compares (collected once)
        self.spark_hash = {}
        self.setup_errors = {}
        for name, fn in self.fns.items():
            try:
                pdf = fn(self.spark, self.sf_dir).toPandas()
                self.spark_hash[name] = value_hash(pdf)
            except Exception as exc:  # noqa: BLE001 — reported by check()
                self.setup_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                dedup.release_cached()

    def step(self, sid):
        t = self.tracer
        self.passes += 1
        for name, fn in self.fns.items():
            qid = _qid(name)
            p0 = time.perf_counter()
            try:
                with _maybe(t, "queries.plan"):
                    df = fn(self.spark, self.sf_dir)
                with _maybe(t, "queries.exec"), _maybe(t, f"queries.exec.{qid}"):
                    df.write.format("noop").mode("overwrite").save()
                # one execution = plan build + forcing action
                self.times[name].append(time.perf_counter() - p0)
            except Exception:  # noqa: BLE001 — counted as a failed op
                self.failed_steps[name].add(sid)
            finally:
                self.dedup.release_cached()

    def end_to_end(self, step_walls):
        """Adds ``op_geomean_s``: the geometric mean of each query's
        median time, so a gain on a short query is not hidden behind
        the long codec query."""
        meds = [statistics.median(v) for v in self.times.values() if v]
        return {"op_geomean_s": (
            math.exp(sum(math.log(m) for m in meds) / len(meds)), "s")}

    def layer_metrics(self, steps):
        t = self.tracer
        out = super().layer_metrics(steps)
        for span in ("queries.plan", "queries.exec"):
            out[f"{span}_s"] = (statistics.median(
                t.total(span, s) for s in steps), "s")
        for name in QUERY_MIX:
            span = f"queries.exec.{_qid(name)}"
            out[f"queries.{_qid(name)}_s"] = (statistics.median(
                t.total(span, s) for s in steps), "s")
        return out

    def check(self):
        import duckdb

        con = duckdb.connect()
        for table in os.listdir(self.sf_dir):
            name = table.rsplit(".", 1)[0]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, table)}')")
        problems = []
        bad = set()
        for name in QUERY_MIX:
            if name in self.setup_errors:
                bad.add(name)
                problems.append(f"{name}: {self.setup_errors[name]}")
                continue
            pdf = con.execute(self.oracles[name]).fetch_arrow_table().to_pandas()
            if value_hash(pdf) != self.spark_hash[name]:
                bad.add(name)
                problems.append(f"{name}: value hash differs from the oracle")
        con.close()
        n_steps = self.passes
        attempted = n_steps * len(QUERY_MIX)
        failed = sum(
            n_steps if name in bad else len(self.failed_steps[name])
            for name in QUERY_MIX)
        return {"ok": attempted - failed, "attempted": attempted,
                "failed": failed, "correct": True, "problems": problems}


def _maybe(tracer, name):
    import contextlib

    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _norm(v) -> str:
    """The value-hash rule of ``scripts/selfcheck.py``: type-sensitive
    rendering (int 0 and float 0.0 differ), floats rounded to 6 places,
    NaN as NULL, bytes as hex."""
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (AttributeError, ValueError):
            pass
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive sha256 over the rows, each rendered with its
    columns sorted by name; the sorted column names are hashed too."""
    import hashlib

    cols = sorted(pdf.columns)
    lines = sorted(
        "\x01".join(_norm(v) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x02".join(cols).encode())
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


WORKLOADS = {
    "intake_stream": IntakeStream,
    "crawl_waves": CrawlWaves,
    "query_mix": QueryMix,
}
