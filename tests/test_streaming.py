"""Streaming orchestrator tests (SURVEY.md §2.7 T1-T10).

Mirrors the reference's module-test scenarios offline: ok-path dispatch,
duplicate resend dedup (test_tdr_duplicate_resend_parallel.py), retry
routing with limit <3 (test_tdr_bagit_retry.py:64-78), dead-letter alerts
(tre_dlq_slack_alerts.py), and the editorial retry-sequence state
(tre_editorial_integration.py:504-509).
"""

import json
import time

import pytest
from pyspark.sql import functions as F

from da_transform_judgments_pipeline_spark.plans import events as ev
from da_transform_judgments_pipeline_spark.streaming import (
    orchestrator,
    retry_state,
)


def _event(reference, event_name="bagit-available", retries=0, env="test"):
    return ev.create_event(
        environment=env,
        producer="TRE",
        process="test-harness",
        event_name=event_name,
        parameters={
            event_name: {
                "reference": reference,
                "number-of-retries": retries,
            }
        },
        type="judgment",
    )


def _write_events(path, events, name="batch.jsonl"):
    path.mkdir(parents=True, exist_ok=True)
    (path / name).write_text(
        "\n".join(json.dumps(e) for e in events) + "\n"
    )


def _run(spark, tmp_path, events, alert=None, stages=None):
    indir = tmp_path / "in"
    _write_events(indir, events)
    out = tmp_path / "out"
    q = orchestrator.run_pipeline(
        spark,
        str(indir),
        str(out),
        str(tmp_path / "ckpt"),
        stages=stages,
        alert=alert,
    )
    q.awaitTermination(60)
    return out


def _read(spark, path):
    try:
        return spark.read.parquet(str(path))
    except Exception:
        return None


def test_ok_path_dispatch(spark, tmp_path):
    """Ok events dispatch with their T8 attributes. The stream keeps no
    state: one availableNow call over one file runs one micro-batch and
    the checkpoint has no state/ dir; on the same checkpoint a message
    stamped an hour before an earlier one still routes, and a verbatim
    resend in a later file is dropped by the ledger. A sink no row
    routes to is not written, the batch's actions share one cached
    guarded batch, and no batch stays cached."""
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    aaa = _event("TDR-2023-AAA")
    indir = tmp_path / "in"
    _write_events(indir, [aaa, _event("TDR-2023-BBB")])
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def call():
        q = orchestrator.run_pipeline(spark, str(indir), str(out), str(ckpt))
        q.awaitTermination(60)
        return q

    q = call()
    assert len(q.recentProgress) == 1
    assert not (ckpt / "state").exists()
    got = _read(spark, out / "events")
    refs = {r["reference"] for r in got.collect()}
    assert refs == {"TDR-2023-AAA", "TDR-2023-BBB"}
    assert {r["route"] for r in got.collect()} == {"ok"}
    # T8 message attributes present
    assert {"attr_environment", "attr_event_name"} <= set(got.columns)

    late = _event("TDR-2023-LATE")
    late["timestamp"] = aaa["timestamp"] - 3600 * 10**9
    _write_events(indir, [late, aaa], name="later.jsonl")
    q = call()
    # every action reads the one cached guarded batch (8 jobs); actions
    # that each re-ran the ledger read and anti-join go past the bound.
    # A bound, not an exact count: AQE varies the job split
    n_jobs = len(
        spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    )
    assert n_jobs <= 9, f"second call ran {n_jobs} jobs"
    got = _read(spark, out / "events").collect()
    assert sorted(r["reference"] for r in got) == [
        "TDR-2023-AAA", "TDR-2023-BBB", "TDR-2023-LATE"
    ]
    assert not (out / "retries").exists()
    assert not (out / "dlq").exists()
    # <=: the context cleaner may drop other tests' RDDs meanwhile
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= cached_before


def test_duplicate_resend_dedup(spark, tmp_path):
    e = _event("TDR-2023-DUP")
    out = _run(spark, tmp_path, [e, e, e])  # same latest_uuid resent 3x
    got = _read(spark, out / "events").collect()
    assert len(got) == 1  # T3: one execution per idempotency key


def test_retry_and_dead_letter_routing(spark, tmp_path):
    alerts = []
    events = [
        _event("TDR-2023-R0", "bagit-validation-error", retries=0),
        _event("TDR-2023-R2", "bagit-validation-error", retries=2),
        _event("TDR-2023-OK", "bagit-validated", retries=0),
    ]
    out = _run(spark, tmp_path, events, alert=alerts.extend)
    retries = _read(spark, out / "retries").collect()
    dlq = _read(spark, out / "dlq").collect()
    oks = _read(spark, out / "events").collect()
    assert [r["reference"] for r in retries] == ["TDR-2023-R0"]
    assert [r["reference"] for r in dlq] == ["TDR-2023-R2"]
    assert [r["reference"] for r in oks] == ["TDR-2023-OK"]
    # T6: alert fired for the dead-lettered consignment
    assert len(alerts) == 1 and alerts[0]["reference"] == "TDR-2023-R2"


def test_retry_counter_increments_to_dead_letter(spark, tmp_path):
    """T4 reference parity (test_tdr_bagit_retry.py:64-78 shape): one
    failing event driven through the pipeline purely via the
    orchestrator's OWN re-queue output — counter 0 re-queues as 1, 1
    re-queues as 2, 2 dead-letters. The embedded payload counter must
    match the routing column at every hop (no livelock at a stale 0)."""
    ev0 = _event("TDR-RETRY-LOOP", "bagit-validation-error", retries=0)
    out = _run(spark, tmp_path, [ev0])
    for hop in (1, 2):
        retry_rows = _read(spark, out / "retries").collect()
        assert len(retry_rows) == hop
        latest = max(retry_rows, key=lambda r: r["retries"])
        assert latest["retries"] == hop
        # the re-queue feed's event text carries the bumped counter
        embedded = json.loads(latest["value"])
        payload = embedded["parameters"]["bagit-validation-error"]
        if isinstance(payload, str):
            payload = json.loads(payload)
        assert payload["number-of-retries"] == hop
        # feed the orchestrator its own re-queue output as the next batch
        indir = tmp_path / "in"
        (indir / f"requeue{hop}.jsonl").write_text(latest["value"] + "\n")
        q = orchestrator.run_pipeline(
            spark,
            str(indir),
            str(out),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(60)
    dlq = _read(spark, out / "dlq").collect()
    assert [r["reference"] for r in dlq] == ["TDR-RETRY-LOOP"]
    assert dlq[0]["retries"] == 2  # counter 2 => FAILED (retry limit <3)


def test_unknown_event_name_routes_to_invalid(spark, tmp_path):
    """P12/schema.json:48-55 parity: an event-name outside the enum routes
    to `invalid` (dlq), not to the ok stream."""
    bad = _event("TDR-BAD-NAME", "bagit-available")
    bad["producer"]["event-name"] = "not-a-real-event"
    bad["parameters"]["not-a-real-event"] = bad["parameters"].pop(
        "bagit-available"
    )
    out = _run(spark, tmp_path, [bad, _event("TDR-FINE")])
    dlq = _read(spark, out / "dlq").collect()
    assert len(dlq) == 1 and dlq[0]["route"] == "invalid"
    assert "invalid-event-name" in dlq[0]["errors"]
    oks = _read(spark, out / "events").collect()
    assert [r["reference"] for r in oks] == ["TDR-FINE"]


def test_invalid_event_routes_to_dlq(spark, tmp_path):
    """Unparseable envelopes dead-letter keyed on a digest of their text:
    two different bad lines sent in two calls on one checkpoint give two
    DLQ rows and two alerts, and a verbatim resend of one adds none."""
    indir = tmp_path / "in"
    indir.mkdir(parents=True)
    out = tmp_path / "out"
    alerts = []

    def call(name, line):
        (indir / name).write_text(line + "\n")
        q = orchestrator.run_pipeline(
            spark, str(indir), str(out), str(tmp_path / "ckpt"),
            alert=alerts.extend,
        )
        q.awaitTermination(60)

    call("bad.jsonl", '{"not": "an event"}')
    dlq = _read(spark, out / "dlq").collect()
    assert len(dlq) == 1 and dlq[0]["route"] == "invalid"
    assert len(alerts) == 1
    call("bad2.jsonl", "not json at all")
    call("bad3.jsonl", '{"not": "an event"}')
    dlq = _read(spark, out / "dlq").collect()
    assert sorted(r["value"] for r in dlq) == [
        "not json at all", '{"not": "an event"}'
    ]
    assert {r["route"] for r in dlq} == {"invalid"}
    assert len(alerts) == 2


def test_stage_dispatch_and_replay_guard(spark, tmp_path):
    seen_refs = []

    def stage(spark_, batch):
        seen_refs.extend(r["reference"] for r in batch.collect())
        return None

    e = _event("TDR-2023-STG", "bagit-available")
    out = _run(
        spark, tmp_path, [e], stages={"bagit-available": stage}
    )
    assert seen_refs == ["TDR-2023-STG"]
    # replay the same event through a second run (fresh checkpoint → the
    # stream re-reads it); the T10 processed-key guard must drop it
    q = orchestrator.run_pipeline(
        spark,
        str(tmp_path / "in"),
        str(out),
        str(tmp_path / "ckpt2"),
        stages={"bagit-available": stage},
    )
    q.awaitTermination(60)
    assert seen_refs == ["TDR-2023-STG"]


def test_retry_state_sequence(spark, tmp_path):
    indir = tmp_path / "in"
    events = [
        _event("TDR-A", retries=0),
        _event("TDR-A", retries=1),
        _event("TDR-A", retries=3),  # gap: expected 2
        _event("TDR-B", retries=1),  # gap: first must be 0
    ]
    _write_events(indir, events)
    stream = orchestrator.with_identity(
        orchestrator.read_event_stream(spark, str(indir))
    )
    judged = retry_state.track_retries(stream)
    q = (
        judged.writeStream.format("memory")
        .queryName(f"retryjudge_{int(time.time())}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql(f"select * from {q.name} order by reference, retry").collect()
    got = [(r["reference"], r["retry"], r["status"]) for r in rows]
    assert got == [
        ("TDR-A", 0, "accepted"),
        ("TDR-A", 1, "accepted"),
        ("TDR-A", 3, "gap"),
        ("TDR-B", 1, "gap"),
    ]


def test_replay_guard_unit(spark):
    """replay_guard: seen keys drop, unseen pass, None ledger is identity,
    and the plan broadcasts the ledger (never shuffles the batch)."""
    batch = spark.createDataFrame(
        [("k1", 1), ("k2", 2), ("k3", 3)], ["exec_name", "payload"]
    )
    seen = spark.createDataFrame([("k2",)], ["exec_name"])
    out = orchestrator.replay_guard(batch, seen)
    assert sorted(r["exec_name"] for r in out.collect()) == ["k1", "k3"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert orchestrator.replay_guard(batch, None) is batch


def test_event_validation_dict_df_parity(spark):
    """r13 (per r12 verdict): the DataFrame validator and the dict-path
    validator agree on EVERY defect class the reference's JSON Schema
    enforces — including the lineage UUID value pattern
    (schema.json:19) and the -UUID key-suffix shape, the last checks
    the DF twin used to wave through."""
    good = "0123abcd-0000-4000-8000-0123456789ab"

    def mk(uuids, name="TRE", typ="judgment"):
        return {
            "version": "1.0.0", "timestamp": 7, "UUIDs": uuids,
            "producer": {"environment": "test", "name": name,
                         "process": "x", "type": typ,
                         "event-name": "bagit-available"},
            "parameters": {},
        }

    cases = [
        mk([{"TRE-UUID": good}]),                        # valid
        mk([{"TRE-UUID": good.replace("-", "")}]),       # undashed value
        mk([{"TRE-UUID": good.upper()}]),                # uppercase hex
        mk([{"TRE UUID": good}]),                        # malformed key
        mk([{"A-UUID": good, "B-UUID": good}]),          # two-key entry
        mk([]),                                          # empty lineage
        mk([{"TRE-UUID": good}], name=None),             # missing name
        mk([{"TRE-UUID": good}], typ="litigation"),      # bad type
        mk([{"TRE-UUID": good}, {"X-UUID": "nope"}]),    # bad LATEST
    ]
    dict_verdicts = []
    for c in cases:
        try:
            ev.validate_event(c)
            dict_verdicts.append(True)
        except ValueError:
            dict_verdicts.append(False)
    df = spark.createDataFrame(
        [(i, ev.event_to_json(c)) for i, c in enumerate(cases)],
        "i int, value string",
    )
    out = ev.validate_events(ev.parse_events(df)).orderBy("i").collect()
    df_verdicts = [len(r["errors"]) == 0 for r in out]
    assert df_verdicts == dict_verdicts == [True] + [False] * 8


def test_retry_state_batch_twin(spark):
    df = spark.createDataFrame(
        [("A", 0), ("A", 1), ("A", 3), ("B", 1)], ["reference", "retries"]
    )
    got = {
        (r["reference"], r["retry"]): r["status"]
        for r in retry_state.track_retries_batch(df).collect()
    }
    assert got == {
        ("A", 0): "accepted",
        ("A", 1): "accepted",
        ("A", 3): "gap",
        ("B", 1): "gap",
    }


def test_streaming_incremental_dedup(spark, tmp_path):
    """Streaming ingestion dedup: wave 1 seeds docs into the index; wave 2
    contains a near-copy of a wave-1 STREAMED doc (not just the prebuilt
    corpus) — proving the index grows mid-stream and later batches dedup
    against earlier ones."""
    import json

    from da_transform_judgments_pipeline_spark.operators import dedup
    from da_transform_judgments_pipeline_spark.streaming.dedup_stream import (
        run_dedup_stream,
    )

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(40))

    prefix = "mh_idx_teststream"
    seed = spark.createDataFrame([(0, doc(0))], ["doc_id", "text"])
    dedup.build_minhash_index(
        seed, prefix, path=str(tmp_path / "idx"), buckets=4
    )
    src = tmp_path / "drop"
    src.mkdir()
    out = tmp_path / "out"
    try:
        # wave 1: two novel docs
        (src / "w1.json").write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": doc(i)}) for i in (10, 11)
            )
        )
        run_dedup_stream(
            spark, str(src), prefix, str(out)
        ).awaitTermination(120)
        # wave 2: near-copy of streamed doc 10 + novel doc
        (src / "w2.json").write_text(
            "\n".join(
                json.dumps(d)
                for d in (
                    {"doc_id": 20, "text": doc(10) + " tail"},
                    {"doc_id": 21, "text": doc(21)},
                )
            )
        )
        run_dedup_stream(
            spark, str(src), prefix, str(out)
        ).awaitTermination(120)

        dups = spark.read.parquet(str(out / "duplicates")).collect()
        assert [(r.id_new, r.id_old) for r in dups] == [(20, 10)]
        accepted = {
            r.doc_id
            for r in spark.read.parquet(str(out / "accepted")).collect()
        }
        assert accepted == {10, 11, 21}
        # the duplicate never joined the index
        idx_ids = {
            r.id for r in spark.table(f"{prefix}_hp").select("id").collect()
        }
        assert idx_ids == {0, 10, 11, 21}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_hp")
        dedup.release_cached()


def test_streaming_sessionization_gap_and_timeout(spark, tmp_path):
    """Stateful streaming sessionization (sessions.sessionize_stream):
    a same-user event past the gap closes the open session ("gap"); a
    user who stops sending is closed by the WATERMARK passing their gap
    horizon ("timeout") — state must not outlive its session. Three
    availableNow waves over one checkpoint exercise restart-persistent
    state: wave 2's events close user 1's first session by gap; wave 3's
    watermark advance fires user 2's event-time timeout."""
    import json as _json

    from da_transform_judgments_pipeline_spark.streaming import sessions

    indir = tmp_path / "sess_in"
    indir.mkdir(parents=True)
    ckpt = str(tmp_path / "sess_ckpt")
    outdir = str(tmp_path / "sess_out")
    t0 = 1_700_000_000  # epoch seconds

    def _wave(fname, rows):
        (indir / fname).write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": ts, "value": v})
                for u, ts, v in rows
            )
            + "\n"
        )

    def _run():
        schema = "user_id long, ts timestamp, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .json(str(indir))
        )
        # file sink (memory sink cannot recover a checkpoint across the
        # three separate availableNow runs that model restarts)
        q = (
            sessions.sessionize_stream(stream, gap_seconds=1800)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def _iso(sec):
        import datetime as dt

        return dt.datetime.fromtimestamp(
            sec, dt.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S")

    # wave 1: user 1 two close events (open session), user 2 one event
    _wave("w1.jsonl", [(1, _iso(t0), 1.0), (1, _iso(t0 + 10), 2.0),
                       (2, _iso(t0), 5.0)])
    _run()
    # wave 2: user 1 returns past the gap -> closes their first session
    _wave("w2.jsonl", [(1, _iso(t0 + 3600), 3.0)])
    _run()
    # wave 3: far-future event advances the watermark past user 2's
    # horizon -> their session times out during this run
    _wave("w3.jsonl", [(9, _iso(t0 + 7200), 0.0)])
    _run()

    rows = (
        spark.read.parquet(outdir).orderBy("user_id", "start_us").collect()
    )
    got = {
        (r.user_id, r.closed_by): (r.start_us, r.end_us, r.n_events,
                                   r.sum_value)
        for r in rows
    }
    us = 1_000_000
    assert got[(1, "gap")] == (t0 * us, (t0 + 10) * us, 2, 3.0)
    assert got[(2, "timeout")] == (t0 * us, t0 * us, 1, 5.0)


def test_stream_stream_attribution_join(spark, tmp_path):
    """attribution_join over two FILE-SOURCE streams: pairs emitted
    across microbatches match the batch twin exactly — the stream-stream
    inner join with event-time range bounds (the predicate shape that
    lets Spark drop both sides' state)."""
    import json

    from da_transform_judgments_pipeline_spark.streaming.windows import (
        attribution_join,
    )

    clicks_dir, views_dir = tmp_path / "clicks", tmp_path / "views"
    clicks_dir.mkdir(), views_dir.mkdir()

    def write(d, name, rows):
        (d / name).write_text(
            "\n".join(
                json.dumps({"user_id": u, "ts": ts, "event_id": i})
                for u, ts, i in rows
            )
        )

    # wave 1: user 1 view@00, click@10 (pair); user 2 view@00 only
    write(views_dir, "v1.json", [(1, "2024-01-01 00:00:00", 100),
                                 (2, "2024-01-01 00:00:00", 101)])
    write(clicks_dir, "c1.json", [(1, "2024-01-01 00:10:00", 200)])
    # wave 2: user 2 click@20 pairs with wave-1 view (cross-batch state);
    # user 1 click@50 is 50 min after the view — outside `within`
    write(clicks_dir, "c2.json", [(2, "2024-01-01 00:20:00", 201),
                                  (1, "2024-01-01 00:50:00", 202)])

    schema = "user_id long, ts string, event_id long"

    def src(d):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
            .withColumn("ts", F.to_timestamp("ts"))
        )

    out = attribution_join(src(clicks_dir), src(views_dir))
    q = (
        out.select("user_id", "click_event_id", "view_event_id")
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.user_id, r.click_event_id, r.view_event_id)
            for r in spark.sql("select * from attrib").collect()
        )
    finally:
        q.stop()
    assert got == [(1, 200, 100), (2, 201, 101)]


def test_compact_minhash_index_preserves_results_and_plan(spark, tmp_path):
    """After N appends each bucket holds ~N small files; compaction must
    shrink the file count to ~one per bucket while (a) the incremental
    lookup returns identical pairs and (b) the bucketed no-corpus-
    Exchange join plan survives (same exchange_count as before)."""
    from da_transform_judgments_pipeline_spark.operators import dedup
    from da_transform_judgments_pipeline_spark.operators.scale import (
        exchange_count,
    )
    from da_transform_judgments_pipeline_spark.streaming.dedup_stream import (
        append_to_minhash_index,
        compact_minhash_index,
    )

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(40))

    prefix = "mh_idx_testcompact"
    dedup.build_minhash_index(
        spark.createDataFrame([(0, doc(0))], ["doc_id", "text"]),
        prefix, path=str(tmp_path / "idx"), buckets=4,
    )
    try:
        for wave in range(3):
            batch = spark.createDataFrame(
                [(10 + wave * 10 + j, doc(10 + wave * 10 + j)) for j in range(3)],
                ["doc_id", "text"],
            )
            append_to_minhash_index(batch, prefix)
            dedup.release_cached()

        probe = spark.createDataFrame(
            [(500, doc(21) + " tail"), (501, doc(501))], ["doc_id", "text"]
        )

        def lookup():
            out = dedup.incremental_near_duplicates(
                probe, spark, prefix, threshold=0.9
            )
            n_ex = exchange_count(out)
            rows = sorted((r.id_new, r.id_old) for r in out.collect())
            dedup.release_cached()
            return rows, n_ex

        before_rows, before_ex = lookup()
        assert before_rows == [(500, 21)]

        stats = compact_minhash_index(spark, prefix)
        for t in ("bands", "hp"):
            assert stats[t]["files_after"] < stats[t]["files_before"], stats
            assert stats[t]["files_after"] <= 4  # ~one per bucket
        after_rows, after_ex = lookup()
        assert after_rows == before_rows
        assert after_ex == before_ex  # bucketing contract intact
        # index contents survived bit-for-bit
        ids = {r.id for r in spark.table(f"{prefix}_hp").collect()}
        assert ids == {0} | {10 + w * 10 + j for w in range(3) for j in range(3)}
    finally:
        for t in ("bands", "hp"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}_compacting")
        dedup.release_cached()


def test_compact_ivf_index_identical_probes_fewer_files(spark, tmp_path):
    """IVF compaction: after 3 appends the cluster dirs hold many small
    files; compact to ~one per cluster with bit-identical probe results
    (exact endpoint nprobe=n_cells compared before/after)."""
    import numpy as np

    from da_transform_judgments_pipeline_spark.operators import (
        clustering,
        similarity,
    )

    rng = np.random.RandomState(11)
    mat = rng.randn(120, 16)

    def frame(lo, hi):
        return spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(lo, hi)],
            ["vec_id", "embedding"],
        )

    path = str(tmp_path / "ivf")
    cent = clustering.kmeans_fit(frame(0, 60), k=4, updates=1)
    similarity.build_ivf_index(frame(0, 60), path, cent)
    for lo in (60, 80, 100):
        similarity.append_to_ivf_index(frame(lo, lo + 20), path, cent)

    q = [float(x) for x in mat[7]]
    before = [
        (r.id, r.cosine)
        for r in similarity.ivf_topk(spark, path, cent, q, k=10, nprobe=4)
        .collect()
    ]
    stats = similarity.compact_ivf_index(spark, path)
    assert stats["rows"] == 120
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["files_after"] <= 4  # one per cluster
    after = [
        (r.id, r.cosine)
        for r in similarity.ivf_topk(spark, path, cent, q, k=10, nprobe=4)
        .collect()
    ]
    assert after == before
    import os
    assert not os.path.exists(path + "_compacting")


def test_pipeline_chaos_restart_exactly_once(spark, tmp_path):
    """T2/T3/T4/T9/T10 COMPOSED under failure: one continuous pipeline
    (one checkpoint) driven through 3 waves with (a) an injected crash in
    the worst-case window — after every sink append including the
    processed ledger, before the offset commit — forcing a full batch
    replay on restart, (b) a verbatim duplicate resend in the same wave
    (T3 in-batch dedup) AND across restart (T10 ledger — the stream keeps
    no dedup state), and (c) the failing event driven around the
    retry loop via the pipeline's own re-queue output until dead-letter.
    Exactly-once at every sink: zero duplicate dispatches, retry counters
    1 then 2, one DLQ row, one alert."""
    indir = tmp_path / "in"
    indir.mkdir()
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    alerts = []

    ok_event = _event("TDR-CHAOS-OK", "bagit-validated")
    bad_event = _event("TDR-CHAOS-BAD", "bagit-validation-error", retries=0)
    wave1 = "\n".join(
        json.dumps(e) for e in (ok_event, bad_event, ok_event)  # in-wave dup
    ) + "\n"
    (indir / "wave1.jsonl").write_text(wave1)

    class Bomb(Exception):
        pass

    armed = {"crash": True}

    def chaos_hook(batch_id):
        if armed["crash"]:
            armed["crash"] = False
            raise Bomb("injected crash after sinks, before offset commit")

    def run_wave():
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        q = orchestrator.run_pipeline(
            spark, str(indir), str(out), ckpt,
            alert=alerts.extend, on_batch_complete=chaos_hook,
        )
        try:
            q.awaitTermination(120)
        except StreamingQueryException as exc:
            return exc
        finally:
            if q.isActive:
                q.stop()
        return None

    # wave 1, attempt 1: crashes post-sinks. The query must FAIL (offsets
    # uncommitted), with all sinks already written once.
    failure = run_wave()
    assert failure is not None and "Bomb" in str(failure)

    # restart, same checkpoint: the batch replays, the T10 ledger swallows
    # every row — sinks must NOT double up.
    run_wave()
    events_rows = _read(spark, out / "events").collect()
    assert [r["reference"] for r in events_rows] == ["TDR-CHAOS-OK"]
    retries_rows = _read(spark, out / "retries").collect()
    assert [(r["reference"], r["retries"]) for r in retries_rows] == [
        ("TDR-CHAOS-BAD", 1)
    ]

    # wave 2: verbatim resend of wave 1 (cross-restart duplicate — T3
    # only dedups within a batch; only the T10 ledger can stop it) + the
    # pipeline's own re-queue output fed back (retry hop 1 → 2)
    (indir / "wave2.jsonl").write_text(wave1)
    (indir / "wave2-requeue.jsonl").write_text(
        retries_rows[0]["value"] + "\n"
    )
    run_wave()
    events_rows = _read(spark, out / "events").collect()
    assert [r["reference"] for r in events_rows] == ["TDR-CHAOS-OK"]
    retries_rows = _read(spark, out / "retries").collect()
    assert sorted(
        (r["reference"], r["retries"]) for r in retries_rows
    ) == [("TDR-CHAOS-BAD", 1), ("TDR-CHAOS-BAD", 2)]
    assert _read(spark, out / "dlq") is None

    # wave 3: feed the hop-2 re-queue — at the limit → dead-letter + alert
    hop2 = max(retries_rows, key=lambda r: r["retries"])
    (indir / "wave3-requeue.jsonl").write_text(hop2["value"] + "\n")
    run_wave()
    dlq = _read(spark, out / "dlq").collect()
    assert [(r["reference"], r["retries"]) for r in dlq] == [
        ("TDR-CHAOS-BAD", 2)
    ]
    assert len(alerts) == 1 and alerts[0]["reference"] == "TDR-CHAOS-BAD"
    # final exactly-once audit: ok dispatched once across 3 deliveries +
    # a replayed batch; ledger holds each exec_name exactly once
    events_rows = _read(spark, out / "events").collect()
    assert len(events_rows) == 1
    processed = [
        r["exec_name"] for r in _read(spark, out / "processed").collect()
    ]
    assert len(processed) == len(set(processed))


def test_pipeline_pre_ledger_crash_replays_exactly_once(spark, tmp_path):
    """The crawl_stream exactly-once posture applied to run_pipeline: a
    crash BETWEEN the event-sink writes and the ledger write forces a
    full-batch replay, and the batch_key-partitioned dynamic-overwrite
    sinks must REPLACE the crashed attempt's rows rather than
    re-appending — zero duplicate event/ledger rows after recovery,
    and a later cross-checkpoint resend still dies at the guard."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    indir = tmp_path / "in"
    _write_events(indir, [_event("TDR-PRELEDGER", "bagit-available")])
    out = tmp_path / "out"

    orig = orchestrator.write_batch_partition
    armed = {"on": True}

    def chaotic(df, path, key, writer=None):
        if armed["on"] and path.endswith("/processed"):
            armed["on"] = False
            raise RuntimeError("injected crash before the ledger write")
        return orig(df, path, key, writer)

    orchestrator.write_batch_partition = chaotic
    try:
        q = orchestrator.run_pipeline(
            spark, str(indir), str(out), str(tmp_path / "ckpt")
        )
        with pytest.raises(StreamingQueryException, match="injected"):
            q.awaitTermination(120)
        if q.isActive:
            q.stop()
        # events were already on disk when the crash hit
        assert len(_read(spark, out / "events").collect()) == 1
        # restart, same checkpoint: the batch replays in full
        q = orchestrator.run_pipeline(
            spark, str(indir), str(out), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
    finally:
        orchestrator.write_batch_partition = orig
    evs = _read(spark, out / "events").collect()
    assert [r["reference"] for r in evs] == ["TDR-PRELEDGER"]
    led = [r["exec_name"] for r in
           _read(spark, out / "processed").collect()]
    assert len(led) == len(set(led)) == 1
    # cross-checkpoint resend of the same event: guard drops it
    q = orchestrator.run_pipeline(
        spark, str(indir), str(out), str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    assert len(_read(spark, out / "events").collect()) == 1


def test_compact_processed_ledger_preserves_replay_guard(spark, tmp_path):
    """After several batches (and a crash replay writing duplicate ledger
    rows) the processed ledger holds many small files; compaction must
    shrink the file count, dedupe keys, and leave the T10 guard dropping
    exactly the same resends."""
    indir = tmp_path / "in"
    indir.mkdir()
    out = tmp_path / "out"
    for wave in range(3):
        (indir / f"w{wave}.jsonl").write_text(
            json.dumps(_event(f"TDR-LEDGER-{wave}", "bagit-validated")) + "\n"
        )
        q = orchestrator.run_pipeline(
            spark, str(indir), str(out), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    # n_files=1: with partitioned-overwrite ledgers each batch already
    # writes exactly one file, so the shrink is 3 partitions → 1 file
    stats = orchestrator.compact_processed_ledger(
        spark, str(out), n_files=1
    )
    assert stats["keys"] == 3
    assert stats["files_after"] < stats["files_before"], stats

    # resend every wave verbatim: the guard must still drop them all
    for wave in range(3):
        (indir / f"resend{wave}.jsonl").write_text(
            (indir / f"w{wave}.jsonl").read_text()
        )
    q = orchestrator.run_pipeline(
        spark, str(indir), str(out), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    events_rows = _read(spark, out / "events").collect()
    assert sorted(r["reference"] for r in events_rows) == [
        "TDR-LEDGER-0", "TDR-LEDGER-1", "TDR-LEDGER-2"
    ]
    import os
    assert not os.path.exists(str(out / "processed_compacting"))


def test_compact_index_table_repeat_and_crash_leftovers(spark, tmp_path):
    """Two compaction hardening properties: (a) repeated compactions
    append the _compact_<hex> suffix to the STABLE base path — locations
    never compound unboundedly; (b) a leftover external staging table
    from a crashed run is dropped AND its data files are deleted before
    the new run stages (DROP alone would orphan a full copy forever)."""
    import os
    import re

    from da_transform_judgments_pipeline_spark.operators import dedup
    from da_transform_judgments_pipeline_spark.operators.scale import (
        write_bucketed,
    )
    from da_transform_judgments_pipeline_spark.streaming.dedup_stream import (
        compact_index_table,
    )

    def doc(i):
        return " ".join(f"q{i}r{j}" for j in range(40))

    prefix = "mh_idx_testrepeat"
    dedup.build_minhash_index(
        spark.createDataFrame(
            [(i, doc(i)) for i in range(4)], ["doc_id", "text"]
        ),
        prefix, path=str(tmp_path / "ridx"), buckets=4,
    )
    dedup.release_cached()
    table = f"{prefix}_bands"
    try:
        s1 = compact_index_table(spark, table)
        s2 = compact_index_table(spark, table)
        # one suffix only, applied to the stable base — never stacked
        assert re.search(r"_compact_[0-9a-f]{8}$", s2["location"])
        assert not re.search(
            r"(_compact_[0-9a-f]{8}){2,}$", s2["location"]
        )
        assert s1["rows"] == s2["rows"]

        # simulate a crashed previous run: a leftover EXTERNAL staging
        # table with its own data files
        stale_loc = str(tmp_path / "stale_staging")
        write_bucketed(
            spark.table(table), f"{table}_compacting", "band",
            buckets=4, mode="overwrite", path=stale_loc,
        )
        assert os.path.isdir(stale_loc)
        s3 = compact_index_table(spark, table)
        assert s3["rows"] == s1["rows"]
        assert not os.path.exists(stale_loc)  # orphaned copy reclaimed
        # the table still reads correctly
        assert spark.table(table).count() == s1["rows"]
    finally:
        for t in ("bands", "hp"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}_compacting")
        dedup.release_cached()


def test_streaming_semantic_dedup(spark, tmp_path):
    """Streaming SemDeDup (dedup_stream.run_semantic_stream): wave 1
    seeds vectors whose near-dups arrive in wave 2 — one duplicating
    the PREBUILT corpus, one duplicating a wave-1 STREAMED vector
    (the index grows mid-stream); pruned rows never reach accepted,
    and the WHOLE batch (kept and pruned) joins the index per the
    exact-state contract."""
    import json

    from da_transform_judgments_pipeline_spark.operators import clustering
    from da_transform_judgments_pipeline_spark.streaming.dedup_stream import (
        run_semantic_stream,
    )

    cents = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0]]
    seed = spark.createDataFrame(
        [(0, [10.0, 0.5, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    table = "sem_idx_teststream"
    src = tmp_path / "drop"
    src.mkdir()
    out = tmp_path / "out"
    try:
        clustering.build_semantic_index(
            seed, cents, table, path=str(tmp_path / "semidx"), buckets=2
        )
        (src / "w1.json").write_text(
            "\n".join(
                json.dumps({"vec_id": i, "embedding": v})
                for i, v in [
                    (10, [0.0, 10.0, 2.0, 0.0]),
                    (11, [0.0, 0.0, 10.0, 0.0]),
                ]
            )
        )
        run_semantic_stream(
            spark, str(src), table, str(out), cents, threshold=0.99
        ).awaitTermination(120)
        (src / "w2.json").write_text(
            "\n".join(
                json.dumps({"vec_id": i, "embedding": v})
                for i, v in [
                    (20, [10.0, 0.501, 0.0, 0.0]),  # near-dup of corpus 0
                    (21, [0.0, 10.0, 2.001, 0.0]),  # near-dup of STREAMED 10
                    (22, [0.0, 10.0, -9.0, 0.0]),   # novel
                ]
            )
        )
        run_semantic_stream(
            spark, str(src), table, str(out), cents, threshold=0.99
        ).awaitTermination(120)

        pruned = {
            r.vec_id: r.pruned_by
            for r in spark.read.parquet(str(out / "pruned")).collect()
        }
        assert pruned == {20: 0, 21: 10}
        accepted = {
            r.vec_id
            for r in spark.read.parquet(str(out / "accepted")).collect()
        }
        assert accepted == {10, 11, 22}
        # exact-state contract: every streamed vector joined the index
        idx_ids = {r.id for r in spark.table(table).select("id").collect()}
        assert idx_ids == {0, 10, 11, 20, 21, 22}
        # the semantic index is an ordinary bucketed table: the shared
        # compaction lifecycle applies unchanged, and decisions survive
        from da_transform_judgments_pipeline_spark.streaming.dedup_stream import (  # noqa: E501
            compact_index_table,
        )

        stats = compact_index_table(spark, table)
        assert stats["rows"] == 6
        again = clustering.semantic_dedup_incremental(
            spark.createDataFrame(
                [(30, [10.0, 0.502, 0.0, 0.0])],
                "vec_id long, embedding array<double>",
            ),
            spark, table, cents, threshold=0.99,
        ).collect()[0]
        assert not again["kept"] and again["pruned_by"] == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS sem_idx_teststream")
