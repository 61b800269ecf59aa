"""Streaming orchestrator: the reference's SQS/SNS/Step-Functions layer as
Structured Streaming (SURVEY.md §2.7).

Mapping (reference file:line → here):

- T1 trigger fan-out, ≤10 records/batch (tre_sqs_sf_trigger.py:6-9,186-207)
  → file/text readStream with maxFilesPerTrigger + foreachBatch dispatch
- T2 idempotency key `{reference}-{queue}-{latest_uuid}`
  (tre_sqs_sf_trigger.py:144-148) → `exec_name` column
- T3 duplicate-resend tolerance (test_tdr_duplicate_resend_parallel.py)
  → per-micro-batch dropDuplicates on the idempotency key; resends in
  later batches are the T10 guard's
- T4 retry loop, limit <3 (tre_bagit_checksum_validation.py:159-163;
  test_tdr_bagit_retry.py:64-78) → retry-count column + route filter
- T5 ok/error bifurcation (tre_vb_validate_bagit.py:124-161) → route column
- T6 dead-letter → alert (tre_dlq_slack_alerts.py:11-37) → DLQ parquet sink
  + alert callback per batch
- T8 message attributes (tre_forward.py:62-80) → attribute columns carried
  on the output stream
- T10 exactly-once-per-attempt guard (tre_editorial_integration.py:179-191)
  → left-anti join against the processed-key table before dispatch

Scale notes: all per-event work is row-parallel inside foreachBatch and
the stream has no stateful operator: the checkpoint holds only offsets
and commits, and there are no watermarks and no late-data semantics
(SQS handles time in the reference). The DLQ/processed tables are
append-only parquet keyed by the idempotency key, so the T10 guard is a
broadcast-able anti-join at any realistic dead-letter cardinality.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import events as ev

DEFAULT_QUEUE = "tre-in"
RETRY_LIMIT = 3  # retries 0,1 re-queue; 2 ⇒ dead-letter (state machine parity)

ROUTE_OK = "ok"
ROUTE_RETRY = "retry"
ROUTE_DEAD_LETTER = "dead-letter"
ROUTE_INVALID = "invalid"


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """T1 source: one JSON event per line under `path`; batch size mirrors
    the reference's ≤10-records SQS trigger batches."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return ev.parse_events(raw)


def with_identity(df: DataFrame, queue: str = DEFAULT_QUEUE) -> DataFrame:
    """Identity/routing columns from the envelope:

    - `event_name` (dispatch key), `reference` (consignment), `latest_uuid`
      (W1 — newest lineage entry), `exec_name` (T2 idempotency key),
      `retries` (T4 counter from the event's own parameter block),
      `event_time` (envelope ns timestamp as a µs TIMESTAMP).

    An envelope without a reference or lineage (one that does not parse,
    say) is keyed on a digest of its raw text instead, so distinct bad
    messages stay distinct while a verbatim resend still dedups.
    """
    e = F.col("event")
    name = e["producer"]["event-name"]
    payload = F.element_at(e["parameters"], name)
    latest = F.element_at(F.map_values(F.element_at(e["UUIDs"], -1)), 1)
    return (
        df.withColumn("event_name", name)
        .withColumn(
            "reference", F.get_json_object(payload, "$.reference")
        )
        .withColumn("latest_uuid", latest)
        .withColumn(
            "exec_name",
            F.when(
                F.col("reference").isNull() | F.col("latest_uuid").isNull(),
                F.concat_ws("-", F.lit(queue), F.sha2("value", 256)),
            ).otherwise(
                F.concat_ws("-", "reference", F.lit(queue), "latest_uuid")
            ),
        )
        .withColumn(
            "retries",
            F.coalesce(
                F.get_json_object(payload, "$.number-of-retries").cast("int"),
                F.lit(0),
            ),
        )
        .withColumn(
            "event_time",
            F.timestamp_micros((F.col("event")["timestamp"] / 1000).cast("long")),
        )
    )


def route_events(df: DataFrame, retry_limit: int = RETRY_LIMIT) -> DataFrame:
    """T4/T5/T6 route column: invalid envelope → `invalid`; error events
    re-queue while the NEXT attempt would still be under the limit
    (reference parity: counters 0 and 1 re-queue, counter 2 ⇒ FAILED —
    test_tdr_bagit_retry.py:72-77); at/over it → `dead-letter`; everything
    else → `ok`."""
    is_error = F.col("event_name").endswith("-error")
    return ev.validate_events(df).withColumn(
        "route",
        F.when(F.size("errors") > 0, ROUTE_INVALID)
        .when(is_error & (F.col("retries") < retry_limit - 1), ROUTE_RETRY)
        .when(is_error, ROUTE_DEAD_LETTER)
        .otherwise(ROUTE_OK),
    )


def bump_retry_counter(df: DataFrame) -> DataFrame:
    """T4: increment the retry counter on the re-queue feed — in BOTH the
    routing column and the event text's embedded `number-of-retries`
    (reference parity: tre_bagit_checksum_validation.py:159-163 and
    tre_files_checksum_validation.py:144-148 bump the counter in the error
    output-message before the state machine re-queues it).

    Without the embedded bump a re-ingested retry would recompute
    `retries` from the stale payload and re-queue forever at the old
    counter. The envelope is re-serialized from the parsed struct with the
    event's own parameter block rewritten; a payload that never carried the
    key gets it injected. Parameter blocks serialize as JSON-text map
    values (strict-schema parse reads both encodings back identically).

    A fresh `{producer}-UUID` lineage hop is appended too (T7): each retry
    attempt is a NEW execution in the reference (v2 lambdas append a UUID
    to the error event, v1 mints uuid4 per trigger — tdr_message.py:19-41),
    so the re-queued event must carry a new idempotency key or the T10
    replay guard would swallow its own retry.
    """
    e = F.col("event")
    name = F.col("event_name")
    new_n = F.col("retries") + 1
    n_str = new_n.cast("string")
    new_uuids = F.concat(
        e["UUIDs"],
        F.array(
            F.create_map(
                F.concat(e["producer"]["name"], F.lit("-UUID")),
                F.expr("uuid()"),
            )
        ),
    )

    def bumped(v: Column) -> Column:
        has_key = F.get_json_object(v, "$.number-of-retries").isNotNull()
        empty = v.rlike(r"^\s*\{\s*\}\s*$")
        return (
            F.when(
                has_key,
                F.regexp_replace(
                    v,
                    F.lit(r'"number-of-retries"\s*:\s*\d+'),
                    F.concat(F.lit('"number-of-retries": '), n_str),
                ),
            )
            .when(
                empty,
                F.concat(
                    F.lit('{"number-of-retries": '), n_str, F.lit("}")
                ),
            )
            .otherwise(
                F.regexp_replace(
                    v,
                    F.lit(r"\}\s*$"),
                    F.concat(
                        F.lit(', "number-of-retries": '), n_str, F.lit("}")
                    ),
                )
            )
        )

    new_params = F.transform_values(
        e["parameters"],
        lambda k, v: F.when(k == name, bumped(v)).otherwise(v),
    )
    new_value = F.to_json(
        F.struct(
            e["version"].alias("version"),
            e["timestamp"].alias("timestamp"),
            new_uuids.alias("UUIDs"),
            e["producer"].alias("producer"),
            new_params.alias("parameters"),
        )
    )
    # value first: its expression reads the ORIGINAL `retries` column (a
    # withColumn-replaced column would make the lazy reference see the
    # already-bumped counter and double-increment the payload)
    return df.withColumn("value", new_value).withColumn("retries", new_n)


def with_message_attributes(df: DataFrame) -> DataFrame:
    """T8: mirror the fields subscribers filter on as top-level columns
    (SNS MessageAttributes parity: environment, producer, process, type,
    event-name)."""
    p = F.col("event")["producer"]
    return (
        df.withColumn("attr_environment", p["environment"])
        .withColumn("attr_producer", p["name"])
        .withColumn("attr_process", p["process"])
        .withColumn("attr_type", p["type"])
        .withColumn("attr_event_name", p["event-name"])
    )


def replay_guard(batch: DataFrame, seen: DataFrame | None) -> DataFrame:
    """T10 exactly-once-per-attempt guard: drop rows whose idempotency key
    (`exec_name`) was already dispatched. Reference parity: Step Functions'
    unique execution names reject duplicate starts (tdr_message.py:19-41);
    here the ledger + left-anti join is the same contract for arbitrary
    sinks.

    No broadcast hint: the processed-key ledger GROWS without bound across
    pipeline batches (every dispatched key, forever), so forcing a
    broadcast would eventually exceed driver/executor memory on a
    long-lived pipeline. AQE sizes the join at runtime — broadcast while
    the ledger is genuinely small, shuffled anti-join once it isn't.
    Deployments that must keep the broadcast fast-path should bound the
    ledger themselves (key-range pruning by batch window, or compaction of
    retired consignments) before calling."""
    if seen is None:
        return batch
    return batch.join(seen.select("exec_name"), "exec_name", "left_anti")


def batch_key(checkpoint_dir: str, batch_id: int) -> str:
    """The LINEAGE-QUALIFIED batch identity all idempotent sinks
    partition on: an 8-hex digest of the checkpoint path plus the
    micro-batch id. ``batch_id`` alone is NOT unique — a fresh
    checkpoint restarts numbering at 0, so a cross-checkpoint resend
    would alias the old batch's partition (forgiven by the guard,
    clobbered by the overwrite). The checkpoint path is stable across
    crash-restarts of one lineage (same replay → same key → partitions
    replace) and differs across lineages (resend → different key → the
    guard drops it)."""
    import hashlib

    lineage = hashlib.md5(
        checkpoint_dir.rstrip("/").encode()
    ).hexdigest()[:8]
    return f"{lineage}-{batch_id}"


def write_batch_partition(
    df: DataFrame, path: str, key: str, writer: str | None = None
) -> None:
    """Write one batch's rows as the ``batch_key=<key>`` partition of a
    sink, REPLACING that partition if a crashed earlier attempt already
    wrote it (dynamic-partition overwrite) — the mechanism that makes
    every pre-ledger crash window idempotent instead of at-least-once.

    ``writer`` adds a second ``_writer=<name>`` partition level for
    sinks several writers share within one batch (run_pipeline's
    mixed-schema events sink): dynamic overwrite replaces only the
    partitions PRESENT in the data, so each writer replaces its own
    leaf without clobbering the others'."""
    df = df.withColumn("batch_key", F.lit(key))
    parts = ["batch_key"]
    if writer is not None:
        df = df.withColumn("_writer", F.lit(writer))
        parts.append("_writer")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(path)
    )


def ledger_other_batches(
    spark: SparkSession, out_dir: str, key: str
) -> DataFrame | None:
    """The replay-guard probe set: every ledgered key EXCEPT the
    current batch's own partition — so a crashed batch replays in full
    even when its ledger write survived (or half-survived), while a
    duplicate resend (cross-batch or cross-checkpoint) still anti-joins
    away. A compacted ledger keeps the layout in the reserved
    ``batch_key=compacted`` partition (see
    :func:`compact_processed_ledger`), which real keys never match; a
    plain unpartitioned ledger (no batch_key column) is tolerated
    too."""
    try:
        led = spark.read.parquet(f"{out_dir}/processed")
    except Exception:
        return None
    if "batch_key" in led.columns:
        led = led.filter(F.col("batch_key") != F.lit(key))
    return led.select("exec_name")


def compact_processed_ledger(
    spark: SparkSession, out_dir: str, n_files: int = 4
) -> dict:
    """Ledger lifecycle maintenance: every pipeline batch appends one
    small parquet to ``out/processed``, and the T10 replay guard re-reads
    the whole directory each batch — after thousands of batches the
    anti-join's build side is thousands of tiny files. Rewrite the ledger
    to ``n_files`` files of DISTINCT keys (duplicate exec_names can
    accumulate when a crashed batch replays after its ledger write — see
    the chaos test; distinct is semantics-preserving for an anti-join
    probe set).

    Same write-first/swap-last shape as the index compactors: stage the
    distinct keys in a ``_compacting`` sibling (the live ledger stays
    intact and readable throughout the write), then swap via two Hadoop
    FS directory renames (live → ``_precompact_*`` trash, sibling →
    live) and delete the trash LAST. A crash inside the two-rename
    window leaves the data in the sibling — recovery is renaming
    ``_compacting`` back to ``processed``. Run it from the same offline
    maintenance slot — the guard's read is not transactional against a
    concurrent rewrite. Returns {files_before, files_after, keys}."""
    path = f"{out_dir}/processed"
    src = spark.read.parquet(path)
    files_before = len(src.inputFiles())
    distinct = src.select("exec_name").distinct()
    tmp = path.rstrip("/") + "_compacting"
    if "batch_key" in src.columns:
        # a batch_key-PARTITIONED ledger (the idempotent-sink layout)
        # must stay partitioned after compaction: plain files in the
        # same root as later batch_key=K subdirs would break Spark's
        # partition discovery ("conflicting directory structures").
        # The compacted keys land in the reserved batch_key=compacted
        # partition (real keys are <lineage-hex>-<n>, so the guard's
        # own-partition exclusion never matches it).
        distinct.repartition(n_files).write.mode("overwrite").parquet(
            tmp + "/batch_key=compacted"
        )
    else:
        distinct.repartition(n_files).write.mode("overwrite").parquet(tmp)
    n_keys = spark.read.parquet(tmp).count()
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    trash = path.rstrip("/") + "_precompact_" + uuid.uuid4().hex[:8]
    if not fs.rename(hadoop_path(path), hadoop_path(trash)):
        raise IOError(f"could not move live ledger aside: {path} -> {trash}")
    if not fs.rename(hadoop_path(tmp), hadoop_path(path)):
        if not fs.rename(hadoop_path(trash), hadoop_path(path)):
            raise IOError(
                f"could not swap compacted ledger in AND could not "
                f"restore the original: the LIVE ledger data is at "
                f"{trash} (not {path}); the compacted copy is at {tmp}"
            )
        raise IOError(f"could not swap compacted ledger in: {tmp} -> {path}")
    fs.delete(hadoop_path(trash), True)
    files_after = len(spark.read.parquet(path).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "keys": n_keys,
    }


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    stages: dict[str, Callable[[SparkSession, DataFrame], DataFrame]]
    | None = None,
    alert: Callable[[list[dict]], None] | None = None,
    queue: str = DEFAULT_QUEUE,
    available_now: bool = True,
    max_files_per_trigger: int = 10,
    retry_limit: int = RETRY_LIMIT,
    on_batch_complete: Callable[[int], None] | None = None,
):
    """Run the event pipeline: read → identity → route → foreachBatch
    dedup and dispatch. The stream keeps no state: each batch drops its
    own duplicate keys (T3) and the ledger guard drops keys an earlier
    batch dispatched, so every message is routed whatever its envelope
    timestamp.

    Per batch (T1): `ok` rows are dispatched per event-name through
    `stages` (each stage gets (spark, batch_df_for_its_event) and returns an
    output-event DataFrame written to out/events under its own
    ``batch_id=N/_writer=stage_<name>`` partition — NB the sink is
    shared across writers with possibly different schemas; consumers of
    such sinks should read with mergeSchema=true or filter on a
    stage-specific column, and stages that want a clean sink should
    align with the pass-through columns); `retry` rows go to
    out/retries (a re-queue feed) and `dead-letter` + `invalid` rows to
    out/dlq — a sink no row routes to is not written, every sink is
    batch_id-partitioned with dynamic-partition OVERWRITE, and the replay guard anti-joins the ledger MINUS the
    batch's own partition, so a crash in ANY window replays to
    identical contents (the crawl_stream exactly-once posture; the
    ``alert`` callback (T6 — Slack in the reference, injectable here)
    remains at-least-once, as external side effects must). Every
    dispatched exec_name is recorded in out/processed (T10). Returns
    the StreamingQuery.

    ``on_batch_complete(batch_id)`` runs as the LAST statement of each
    batch — after every sink append including the processed-key ledger,
    BEFORE Structured Streaming commits the batch's offsets. An exception
    here is exactly the worst-case crash window (work done, checkpoint
    not): on restart the batch replays and the T10 ledger must swallow
    every row. The chaos test injects its crash through this hook; ops
    metrics (batch latency counters) are the production use.
    """
    stages = stages or {}
    stream = route_events(
        with_identity(read_event_stream(
            spark, input_path, max_files_per_trigger
        ), queue),
        retry_limit,
    )
    stream = with_message_attributes(stream)

    out_events = f"{out_dir}/events"
    out_retries = f"{out_dir}/retries"
    out_dlq = f"{out_dir}/dlq"
    out_processed = f"{out_dir}/processed"

    flat_cols = [
        "value", "event_name", "reference", "latest_uuid", "exec_name",
        "retries", "route", "errors",
        "attr_environment", "attr_producer", "attr_process", "attr_type",
        "attr_event_name",
    ]

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        key = batch_key(checkpoint_dir, batch_id)
        # T3: in-batch resends collapse here; cross-batch ones at the
        # T10 replay guard MINUS this batch's own ledger partition
        # (lineage-qualified key): a crashed batch always replays in
        # full, every sink below REPLACES its partition, and a
        # cross-checkpoint resend carries a different lineage so it
        # still anti-joins away — each crash window converges to
        # exactly-once contents (the crawl_stream posture applied to
        # the event pipeline). The GUARDED batch is persisted: every
        # action below reads it, none re-runs the ledger read and join
        b = replay_guard(
            batch.select(*flat_cols, "event").dropDuplicates(["exec_name"]),
            ledger_other_batches(spark, out_dir, key),
        ).persist()
        try:
            ok = b.filter(F.col("route") == ROUTE_OK)
            for event_name, stage_fn in stages.items():
                sub = ok.filter(F.col("event_name") == event_name)
                out = stage_fn(spark, sub)
                if out is not None:
                    # the events sink is shared by several writers per
                    # batch with possibly different schemas: each gets
                    # its own _writer partition leaf so replays replace
                    # without clobbering the other writers' output
                    write_batch_partition(
                        out, out_events, key,
                        writer=f"stage_{event_name}",
                    )
            unstaged = F.col("route") == ROUTE_OK
            if stages:
                unstaged &= ~F.col("event_name").isin(*stages.keys())
            retry = F.col("route") == ROUTE_RETRY
            dead = F.col("route").isin(ROUTE_DEAD_LETTER, ROUTE_INVALID)
            # ONE small action: the sinks that get rows, and the dead rows
            # the alert needs — a sink no row routes to is not written
            sink = (
                F.when(dead, "dlq").when(retry, "retries")
                .when(unstaged, "forward")
            )
            summary = dict(
                b.filter(sink.isNotNull())
                .groupBy(sink.alias("sink"))
                .agg(F.collect_list(F.when(dead, F.struct(
                    "exec_name", "event_name", "reference", "route", "errors"
                ))))
                .collect()
            )

            if "forward" in summary:
                # forward pass-through (tre_forward parity): unhandled ok
                # events republish with their attribute columns
                write_batch_partition(
                    b.filter(unstaged).select(*flat_cols), out_events, key,
                    writer="forward",
                )
            if "retries" in summary:
                # T4: re-queued events carry the INCREMENTED counter
                # (column + embedded payload) so the retry loop
                # converges to dead-letter
                write_batch_partition(
                    bump_retry_counter(b.filter(retry)).select(*flat_cols),
                    out_retries, key,
                )
            dead_rows = summary.get("dlq")
            if dead_rows:
                write_batch_partition(
                    b.filter(dead).select(*flat_cols), out_dlq, key
                )
                if alert is not None:
                    # alerting stays at-least-once across a crash
                    # replay (an external side effect has no partition
                    # to overwrite) — the reference's Slack posture
                    alert([r.asDict() for r in dead_rows])

            write_batch_partition(
                b.select("exec_name").distinct(), out_processed, key
            )
            if on_batch_complete is not None:
                on_batch_complete(batch_id)
        finally:
            b.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
