"""TRE event envelope (SURVEY.md §1.2, §2.2 P12, §2.7 T7).

Two forms with identical semantics:

- driver-side dict constructor/validator (`create_event` / `validate_event`)
  mirroring the reference's Message class (lib/tre_lib/tre_lib/message.py:
  31-170) — used by the orchestrator, one event at a time;
- DataFrame transforms (`parse_events`, `append_lineage`, `validate_events`)
  for event *streams* — the scale path where lineage append is a codegen'd
  `concat(UUIDs, array(map(...)))`, validation a strict from_json + enum
  predicate filter (Spark has no JSON-Schema engine; constraints become
  column predicates).
"""

from __future__ import annotations

import json
import re
import time
import uuid as uuid_mod

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import MESSAGE_VERSION, TRE_EVENT_SCHEMA

UUID_KEY_SUFFIX = "-UUID"
UUID_KEY_RE = re.compile(r"^[A-Za-z0-9_-]+-UUID$")
UUID_RE = re.compile(
    r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
)
CONSIGNMENT_TYPES = ("judgment", "standard")

# Event-name vocabulary: schema.json:48-55 pins the officially-published
# enum (consignment-export, bagit-received, bagit-validated); the rest are
# the names the reference's own lambdas emit/consume
# (tre_vb_validate_bagit.py EVENT_NAME_OUTPUT_OK/ERROR, tre_bagit_to_dri_sip
# constants, tre_editorial_integration's editorial-output).
EVENT_NAMES = (
    "consignment-export",
    "bagit-available",
    "bagit-received",
    "bagit-validated",
    "bagit-validation-error",
    "dri-preingest-sip-available",
    "dri-preingest-sip-error",
    "editorial-output",
)


# ---------------------------------------------------------------------------
# driver-side (orchestrator) form
# ---------------------------------------------------------------------------

def create_event(
    environment: str,
    producer: str,
    process: str,
    event_name: str,
    parameters: dict | None = None,
    type: str | None = None,
    prior_event: dict | None = None,
    timestamp_ns_utc: int | None = None,
) -> dict:
    """New envelope; appends `{producer}-UUID` to the (copied) lineage list.

    Validation parity with message.py:57-83: empty environment/producer/
    process/event_name raise ValueError; prior_event is structurally
    validated. Producer type defaults from prior event, explicit arg wins
    (message.py:152-159).
    """
    if not environment:
        raise ValueError('Empty "environment" argument')
    if not producer:
        raise ValueError('Empty "producer" argument')
    if not process:
        raise ValueError('Empty "process" argument')
    if not event_name:
        raise ValueError('Empty "event_name" argument')
    if parameters is not None and not isinstance(parameters, dict):
        raise ValueError("parameters is not dict type")
    if prior_event is not None:
        validate_event(prior_event)

    if timestamp_ns_utc is None:
        timestamp_ns_utc = time.time_ns()

    uuids = list(prior_event["UUIDs"]) if prior_event is not None else []
    uuids.append({f"{producer}{UUID_KEY_SUFFIX}": str(uuid_mod.uuid4())})

    if type:
        producer_type = type
    elif prior_event:
        producer_type = prior_event.get("producer", {}).get("type")
    else:
        producer_type = None
    if producer_type is not None and producer_type not in CONSIGNMENT_TYPES:
        raise ValueError(f'Invalid consignment type "{producer_type}"')

    return {
        "version": MESSAGE_VERSION,
        "timestamp": timestamp_ns_utc,
        "UUIDs": uuids,
        "producer": {
            "environment": environment,
            "name": producer,
            "process": process,
            "type": producer_type,
            "event-name": event_name,
        },
        "parameters": parameters if parameters is not None else {},
    }


def validate_event(event: dict, event_name: str | None = None) -> None:
    """Structural validation matching the reference's JSON Schema
    (schema.json:1-113): required keys, UUID-entry shape, producer fields,
    optional event-name + parameter-block presence check."""
    if not isinstance(event, dict):
        raise ValueError("event is not a dict")
    for key in ("version", "timestamp", "UUIDs", "producer", "parameters"):
        if key not in event:
            raise ValueError(f'Missing required key "{key}"')
    if not isinstance(event["timestamp"], int):
        raise ValueError("timestamp must be an integer (ns UTC)")
    if not isinstance(event["UUIDs"], list) or not event["UUIDs"]:
        raise ValueError("UUIDs must be a non-empty list")
    for entry in event["UUIDs"]:
        if not isinstance(entry, dict) or len(entry) != 1:
            raise ValueError("each UUIDs entry must be a single-key dict")
        ((k, v),) = entry.items()
        if not UUID_KEY_RE.match(k):
            raise ValueError(f'Invalid UUID key "{k}"')
        if not UUID_RE.match(str(v)):
            raise ValueError(f'Invalid UUID value "{v}"')
    producer = event["producer"]
    for key in ("environment", "name", "process", "event-name"):
        if not producer.get(key):
            raise ValueError(f'Missing producer field "{key}"')
    if producer.get("type") is not None and producer["type"] not in CONSIGNMENT_TYPES:
        raise ValueError(f'Invalid producer type "{producer["type"]}"')
    if not isinstance(event["parameters"], dict):
        raise ValueError("parameters must be a dict")
    if event_name is not None:
        if producer["event-name"] != event_name:
            raise ValueError(
                f'Expected event-name "{event_name}", '
                f'got "{producer["event-name"]}"'
            )
        if event_name not in event["parameters"]:
            raise ValueError(f'Missing parameter block "{event_name}"')


def latest_uuid(event: dict) -> str:
    """Newest lineage entry's value — `UUIDs[-1]` (W1,
    tre_vb_validate_bagit.py:67)."""
    return list(event["UUIDs"][-1].values())[0]


def event_to_json(event: dict, indent: int | None = None) -> str:
    return json.dumps(event, indent=indent)


# ---------------------------------------------------------------------------
# DataFrame (stream) form
# ---------------------------------------------------------------------------

def parse_events(df: DataFrame, json_col: str = "value") -> DataFrame:
    """Strict from_json parse of envelope JSON strings; `_corrupt` is true
    where parsing failed (P12 — schema validation as null-check)."""
    parsed = df.withColumn("event", F.from_json(F.col(json_col), TRE_EVENT_SCHEMA))
    return parsed.withColumn("_corrupt", F.col("event").isNull())


def validate_events(df: DataFrame, event_col: str = "event") -> DataFrame:
    """Constraint filter producing an `errors` array column (empty == valid).

    The DataFrame twin of validate_event: enum membership, version/timestamp
    presence, non-empty lineage, producer completeness, and (r13 — the last
    dict-path/DF-path parity hole) the per-entry lineage shape the
    reference's JSON Schema enforces (schema.json:19): every UUIDs entry is
    a single-key map whose key matches ``^[A-Za-z0-9_-]+-UUID$`` and whose
    value matches the lowercase-hex UUID pattern. Invalid rows route to
    the error stream instead of raising (T5 report-then-route)."""
    e = F.col(event_col)

    def err(cond: Column, msg: str) -> Column:
        return F.when(cond, F.lit(msg))

    def bad_entry(entry: Column) -> Column:
        k = F.element_at(F.map_keys(entry), 1)
        v = F.element_at(F.map_values(entry), 1)
        ok = k.rlike(UUID_KEY_RE.pattern) & v.rlike(UUID_RE.pattern)
        # guard the element_at behind the size test (ANSI: index 1 of
        # an empty key array is a hard error, not NULL)
        return F.when(
            F.size(F.map_keys(entry)) != 1, F.lit(True)
        ).otherwise(~F.coalesce(ok, F.lit(False)))

    checks = F.array(
        err(e.isNull(), "unparseable-event"),
        err(e["version"].isNull(), "missing-version"),
        err(e["timestamp"].isNull(), "missing-timestamp"),
        err(F.size(e["UUIDs"]) <= 0, "empty-uuids"),
        err(
            F.exists(e["UUIDs"], bad_entry),
            "invalid-uuid-entry",
        ),
        err(e["producer"]["environment"].isNull(), "missing-producer-environment"),
        err(e["producer"]["name"].isNull(), "missing-producer-name"),
        err(e["producer"]["process"].isNull(), "missing-producer-process"),
        err(e["producer"]["event-name"].isNull(), "missing-producer-event-name"),
        err(
            e["producer"]["type"].isNotNull()
            & ~e["producer"]["type"].isin(*CONSIGNMENT_TYPES),
            "invalid-producer-type",
        ),
        err(
            e["producer"]["event-name"].isNotNull()
            & ~e["producer"]["event-name"].isin(*EVENT_NAMES),
            "invalid-event-name",
        ),
    )
    return df.withColumn("errors", F.filter(checks, lambda c: c.isNotNull()))
