"""Seeded Kinesis-envelope feeds.

Event bodies follow the package's event taxonomy (``config``: the
two-stage type/subtype choice and each subtype's realised fields) and
the value rules of ``sources.generator``, drawn here in Python so a run
pays no Spark job for its inputs.  Each record gets its own uuid and
event time and is encoded into the envelope layout of
``sources.kinesis.wrap_kinesis_envelope``.  Every line is encoded before
timing starts, so a timed loop only writes bytes.
"""

from __future__ import annotations

import base64
import hashlib
import json
import random
from datetime import datetime, timezone

#: Start of the synthetic event-time axis (2024-03-01T00:00:00Z, the
#: package generator's own start).
EPOCH = 1_709_251_200

_ENVELOPE = (
    '{{"kinesis":{{"kinesisSchemaVersion":"1.0","partitionKey":"{uuid}",'
    '"sequenceNumber":"{md5}","data":"{data}",'
    '"approximateArrivalTimestamp":{ts!r}}},'
    '"eventSource":"aws:kinesis","eventVersion":"1.0",'
    '"eventID":"shardId-000000000000:{md5}","eventName":"aws:kinesis:record",'
    '"invokeIdentityArn":"arn:aws:iam::EXAMPLE","awsRegion":"us-east-1",'
    '"eventSourceARN":"arn:aws:kinesis:EXAMPLE"}}'
)


_VOCAB = ["practice", "makes", "perfect", "learning", "language", "daily",
          "keeps", "vocab", "fresh", "grammar", "drills", "review", "fluency"]
_CITIES = ["Berlin, Germany", "Madrid, Spain", "Paris, France", "Warsaw, Poland",
           "Lisbon, Portugal", "Rome, Italy", "London, UK", "Vienna, Austria"]


def _value(tag: str, rng: random.Random):
    from event_streaming_toy_example_spark import config as c

    if tag in ("account_id", "session_id", "user_id", "exercise_id", "lesson_id"):
        return f"{rng.getrandbits(128):032x}"
    picks = {
        "currency": c.CURRENCIES,
        "device": c.DEVICES,
        "difficulty": c.DIFFICULTIES,
        "registration_method": c.REGISTRATION_METHODS,
        "language_id": c.LANGUAGES,
    }
    if tag in picks:
        return rng.choice(picks[tag])
    spans = {
        "number": (1, 100),
        "number_1to10": (1, 10),
        "duration": (1, 120),
        "rating": (1, 5),
        "score": (0, 100),
        "amount": (10, 99),
    }
    if tag in spans:
        return rng.randint(*spans[tag])
    if tag == "timestamp":
        t = EPOCH + rng.randrange(56 * 86400)
        return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    if tag == "not_applicable":
        return "not_applicable"
    if tag == "email":
        return f"user{rng.randrange(100000)}@example.{rng.choice(['com', 'org', 'net', 'io'])}"
    if tag == "sentence":
        return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(4, 8))).capitalize() + "."
    if tag == "location":
        return rng.choice(_CITIES)
    if tag == "campaign_id":
        return f"camp_{rng.randint(1000, 9999)}"
    raise ValueError(f"unsupported generator tag: {tag}")


def event_bodies(n: int, seed: int) -> list[tuple[str, str]]:
    """``n`` seeded ``(event_name, event_specifics JSON)`` pairs."""
    from pyspark.sql import types as T

    from event_streaming_toy_example_spark.config import EVENT_TAXONOMY, EVENT_TYPES, realized_fields
    from event_streaming_toy_example_spark.schemas import EVENT_SPECIFICS_SCHEMA

    longs = {f.name for f in EVENT_SPECIFICS_SCHEMA.fields if isinstance(f.dataType, T.LongType)}
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        etype = rng.choice(EVENT_TYPES)
        sub = rng.choice(sorted(EVENT_TAXONOMY[etype]))
        spec = {}
        for field, tag in sorted(realized_fields(EVENT_TAXONOMY[etype][sub]).items()):
            v = _value(tag, rng)
            spec[field] = int(v) if field in longs else str(v)
        out.append((f"{etype}:{sub}", json.dumps(spec, separators=(",", ":"))))
    return out


def encode(name: str, spec: str, uuid: str, created_at: float) -> str:
    payload = (
        f'{{"created_at":{created_at!r},"event_name":{json.dumps(name)},'
        f'"event_specifics":{spec},"event_uuid":"{uuid}"}}'
    )
    data = base64.b64encode(payload.encode()).decode()
    md5 = hashlib.md5(uuid.encode()).hexdigest()
    return _ENVELOPE.format(uuid=uuid, md5=md5, data=data, ts=created_at)


class Feed:
    """A seeded stream of distinct encoded events plus duplicates.

    ``lines(times)`` encodes one event per event time; ``with_dups``
    mixes verbatim copies of earlier lines into a file, so duplicates
    land both inside a file and across files."""

    def __init__(self, bodies: list[tuple[str, str]], seed: int) -> None:
        self.bodies = bodies
        self.rng = random.Random(seed)
        self.uuids: list[str] = []

    def _uuid(self) -> str:
        h = f"{self.rng.getrandbits(128):032x}"
        return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-{h[16:20]}-{h[20:]}"

    def lines(self, times: list[float]) -> list[str]:
        out = []
        for t in times:
            uuid = self._uuid()
            self.uuids.append(uuid)
            name, spec = self.bodies[len(self.uuids) % len(self.bodies)]
            out.append(encode(name, spec, uuid, round(t, 6)))
        return out

    def with_dups(self, fresh: list[str], pool: list[str], n_dups: int) -> list[str]:
        """``fresh`` plus ``n_dups`` copies drawn from ``pool`` (earlier
        files' lines and ``fresh`` itself), shuffled into place."""
        out = fresh + [self.rng.choice(pool) for _ in range(n_dups)]
        self.rng.shuffle(out)
        return out


def uuid_of(line: str) -> str:
    """The event uuid of an encoded line (its partition key)."""
    start = line.index('"partitionKey":"') + 16
    return line[start : line.index('"', start)]
