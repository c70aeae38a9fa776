"""Deterministic CDC traffic for the benchmark.

The event *plan* (which key, which change type, which planted defect) is a
pure function of the seed; :func:`stamp` turns a plan entry and its creation
time into a ``commitTimestamp``.
"""

from __future__ import annotations

import base64
import json
import os
import random
from dataclasses import dataclass

ENTITY = "Account"
SCHEMA_ID = "account-cdc-v1"
#: replay id of the first event
FIRST_REPLAY_ID = 1_000_001
#: how far out-of-order events are back-dated (well inside the 1 h watermark)
MAX_LATE_MS = 20_000
#: a planted late UPDATE is stamped this long before the DELETE it follows
LATE_AFTER_DELETE_MS = 5_000

#: per-event draw thresholds (cumulative): corrupt, redelivered, delete,
#: late UPDATE of a deleted key, new key, out-of-order UPDATE, else UPDATE
_MIX = (
    ("corrupt", 0.005),
    ("dup", 0.015),
    ("delete", 0.025),
    ("late", 0.030),
    ("create", 0.050),
    ("ooo", 0.100),
)


@dataclass(frozen=True)
class Spec:
    """One planned event. ``ref`` is the index of the event a ``dup``
    redelivers or a ``late`` update follows; ``back_ms`` back-dates the
    stamp (out-of-order or late-after-delete)."""

    kind: str
    replay_id: int
    key: str
    change_type: str
    city: str
    ref: int = -1
    back_ms: int = 0


@dataclass(frozen=True)
class Record:
    """What the generator published, as the reference model consumes it."""

    replay_id: int
    ts_ms: int
    key: str
    change_type: str
    city: str
    corrupt: bool


def key_name(i: int) -> str:
    return f"K{i:07d}"


def plan_events(seed: int, n_events: int, n_keys: int) -> list[Spec]:
    """The seed's event plan. Keys are skewed (key index ``n_keys * u**3``,
    so a few hot keys take most updates); every defect class the pipeline
    must survive is planted at a fixed rate."""
    rng = random.Random(seed)
    out: list[Spec] = []
    deleted: list[int] = []  # indices of planted DELETEs not yet followed
    next_key = n_keys
    rid = FIRST_REPLAY_ID - 1
    for i in range(n_events):
        u = rng.random()
        kind = next((name for name, p in _MIX if u < p), "upsert")
        city = f"City{rng.randrange(1000)}"
        hot = key_name(int(n_keys * rng.random() ** 3))
        if kind == "dup":
            good = [j for j in range(max(0, i - 200), i) if out[j].kind not in ("corrupt", "dup")]
            if good:
                j = rng.choice(good)
                src = out[j]
                out.append(Spec("dup", src.replay_id, src.key, src.change_type, src.city, ref=j))
                continue
            kind = "upsert"
        rid += 1
        if kind == "corrupt":
            out.append(Spec("corrupt", rid, hot, "UPDATE", city))
        elif kind == "delete":
            deleted.append(i)
            out.append(Spec("delete", rid, key_name(rng.randrange(n_keys)), "DELETE", ""))
        elif kind == "late" and deleted:
            j = deleted.pop(0)
            out.append(Spec("late", rid, out[j].key, "UPDATE", city, ref=j))
        elif kind == "create":
            out.append(Spec("create", rid, key_name(next_key), "CREATE", city))
            next_key += 1
        elif kind == "ooo":
            out.append(Spec("upsert", rid, hot, "UPDATE", city,
                            back_ms=rng.randrange(1, MAX_LATE_MS)))
        else:
            out.append(Spec("upsert", rid, hot, "UPDATE", city))
    return out


def stamp(specs: list[Spec], i: int, now_ms: int, stamps: list[int]) -> int:
    """Commit timestamp of event ``i`` created at ``now_ms``. ``stamps``
    holds the stamps of events ``0..i-1``."""
    s = specs[i]
    if s.kind == "dup":
        return stamps[s.ref]
    if s.kind == "late":
        return stamps[s.ref] - LATE_AFTER_DELETE_MS
    return now_ms - s.back_ms


def payload(s: Spec, ts_ms: int) -> dict:
    """The Account change-event payload (reference golden event shape)."""
    return {
        "ChangeEventHeader": {
            "entityName": ENTITY,
            "recordIds": [s.key],
            "changeType": s.change_type,
            "changeOrigin": "com/salesforce/api/soap/58.0;client=SfdcInternalAPI/",
            "transactionKey": f"txn-{s.replay_id:x}",
            "sequenceNumber": 1,
            "commitTimestamp": ts_ms,
            "commitNumber": 11657372702432 + s.replay_id,
            "commitUser": "00558000000yFyDAAU",
            "nulledFields": [],
            "diffFields": [],
            # bit 22 = LastModifiedDate; "4-0x6" = BillingAddress.City/State
            "changedFields": ["0x400000", "4-0x6"],
        },
        "Name": None if s.change_type == "DELETE" else f"Acct {s.key}",
        "BillingAddress": None if s.change_type == "DELETE" else {"City": s.city, "State": "CA"},
        "LastModifiedDate": ts_ms,
    }


#: payload bytes the Avro decoder rejects (the corrupt plants)
CORRUPT_AVRO = b"\xde\xad\xbe\xef"


def _replay_b64(replay_id: int) -> str:
    return base64.b64encode(replay_id.to_bytes(8, "big")).decode()


def avro_line(s: Spec, ts_ms: int, encode, schema) -> str:
    """Avro-binary wire envelope, base64 inside a JSON line
    (``codec="avro_py"``); ``encode`` is the Avro binary encoder."""
    raw = CORRUPT_AVRO if s.kind == "corrupt" else encode(payload(s, ts_ms), schema)
    return json.dumps(
        {
            "replay_id_b64": _replay_b64(s.replay_id),
            "schema_id": SCHEMA_ID,
            "payload_b64": base64.b64encode(raw).decode(),
        }
    )


def record(s: Spec, ts_ms: int) -> Record:
    return Record(s.replay_id, ts_ms, s.key, s.change_type, s.city, s.kind == "corrupt")


def write_file(bus_dir: str, name: str, lines: list[str]) -> None:
    with open(os.path.join(bus_dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def file_name(i: int) -> str:
    return f"f{i:06d}.jsonl"
