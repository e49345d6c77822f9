"""Seeded input generator for the mediation workloads.

Inputs are flat business-event records (the engine's BER_FLAT shape).
Keys come from the seed, never from the engine's own mock generator:
``idempotent_key`` is ``transaction_id-customer_id``, and a repeat is a
new record (new ``event_id`` / ``notification_id``) reusing an earlier
key. Toxic records null one of the three fields the validity gate
checks.

:func:`write_backlog` stages a bounded backlog as Avro object
container files (deflate), encoded here from the public Avro spec so
the inputs never depend on the engine's own codec. Each file is
written under a hidden name and renamed into place.
"""

from __future__ import annotations

import io
import json
import os
import random
import struct
import zlib

FIELDS = (
    ("event_id", "string"),
    ("transaction_id", "string"),
    ("nhub_timestamp", "long"),
    ("customer_id", "string"),
    ("customer_full_name", "string"),
    ("notification_id", "string"),
    ("message", "string"),
    ("retries", "int"),
    ("nhub_success", "boolean"),
    ("amount", "double"),
    ("success_descr", "string"),
    ("event_time", "timestamp"),
)

#: The flat BER as an Avro record: every field a ``[T, "null"]`` union.
AVRO_SCHEMA = {
    "type": "record",
    "name": "MyEventRecordFlat",
    "fields": [
        {
            "name": name,
            "type": [
                {"type": "long", "logicalType": "timestamp-micros"}
                if typ == "timestamp" else typ,
                "null",
            ],
        }
        for name, typ in FIELDS
    ],
}

TOXIC_SHARE = 0.05
REPEAT_SHARE = 0.10
_MESSAGES = (
    "Your card payment was approved",
    "A transfer to your account has arrived",
    "Your statement is ready to download",
    "A new device signed in to your account",
)


def key_of(rec: dict) -> str:
    return f"{rec['transaction_id']}-{rec['customer_id']}"


def is_valid(rec: dict) -> bool:
    return all(
        rec[c] is not None
        for c in ("transaction_id", "notification_id", "customer_id")
    )


def _record(rng, ident, tx, cust, due_ms, toxic_field=None) -> dict:
    rec = {
        "event_id": f"e-{ident}",
        "transaction_id": tx,
        "nhub_timestamp": due_ms,
        "customer_id": cust,
        "customer_full_name": f"Customer {cust}",
        "notification_id": f"n-{ident}",
        "message": _MESSAGES[rng.randrange(len(_MESSAGES))],
        "retries": 0,
        "nhub_success": None,
        "amount": round(rng.uniform(1.0, 500.0), 2),
        "success_descr": None,
        "event_time": due_ms * 1000,
    }
    if toxic_field is not None:
        rec[toxic_field] = None
    return rec


_TOXIC_FIELDS = ("transaction_id", "notification_id", "customer_id")


def backlog_records(seed: int, tag: str, n: int, due_ms: int) -> list[dict]:
    """~5% toxic; of the rest ~90% fresh keys and ~10% repeats of an
    earlier key of the same backlog."""
    rng = random.Random(f"{seed}:backlog:{tag}")
    keys: list[tuple[str, str]] = []
    out = []
    for i in range(n):
        ident = f"{seed}-{tag}-{i}"
        if rng.random() < TOXIC_SHARE:
            cust = str(rng.randrange(1, 1_000_000))
            out.append(
                _record(rng, ident, f"tx-{ident}", cust, due_ms,
                        _TOXIC_FIELDS[i % 3])
            )
        elif keys and rng.random() < REPEAT_SHARE:
            tx, cust = keys[rng.randrange(len(keys))]
            out.append(_record(rng, ident, tx, cust, due_ms))
        else:
            tx, cust = f"tx-{ident}", str(rng.randrange(1, 1_000_000))
            keys.append((tx, cust))
            out.append(_record(rng, ident, tx, cust, due_ms))
    return out


# ---------------------------------------------------------------------------
# Avro object container files (Apache Avro 1.11 spec), write side only
# ---------------------------------------------------------------------------


def _long(buf: io.BytesIO, v: int) -> None:
    v = (v << 1) ^ (v >> 63)
    while v & ~0x7F:
        buf.write(bytes(((v & 0x7F) | 0x80,)))
        v >>= 7
    buf.write(bytes((v,)))


def _string(buf: io.BytesIO, s: str | bytes) -> None:
    b = s.encode() if isinstance(s, str) else s
    _long(buf, len(b))
    buf.write(b)


def _encode(buf: io.BytesIO, rec: dict) -> None:
    for name, typ in FIELDS:
        v = rec[name]
        if v is None:
            _long(buf, 1)  # union branch 1: null
            continue
        _long(buf, 0)
        if typ == "string":
            _string(buf, v)
        elif typ in ("long", "int", "timestamp"):
            _long(buf, int(v))
        elif typ == "boolean":
            buf.write(b"\x01" if v else b"\x00")
        elif typ == "double":
            buf.write(struct.pack("<d", v))


def write_avro_file(path: str, records: list[dict]) -> None:
    """One deflate container, written beside ``path`` then renamed."""
    sync = zlib.crc32(path.encode()).to_bytes(4, "little") * 4
    out = io.BytesIO()
    out.write(b"Obj\x01")
    meta = {
        "avro.schema": json.dumps(AVRO_SCHEMA).encode(),
        "avro.codec": b"deflate",
    }
    _long(out, len(meta))
    for k, v in meta.items():
        _string(out, k)
        _string(out, v)
    _long(out, 0)
    out.write(sync)
    body = io.BytesIO()
    for rec in records:
        _encode(body, rec)
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    data = co.compress(body.getvalue()) + co.flush()
    _long(out, len(records))
    _long(out, len(data))
    out.write(data)
    out.write(sync)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "wb") as fh:
        fh.write(out.getvalue())
    os.replace(tmp, path)


def write_backlog(
    directory: str, records: list[dict], n_files: int
) -> None:
    os.makedirs(directory, exist_ok=True)
    per = -(-len(records) // n_files)
    for f in range(n_files):
        chunk = records[f * per:(f + 1) * per]
        if chunk:
            write_avro_file(os.path.join(directory, f"ber-{f:04d}.avro"),
                            chunk)
