"""Seeded change sets and the benchmark's own wire encoders.

Everything here is independent of ``pgcdc_spark``: the change set, its
last-writer-wins truth and the three wire renderings (envelope JSON,
wal2json format-version 2, binary pgoutput v1) are written from the
PostgreSQL and wal2json formats directly, so a decoder bug cannot be
hidden by an encoder that shares its code.

Rows follow the ``students`` table (``id`` bigint key, ``first_name``,
``last_name``, ``date_of_birth`` date, ``status_id`` int).
"""

from __future__ import annotations

import datetime
import json
import os
import struct
from dataclasses import dataclass

import numpy as np

COLUMNS = ("id", "first_name", "last_name", "date_of_birth", "status_id")
_PG_TYPES = (("bigint", 20), ("text", 25), ("text", 25), ("date", 1082),
             ("integer", 23))
RELID = 16384

_FIRST = ("Ada", "Alan", "Barbara", "Clarke", "Donald", "Edsger", "Frances",
          "Grace", "Hedy", "Ivan", "Jean", "Ken", "Leslie", "Margaret",
          "Niklaus", "Ole-Johan", "Radia", "Shafi", "Tony", "Whitfield")
_LAST = ("Lovelace", "Turing", "Liskov", "Shannon", "Knuth", "Dijkstra",
         "Allen", "Hopper", "Lamarr", "Sutherland", "Sammet", "Thompson",
         "Lamport", "Hamilton", "Wirth", "Dahl", "Perlman", "Goldwasser",
         "Hoare", "Diffie", "O'Neil \"Jr\"", "Ng\\Li")
_EPOCH = datetime.date(1970, 1, 1)


@dataclass
class Change:
    """One row change. ``lsn`` is a WAL position, unique over the set."""

    lsn: int
    op: str  # "I", "U" or "D"
    row: tuple  # full row image (for "D": the deleted key's last image)


@dataclass
class Message:
    """One message of the logical stream: a change or a control frame."""

    lsn: int
    kind: str  # "B", "C" or a change op
    change: Change | None = None


def make_changes(seed: int, n_changes: int, n_keys: int,
                 start_lsn: int = 0x1000) -> list[Message]:
    """A skewed I/U/D stream wrapped in transactions.

    Keys are drawn from a Zipf-like law over ``n_keys`` ids, so a few hot
    keys take most updates. A key that is not live is inserted; a live
    key is updated (80%) or deleted (20%). Changes are grouped into
    transactions of 1-8 changes, each framed by a begin and a commit.
    Every message gets its own increasing lsn."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_keys + 1) ** 0.9
    key_ids = rng.permutation(n_keys)[
        rng.choice(n_keys, size=n_changes, p=weights / weights.sum())] + 1
    roll = rng.random(n_changes)
    first = rng.integers(0, len(_FIRST), n_changes)
    last = rng.integers(0, len(_LAST), n_changes)
    dob = rng.integers(3000, 12000, n_changes)
    status = rng.integers(0, 6, n_changes)
    tx_sizes = rng.integers(1, 9, n_changes)

    live: dict[int, tuple] = {}
    out: list[Message] = []
    lsn = start_lsn
    i = t = 0
    while i < n_changes:
        end = min(n_changes, i + int(tx_sizes[t]))
        t += 1
        out.append(Message(lsn, "B"))
        lsn += int(rng.integers(1, 64))
        for j in range(i, end):
            k = int(key_ids[j])
            row = (k, _FIRST[first[j]], _LAST[last[j]],
                   _EPOCH + datetime.timedelta(days=int(dob[j])), int(status[j]))
            if k not in live:
                op = "I"
            elif roll[j] < 0.8:
                op = "U"
            else:
                op = "D"
                row = live[k]
            if op == "D":
                del live[k]
            else:
                live[k] = row
            out.append(Message(lsn, op, Change(lsn, op, row)))
            lsn += int(rng.integers(1, 64))
        out.append(Message(lsn, "C"))
        lsn += int(rng.integers(1, 64))
        i = end
    return out


def truth(messages: list[Message]) -> dict[int, tuple]:
    """Last-writer-wins replay by lsn, deletes applied: key -> live row."""
    state: dict[int, tuple] = {}
    for m in sorted((m for m in messages if m.change), key=lambda m: m.lsn):
        if m.kind == "D":
            state.pop(m.change.row[0], None)
        else:
            state[m.change.row[0]] = m.change.row
    return state


def n_data(messages: list[Message]) -> int:
    return sum(1 for m in messages if m.change is not None)


# -- envelope JSON (the pipeline's own replay format) -------------------------

_TAGS = {"B": "begin", "C": "commit", "I": "insert", "U": "update", "D": "delete"}


def _row_obj(row: tuple) -> dict:
    return {"id": row[0], "first_name": row[1], "last_name": row[2],
            "date_of_birth": row[3].isoformat(), "status_id": row[4]}


def envelope_line(m: Message) -> str:
    doc = {"lsn": f"0/{m.lsn:016X}", "tag": _TAGS[m.kind]}
    if m.kind in ("I", "U"):
        doc["new"] = _row_obj(m.change.row)
    elif m.kind == "D":
        doc["old"] = _row_obj(m.change.row)
    return json.dumps(doc, separators=(",", ":"))


# -- wal2json format-version 2 ------------------------------------------------


def _v2_cols(row: tuple, key_only: bool = False) -> list[dict]:
    vals = (row[0], row[1], row[2], row[3].isoformat(), row[4])
    cols = [{"name": n, "type": t, "value": v}
            for n, (t, _), v in zip(COLUMNS, _PG_TYPES, vals)]
    return cols[:1] if key_only else cols


def wal2json_v2_line(m: Message) -> str:
    doc: dict = {"action": m.kind}
    if m.change is not None:
        doc["schema"], doc["table"] = "public", "students"
    doc["lsn"] = f"0/{m.lsn:X}"
    if m.kind in ("I", "U"):
        doc["columns"] = _v2_cols(m.change.row)
    elif m.kind == "D":
        doc["identity"] = _v2_cols(m.change.row, key_only=True)
    return json.dumps(doc, separators=(",", ":"))


# -- binary pgoutput, protocol version 1 ---------------------------------------
# Layout from the PostgreSQL "Logical Replication Message Formats" page.


def _text_tuple(values: list) -> bytes:
    parts = [struct.pack(">h", len(values))]
    for v in values:
        if v is None:
            parts.append(b"n")
        else:
            b = str(v).encode()
            parts.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(parts)


def pg_relation() -> bytes:
    body = [b"R", struct.pack(">i", RELID), b"public\x00", b"students\x00",
            b"d", struct.pack(">h", len(COLUMNS))]
    for name, (_, oid) in zip(COLUMNS, _PG_TYPES):
        flag = 1 if name == "id" else 0
        body.append(struct.pack(">b", flag) + name.encode() + b"\x00"
                    + struct.pack(">ii", oid, -1))
    return b"".join(body)


def pgoutput_payload(m: Message) -> bytes:
    if m.kind == "B":
        return b"B" + struct.pack(">qqi", m.lsn, 0, m.lsn & 0x7FFFFFFF)
    if m.kind == "C":
        return b"C" + struct.pack(">bqqq", 0, m.lsn, m.lsn + 1, 0)
    row = m.change.row
    vals = [row[0], row[1], row[2], row[3].isoformat(), row[4]]
    head = m.kind.encode() + struct.pack(">i", RELID)
    if m.kind == "D":  # REPLICA IDENTITY DEFAULT: key columns only
        return head + b"K" + _text_tuple([vals[0], None, None, None, None])
    return head + b"N" + _text_tuple(vals)


# -- writers --------------------------------------------------------------------


def write_text_files(lines: list[str], directory: str, n_files: int) -> list[str]:
    """Split ``lines`` in order over ``n_files`` files; returns their paths."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(lines), n_files + 1).astype(int)
    for f in range(n_files):
        path = os.path.join(directory, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines[bounds[f]:bounds[f + 1]]) + "\n")
        paths.append(path)
    return paths


def write_pgoutput_parquet(messages: list[Message], directory: str,
                           n_files: int) -> int:
    """(lsn bigint, payload binary) parquet files, the relation message
    first; returns the number of rows written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lsns = [messages[0].lsn - 1] + [m.lsn for m in messages]
    payloads = [pg_relation()] + [pgoutput_payload(m) for m in messages]
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, len(lsns), n_files + 1).astype(int)
    for f in range(n_files):
        a, b = bounds[f], bounds[f + 1]
        table = pa.table({"lsn": pa.array(lsns[a:b], pa.int64()),
                          "payload": pa.array(payloads[a:b], pa.binary())})
        pq.write_table(table, os.path.join(directory, f"part-{f:05d}.parquet"))
    return len(lsns)
