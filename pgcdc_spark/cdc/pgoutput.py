"""pgoutput BINARY protocol decode — the R1 wire format itself.

The reference never touches these bytes: it delegates decode to the
pg-logical-replication npm package and consumes its JS objects
(src/database/postgresql/PostgresLogicalPg.ts:21, plugin selection
src/config/config.ts:21-24). This module implements the documented
logical-replication message layout (PostgreSQL docs, "Logical
Replication Message Formats", protocol version 1) so a Spark pipeline
can ingest raw XLogData payloads from a replication slot without a
decode sidecar:

  'B' Begin     Int64 final_lsn, Int64 commit_ts, Int32 xid
  'C' Commit    Int8 flags, Int64 lsn, Int64 end_lsn, Int64 commit_ts
  'R' Relation  Int32 relid, Cstr namespace, Cstr relname,
                Int8 replident, Int16 ncols,
                ncols x (Int8 flags, Cstr name, Int32 typoid, Int32 typmod)
  'I' Insert    Int32 relid, 'N', TupleData
  'U' Update    Int32 relid, ['K'|'O', TupleData]?, 'N', TupleData
  'D' Delete    Int32 relid, 'K'|'O', TupleData
  TupleData     Int16 ncols, ncols x ('n' | 'u' | 't' Int32 len, bytes)
                ('n' = SQL NULL; 'u' = unchanged TOAST — the value was
                 NOT re-sent and must be carried forward, see
                 track_unchanged + upsert.toast_state)

Beyond the v1 row surface this module also implements: protocol v2
streamed transactions (S/E/c/A + xid-prefixed rows — see the v2 section),
protocol v3 two-phase commit (b/P/K/r/p — the 2PC section), logical
decoding messages ('M' prefix+content, decode_logical_messages),
replication-origin loop filtering ('O', filter_foreign_origins),
TRUNCATE ('T'), and the bronze/silver multi-table split
(decode_pgoutput_generic / route_table).

Execution model (the two WAL-decode phases, made Spark-shaped):

1. ``discover_relations`` — relation ('R') messages are per-TABLE
   metadata, O(#tables) not O(wal): filter on the first payload byte
   (a pushdown-friendly binary substring compare) and decode the
   handful of survivors driver-side. Same sanctioned-metadata class as
   schema-evolution's column discovery.
2. ONE row decoder, a single Python byte pass typed on the JVM:
   - ``decode_pgoutput_generic`` is the only place Python touches the
     bytes: an Arrow-batched ``mapInPandas`` over (lsn, payload) rows,
     each message decoded independently (no cross-row state, so any
     partitioning works) into a schema-agnostic frame — column values
     as wire text plus one 't'/'n'/'u' kind character per column.
     Truncated/unknown messages become tag='_corrupt' rows with null
     images instead of failing the batch (dead-letter discipline, like
     multimodal quarantine).
   - typing runs on the JVM inside whole-stage codegen: each schema
     field is its wire text through ``envelope.checked_cast`` (a
     malformed value becomes NULL, never a corrupt row — the
     engine-wide fix for the reference's unchecked cast,
     src/mapping/customMapper.ts:22).
   ``decode_pgoutput``, ``decode_pgoutput_v2``, ``decode_pgoutput_2pc``
   and ``route_table`` are compositions of the two, and emit the SAME
   envelope frame as the JSON adapters (lsn, tag, new, old) — so
   filter_control_messages / extract_images / latest_state run
   UNCHANGED downstream.

``encode_*`` builders produce byte-exact fixture messages for tests and
the driver-gated query (real deployments get bytes from the slot); the
layout itself is additionally pinned by HAND-WRITTEN literal bytes in
tests/test_cdc.py, so encoder and decoder cannot drift together.
"""

from __future__ import annotations

import functools
import itertools
import struct
from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .envelope import typed_image

# --- encode (fixture/demo side) ----------------------------------------------


class _UnchangedToast:
    """Singleton marking a TOASTed column the wire did NOT re-send
    (pgoutput TupleData kind 'u'). Distinct from None (SQL NULL, kind
    'n') — the whole point of TOAST handling is that these two must
    never be conflated: 'u' means "keep the stored value", 'n' means
    "the value IS null".

    Checks use ``isinstance``, never ``is``: closures shipped to Spark
    workers are cloudpickled, and an unpickled copy of the sentinel is
    a DIFFERENT object from the one the worker's own module import
    holds — an identity check would silently miss every marker.
    ``__new__``/``__reduce__`` additionally collapse copies back to the
    module singleton so ``is`` still works where it happens to be used.
    """

    __slots__ = ()
    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __reduce__(self):
        return (_UnchangedToast, ())

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "UNCHANGED_TOAST"


UNCHANGED_TOAST = _UnchangedToast()


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _tuple_data(values: list[object]) -> bytes:
    out = [struct.pack(">h", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        elif isinstance(v, _UnchangedToast):
            out.append(b"u")
        else:
            t = str(v).encode()
            out.append(b"t" + struct.pack(">i", len(t)) + t)
    return b"".join(out)


def encode_relation(relid: int, namespace: str, relname: str,
                    col_names: list[str], replident: str = "d",
                    typoids: list[int] | None = None,
                    key_cols: list[str] | None = None) -> bytes:
    """``typoids`` default to 25 (text); ``key_cols`` sets the
    per-column key-flag bit (REPLICA IDENTITY membership) for exactly
    the named columns — omitted, every column stays flagged (the
    historic byte layout the golden literals pin). Both feed
    decode_relation_schema/infer_row_schema."""
    body = [b"R", struct.pack(">i", relid), _cstr(namespace), _cstr(relname),
            replident.encode(), struct.pack(">h", len(col_names))]
    oids = typoids if typoids is not None else [25] * len(col_names)
    keys = None if key_cols is None else set(key_cols)
    for name, oid in zip(col_names, oids):
        flag = 1 if (keys is None or name in keys) else 0
        body.append(struct.pack(">b", flag) + _cstr(name)
                    + struct.pack(">i", oid) + struct.pack(">i", -1))
    return b"".join(body)


def encode_insert(relid: int, values: list[object]) -> bytes:
    return b"I" + struct.pack(">i", relid) + b"N" + _tuple_data(values)


def encode_update(relid: int, new_values: list[object],
                  old_values: list[object] | None = None,
                  old_kind: bytes = b"O") -> bytes:
    out = [b"U", struct.pack(">i", relid)]
    if old_values is not None:
        out.append(old_kind + _tuple_data(old_values))
    out.append(b"N" + _tuple_data(new_values))
    return b"".join(out)


def encode_delete(relid: int, old_values: list[object],
                  old_kind: bytes = b"O") -> bytes:
    return b"D" + struct.pack(">i", relid) + old_kind + _tuple_data(old_values)


def encode_begin(final_lsn: int, commit_ts: int, xid: int) -> bytes:
    return b"B" + struct.pack(">qqi", final_lsn, commit_ts, xid)


def encode_commit(lsn: int, end_lsn: int, commit_ts: int) -> bytes:
    return b"C" + struct.pack(">bqqq", 0, lsn, end_lsn, commit_ts)


def encode_truncate(relids: list[int], options: int = 0) -> bytes:
    """'T' Int32 nrels, Int8 options (1=CASCADE, 2=RESTART IDENTITY),
    nrels x Int32 relid."""
    return (b"T" + struct.pack(">ib", len(relids), options)
            + b"".join(struct.pack(">i", r) for r in relids))


# --- decode ------------------------------------------------------------------


def _read_tuple(buf: bytes, pos: int) -> tuple[list[object], int]:
    # values are str (kind 't'), None (kind 'n'), or UNCHANGED_TOAST ('u')
    (ncols,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    vals: list[str | None] = []
    for _ in range(ncols):
        kind = buf[pos:pos + 1]
        pos += 1
        if kind == b"n":
            vals.append(None)
        elif kind == b"u":
            vals.append(UNCHANGED_TOAST)
        elif kind == b"t":
            (ln,) = struct.unpack_from(">i", buf, pos)
            pos += 4
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("tuple value overruns the message")
            vals.append(buf[pos:pos + ln].decode())
            pos += ln
        else:
            raise ValueError(f"unknown tuple column kind {kind!r}")
    return vals, pos


def decode_relation_message(buf: bytes) -> tuple[int, list[str]]:
    """(relid, column names) from one 'R' payload."""
    if buf[:1] != b"R":
        raise ValueError("not a relation message")
    (relid,) = struct.unpack_from(">i", buf, 1)
    pos = 5
    for _ in range(2):  # namespace, relname (both C-strings)
        pos = buf.index(b"\x00", pos) + 1
    pos += 1  # replident
    (ncols,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    names = []
    for _ in range(ncols):
        pos += 1  # flags
        end = buf.index(b"\x00", pos)
        names.append(buf[pos:end].decode())
        pos = end + 1 + 8  # typoid + typmod
    return relid, names


def _collect_relation_payloads(
    messages: DataFrame, payload_col: str, lsn_col: str,
) -> list[tuple[int | None, bytes]]:
    """Shared 'R'-payload collector for EVERY discovery pass (v1
    discover_relations / discover_relation_schemas AND the v2 decoder's
    auto-discovery — one home for the invariant, r11 review).

    pgoutput re-sends Relation messages after relcache invalidations, so
    a long capture window carries the same 'R' image many times. Dedupe
    identical payloads EXECUTOR-side (groupBy payload, keep the latest
    lsn) so each distinct image ships to the driver once, not once per
    re-send, and return (lsn, payload) lsn-ascending so the LAST image
    per relid wins (a schema change mid-window re-sends 'R' with new
    column names). Frames without an lsn column fall back to a plain
    distinct (dedup without the ordering guarantee; lsn is None)."""
    r_msgs = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'52'"))
    if lsn_col in messages.columns:
        rows = (
            r_msgs.groupBy(payload_col)
            .agg(F.max(lsn_col).alias(lsn_col))
            .collect()
        )
        rows.sort(key=lambda r: r[lsn_col])
        return [(int(r[lsn_col]), bytes(r[payload_col])) for r in rows]
    rows = r_msgs.select(payload_col).distinct().collect()
    return [(None, bytes(r[payload_col])) for r in rows]


def discover_relations(messages: DataFrame,
                       payload_col: str = "payload",
                       lsn_col: str = "lsn") -> dict[int, list[str]]:
    """Phase 1: the bounded metadata pass. Filters to 'R' payloads by
    first byte (binary substring compare — evaluated in the scan),
    dedupes re-sent images executor-side, and decodes the O(#tables)
    distinct survivors on the driver (lsn-ascending, last image wins)."""
    out: dict[int, list[str]] = {}
    for _, buf in _collect_relation_payloads(messages, payload_col, lsn_col):
        relid, names = decode_relation_message(buf)
        out[relid] = names
    return out


def _parse_change(buf: bytes, image, known_relids=None) -> tuple:
    """Parse ONE payload into (tag, new, old, unchanged) — the per-message
    core of the row decoder (decode_pgoutput_generic).
    ``image(relid, vals)`` returns (image | None, unchanged); ``vals``
    holds str, None ('n') or UNCHANGED_TOAST ('u') per wire column. Any
    malformed message becomes ('_corrupt', None, None, None):
    dead-letter, never a failed batch."""
    try:
        kind = buf[:1]
        if kind == b"B":
            return ("begin", None, None, None)
        if kind == b"C":
            return ("commit", None, None, None)
        if kind == b"R":
            return ("relation", None, None, None)
        if kind == b"I":
            (relid,) = struct.unpack_from(">i", buf, 1)
            if buf[5:6] != b"N":
                raise ValueError("insert without new tuple")
            vals, _ = _read_tuple(buf, 6)
            img, unch = image(relid, vals)
            return ("insert", img, None, unch)
        if kind == b"U":
            (relid,) = struct.unpack_from(">i", buf, 1)
            pos, old = 5, None
            if buf[pos:pos + 1] in (b"K", b"O"):
                ovals, pos = _read_tuple(buf, pos + 1)
                old = image(relid, ovals)[0]
            if buf[pos:pos + 1] != b"N":
                raise ValueError("update without new tuple")
            vals, _ = _read_tuple(buf, pos + 1)
            img, unch = image(relid, vals)
            return ("update", img, old, unch)
        if kind == b"D":
            (relid,) = struct.unpack_from(">i", buf, 1)
            if buf[5:6] not in (b"K", b"O"):
                raise ValueError("delete without old tuple")
            ovals, _ = _read_tuple(buf, 6)
            return ("delete", None, image(relid, ovals)[0], None)
        if kind == b"M":
            # The Int8 flags byte (1 = transactional) is load-bearing:
            # lsns are WAL positions, so a NON-transactional message
            # emitted while a prepared transaction is in flight can
            # carry an lsn numerically inside that [begin_prepare,
            # prepare) span even though PostgreSQL delivers it
            # immediately and unconditionally. Splitting the tag lets
            # overlay_prepared_spans stamp only the transactional kind.
            flags = buf[1] if len(buf) > 1 else 0
            return ("message" if flags == 1 else "message_nontxn",
                    None, None, None)
        if kind == b"O":
            return ("origin", None, None, None)    # replication origin
        if kind == b"Y":
            return ("type", None, None, None)      # custom type metadata
        if kind == b"b":
            return ("begin_prepare", None, None, None)      # 2PC block open
        if kind == b"P":
            return ("prepare", None, None, None)            # 2PC block close
        if kind == b"K":
            return ("commit_prepared", None, None, None)    # 2PC verdict
        if kind == b"r":
            return ("rollback_prepared", None, None, None)  # 2PC verdict
        if kind == b"p":
            return ("stream_prepare", None, None, None)     # streamed 2PC
        if kind == b"T":
            (nrels,) = struct.unpack_from(">i", buf, 1)
            if not 0 <= nrels <= 10_000:
                raise ValueError("implausible truncate relation count")
            relids = [struct.unpack_from(">i", buf, 6 + 4 * i)[0]
                      for i in range(nrels)]
            # a TRUNCATE names every affected relation; only one that hits
            # THIS decoder's table wipes this stream — truncates of other
            # tables pass through as inert control rows
            if known_relids is not None and not any(
                r in known_relids for r in relids
            ):
                return ("truncate_other", None, None, None)
            return ("truncate", None, None, None)
        return ("_corrupt", None, None, None)
    except (ValueError, struct.error, IndexError):
        return ("_corrupt", None, None, None)


# --- the one row decoder: a bronze byte pass, typed on the JVM ----------------
# A replication slot carries EVERY published table, so every decoder in
# this module is one layering, the lakehouse bronze/silver split:
#
#   bronze  decode_pgoutput_generic — ONE Arrow pass turns every message
#           into a schema-agnostic envelope (lsn, relid, xid, top_xid, tag,
#           per-column wire text + a kind string of one 't'/'n'/'u' per
#           column). Python touches the bytes exactly once for the whole
#           slot; persist/land this frame and every table routes from it.
#   silver  _typed_columns — pure JVM: envelope.checked_cast per schema
#           field inside whole-stage codegen (malformed text -> NULL),
#           kind 'u' surfaces as the unchanged-TOAST name list, 'n' stays
#           SQL NULL. decode_pgoutput / _v2 / _2pc type every known
#           relation; route_table types ONE (N tables = N filters over the
#           SAME bronze scan, zero additional decode work).

# protocol v2 stream control frames (see the v2 section below)
_STREAM_CTRL = {b"S": "stream_start", b"E": "stream_stop",
                b"c": "stream_commit", b"A": "stream_abort"}
# Protocol v2 xid-prefixes EVERY in-segment frame, not just DML:
# logical-decoding Message ('M') and Type ('Y') frames inside S..E
# segments carry the Int32 xid too (this module's own
# encode_logical_message emits it for 'M', and
# decode_logical_messages(streamed=True) strips it). Without b"M" here
# the flags byte _parse_change reads at buf[1] is the xid's high byte,
# mis-tagging in-segment TRANSACTIONAL messages as message_nontxn for
# almost every xid; without b"Y" a streamed type row decodes with
# xid=None, so a subtransaction abort cannot match and discard it.
_XID_PREFIXED = (b"I", b"U", b"D", b"R", b"T", b"M", b"Y")
# the segment xid decode_pgoutput_v2's range join puts on each message
_SEG_XID = "__seg_xid"

_BRONZE_SCHEMA = StructType([
    StructField("lsn", LongType()),
    StructField("relid", LongType()),
    StructField("xid", LongType()),
    StructField("top_xid", LongType()),
    StructField("tag", StringType()),
    StructField("vals", ArrayType(StringType())),
    StructField("kinds", StringType()),
    StructField("old_vals", ArrayType(StringType())),
    StructField("old_kinds", StringType()),
])


def _bronze_image(known: frozenset, relid: int, vals: list) -> tuple:
    """_parse_change's ``image`` for the bronze frame: ((wire text per
    column, kind string), None), or (None, None) for an unknown relid."""
    if relid not in known:
        return None, None
    texts = [v if type(v) is str else None for v in vals]
    kinds = "".join(["t" if type(v) is str else "n" if v is None else "u"
                     for v in vals])
    return (texts, kinds), None


def _bronze_row(lsn: int, buf: bytes, top: int | None, streamed: bool,
                image, known: frozenset) -> tuple:
    """One message -> one bronze row. ``streamed`` (a v2 capture) tags
    the S/E/c/A control frames; ``top`` is the enclosing segment's xid,
    and inside a segment the Int32 xid prefix is stripped first."""
    kind = buf[:1]
    xid = None
    if streamed:
        ctrl = _STREAM_CTRL.get(kind)
        if ctrl is not None:
            return (lsn, None, None, None, ctrl, None, None, None, None)
        if top is not None and kind in _XID_PREFIXED:
            if len(buf) < 5:
                return (lsn, None, None, None, "_corrupt",
                        None, None, None, None)
            (xid,) = struct.unpack_from(">i", buf, 1)
            buf = kind + buf[5:]
    relid = None
    if kind in (b"I", b"U", b"D") and len(buf) >= 5:
        (relid,) = struct.unpack_from(">i", buf, 1)
    tag, new, old, _ = _parse_change(buf, image, known)
    vals, kinds = new if new is not None else (None, None)
    old_vals, old_kinds = old if old is not None else (None, None)
    return (lsn, relid, xid, top, tag, vals, kinds, old_vals, old_kinds)


def decode_pgoutput_generic(
    messages: DataFrame,
    relations: dict[int, list[str]] | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
) -> DataFrame:
    """Bronze envelope, the one Python pass: (lsn long, relid, xid,
    top_xid, tag, vals, kinds, old_vals, old_kinds) — values as wire
    text in wire column order, ``kinds`` one 't'/'n'/'u' character per
    column. Unknown relids keep their rows (relid is there, vals NULL)
    so a late-registered table is a re-route, not a re-capture.

    A frame carrying decode_pgoutput_v2's segment column is a v2
    capture: S/E/c/A frames get their stream tags, and a row inside a
    segment has its Int32 xid prefix stripped into ``xid`` with the
    segment's xid as ``top_xid``. Otherwise both read NULL."""
    if relations is None:
        relations = discover_relations(messages, payload_col, lsn_col)
    known = frozenset(relations)
    image = functools.partial(_bronze_image, known)
    streamed = _SEG_XID in messages.columns
    cols = [f.name for f in _BRONZE_SCHEMA.fields]

    def decode(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            tops = ((None if pd.isna(t) else int(t)) for t in pdf[_SEG_XID]) \
                if streamed else itertools.repeat(None)
            rows = [
                _bronze_row(int(lsn), bytes(payload), top, streamed,
                            image, known)
                for lsn, payload, top in zip(pdf[lsn_col], pdf[payload_col],
                                             tops)
            ]
            yield pd.DataFrame(rows, columns=cols)

    inputs = [lsn_col, payload_col] + ([_SEG_XID] if streamed else [])
    return messages.select(*inputs).mapInPandas(decode, schema=_BRONZE_SCHEMA)


def _wire_positions(relations: dict[int, list[str]],
                    row_schema: StructType) -> dict[str, Column | None]:
    """Per schema field, its 1-based position in the bronze ``vals``: a
    literal when every relation has it in the same place, else looked up
    by relid; None when no relation carries it. A name repeated on the
    wire resolves to its last position."""
    where = {r: {n: i + 1 for i, n in enumerate(names)}
             for r, names in relations.items()}
    out: dict[str, Column | None] = {}
    for f in row_schema.fields:
        at = {r: idx[f.name] for r, idx in where.items() if f.name in idx}
        if not at:
            out[f.name] = None
        elif len(at) == len(where) and len(set(at.values())) == 1:
            out[f.name] = F.lit(next(iter(at.values())))
        else:
            out[f.name] = F.try_element_at(
                F.create_map(*[F.lit(x) for kv in at.items() for x in kv]),
                F.col("relid"))
    return out


def _typed_columns(row_schema: StructType, relations: dict[int, list[str]],
                   track_unchanged: bool) -> list[Column]:
    """(tag, new, old [, unchanged]) over a bronze frame, typed on the
    JVM. An image reads NULL for a control row or an unknown relid; a
    field reads its wire text through envelope.checked_cast (the bronze
    text is NULL for kinds 'n' and 'u'), or NULL for a column absent on
    the wire. ``unchanged`` lists, in schema order, the fields of an
    insert/update image whose kind is 'u' (empty for an unknown relid)."""
    pos = _wire_positions(relations, row_schema)

    def image(vals: str, kinds: str) -> Column:
        def text_of(f):
            p = pos[f.name]
            return None if p is None else F.try_element_at(F.col(vals), p)

        return F.when(F.col(kinds).isNotNull(),
                      typed_image(row_schema, text_of))

    cols = [F.col("tag"), image("vals", "kinds").alias("new"),
            image("old_vals", "old_kinds").alias("old")]
    if track_unchanged:
        names = F.array(*[F.when(F.substring("kinds", p, 1) == "u", F.lit(n))
                          for n, p in pos.items() if p is not None])
        cols.append(F.when(
            F.col("tag").isin("insert", "update"),
            F.array_compact(names.cast(ArrayType(StringType()))),
        ).alias("unchanged"))
    return cols


def _v1_lsn(lsn: Column) -> Column:
    # '0/%016X': zero-padded so STRING order == WAL order (the envelope
    # convention cdc_evolving_state also relies on)
    return F.concat(F.lit("0/"), F.lpad(F.hex(lsn), 16, "0"))


def route_table(
    generic: DataFrame,
    relid: int,
    col_names: list[str],
    row_schema: StructType,
    track_unchanged: bool = False,
) -> DataFrame:
    """Silver routing: the typed envelope for ONE table, built entirely
    JVM-side from the bronze frame — the same typing as
    decode_pgoutput, no Python. Output matches decode_pgoutput's frame
    (lsn, tag, new, old [, unchanged]), so the standard pipeline and
    toast_state run unchanged."""
    return generic.filter(F.col("relid") == relid).select(
        _v1_lsn(F.col("lsn")).alias("lsn"),
        *_typed_columns(row_schema, {relid: col_names}, track_unchanged))


def decode_pgoutput(
    messages: DataFrame,
    row_schema: StructType,
    relations: dict[int, list[str]] | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    track_unchanged: bool = False,
) -> DataFrame:
    """Phase 2: decode every message into the standard envelope frame
    (lsn string, tag, new, old) + control/_corrupt rows. ``relations``
    maps relid -> wire column order (from ``discover_relations``);
    columns absent from ``row_schema`` are dropped, schema columns
    absent from the wire read NULL (additive-evolution friendly).

    ``track_unchanged=True`` adds an ``unchanged array<string>`` column
    naming the new-image schema columns the wire marked as
    unchanged-TOAST (TupleData kind 'u' — Postgres does NOT re-send a
    TOASTed value an UPDATE didn't touch). Their ``new.<col>`` reads
    NULL (the wire carries no value), so a consumer that upserts the
    raw image would overwrite stored values with NULL — the classic
    TOAST data-loss bug. upsert.toast_state consumes this column to
    carry the stored value forward instead. Off by default: the extra
    column changes the envelope schema, and non-TOAST pipelines keep
    the historical frame."""
    if relations is None:
        relations = discover_relations(messages, payload_col, lsn_col)
    bronze = decode_pgoutput_generic(messages, relations, lsn_col, payload_col)
    return bronze.select(
        _v1_lsn(F.col("lsn")).alias("lsn"),
        *_typed_columns(row_schema, relations, track_unchanged))


# --- protocol v2: streamed in-progress transactions ---------------------------
# PostgreSQL 14+ ("streaming" on the replication slot) ships LARGE
# transactions before commit, framed as interleavable segments:
#
#   'S' StreamStart   Int32 xid, Int8 first_segment
#   'E' StreamStop    (empty)
#   'c' StreamCommit  Int32 xid, Int8 flags, Int64 lsn, Int64 end_lsn,
#                     Int64 commit_ts
#   'A' StreamAbort   Int32 xid, Int32 sub_xid
#
# and every row message INSIDE a segment carries an Int32 xid right
# after its type byte. Semantics the consumer must implement: buffer
# streamed changes per xid, APPLY them only at StreamCommit (in commit
# order, which can differ from wire order), DISCARD them on StreamAbort.
#
# Spark-shaped decomposition (no per-row driver state, no sequential
# consumer):
#   1. stream_segments  — the S/E control rows are O(#segments), filtered
#      by first byte in the scan; pairing is ONE window over that tiny
#      relation (the protocol guarantees segments never nest on the wire,
#      so S/E strictly alternate in lsn order).
#   2. membership        — "is this lsn inside a segment?" is an interval
#      join: the engine's own binned_range_join (equi-join on lsn bins,
#      never a nested loop), left-outer so non-streamed traffic passes
#      through.
#   3. decode            — the one bronze pass (decode_pgoutput_generic),
#      stripping the 4 xid bytes when (and only when) the row is inside
#      a segment, typed on the JVM like v1.
#   4. stream_verdicts + apply_stream_transactions — 'c'/'A' rows are
#      O(#transactions); a broadcast join stamps each streamed row with
#      its commit lsn (the APPLY position) or drops it (abort/in-flight).
#      Non-streamed rows apply at their own lsn. The emitted envelope lsn
#      is "APPLY/ORIGINAL" zero-padded hex, so plain string order ==
#      commit-then-within-transaction order and every downstream operator
#      (filter -> extract -> latest_state) runs UNCHANGED.


def encode_stream_start(xid: int, first_segment: bool = True) -> bytes:
    return b"S" + struct.pack(">ib", xid, 1 if first_segment else 0)


def encode_stream_stop() -> bytes:
    return b"E"


def encode_stream_commit(xid: int, lsn: int, end_lsn: int,
                         commit_ts: int) -> bytes:
    return b"c" + struct.pack(">ibqqq", xid, 0, lsn, end_lsn, commit_ts)


def encode_stream_abort(xid: int, sub_xid: int | None = None) -> bytes:
    return b"A" + struct.pack(">ii", xid, sub_xid if sub_xid is not None else xid)


def stream_wrap(xid: int, msg: bytes) -> bytes:
    """Prefix a row message with the Int32 xid, as v2 does for every
    message inside a streamed segment."""
    return msg[:1] + struct.pack(">i", xid) + msg[1:]


def _be_int(payload_col: str, pos: int, nbytes: int):
    """Big-endian unsigned int at a byte offset, decoded JVM-side
    (hex -> base-10 conv) — keeps the control passes in codegen."""
    return F.conv(
        F.hex(F.expr(f"substring({payload_col}, {pos}, {nbytes})")), 16, 10
    ).cast("long")


def stream_segments(messages: DataFrame, lsn_col: str = "lsn",
                    payload_col: str = "payload") -> DataFrame:
    """(seg_start, seg_stop, seg_xid) — one row per S..E segment.

    The filter on the first payload byte runs in the scan; what survives
    is O(#segments). Pairing uses one global window over that tiny
    relation — legitimate because segments never nest on the wire, so in
    lsn order the kinds strictly alternate S,E,S,E. A trailing S with no
    E yet (capture window cut mid-segment) stays open-ended: its rows
    are streamed and will simply have no verdict yet (dropped as
    in-flight by apply_stream_transactions, picked up complete in the
    next capture window)."""
    from pyspark.sql import Window

    ctrl = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'53', X'45')")
    ).select(
        F.col(lsn_col).alias("__ctrl_lsn"),
        (F.expr(f"substring({payload_col}, 1, 1)") == F.lit(b"S")).alias("__is_start"),
        _be_int(payload_col, 2, 4).alias("seg_xid"),
    )
    w = Window.orderBy("__ctrl_lsn")
    paired = ctrl.withColumn("__nxt", F.lead("__ctrl_lsn").over(w))
    # an open trailing segment stops at the capture window's last lsn
    # (NOT at "infinity": the binned join replicates each interval into
    # every bin it overlaps, so an unbounded stop would explode)
    window_end = messages.agg((F.max(lsn_col) + 1).alias("__window_end"))
    return (
        paired.filter(F.col("__is_start"))
        # bounded: window_end is a 1-row aggregate
        .crossJoin(F.broadcast(window_end))
        .select(
            F.col("__ctrl_lsn").alias("seg_start"),
            F.coalesce(F.col("__nxt"), F.col("__window_end")).alias("seg_stop"),
            "seg_xid",
        )
    )


def stream_verdicts(messages: DataFrame, lsn_col: str = "lsn",
                    payload_col: str = "payload") -> DataFrame:
    """(v_xid, verdict, commit_lsn, sub_xid) from the 'c'/'A' control
    rows — O(#transactions), decoded entirely JVM-side.

    StreamAbort carries (xid, sub_xid): sub_xid == xid aborts the WHOLE
    transaction, sub_xid != xid aborts only that SUBTRANSACTION's
    changes (protocol v2; every in-segment row message is prefixed with
    the xid of its immediate (sub)transaction, which is what the
    sub-abort must match against)."""
    is_commit = F.expr(f"substring({payload_col}, 1, 1) = X'63'")
    return messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'63', X'41')")
    ).select(
        _be_int(payload_col, 2, 4).alias("v_xid"),
        F.when(is_commit, "commit").otherwise("abort").alias("verdict"),
        F.when(is_commit, _be_int(payload_col, 7, 8)).alias("commit_lsn"),
        F.when(~is_commit, _be_int(payload_col, 6, 4)).alias("sub_xid"),
    )


def decode_pgoutput_v2(
    messages: DataFrame,
    row_schema: StructType,
    relations: dict[int, list[str]] | None = None,
    segments: DataFrame | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    bin_width: int = 1024,
    broadcast_segments: bool = True,
    track_unchanged: bool = False,
) -> DataFrame:
    """Decode a protocol-v2 capture (streamed transactions present) into
    (lsn long, xid, top_xid, tag, new, old [, unchanged]). ``xid`` is
    the Int32 prefixed on the row message — the xid of the IMMEDIATE
    (sub)transaction that produced the change; ``top_xid`` is the
    enclosing segment's StreamStart xid — the TOP-LEVEL transaction,
    which is what StreamCommit names. They differ exactly when the
    change belongs to a subtransaction (and StreamAbort's sub_xid form
    must then be matched against ``xid``, not ``top_xid``). Streamed
    transactions TOAST like any other: an in-segment UPDATE can carry
    'u' datums, so track_unchanged matters here exactly as in v1 —
    without it a committed streamed update would NULL-overwrite stored
    values. Stream membership comes from the
    binned interval join against ``stream_segments`` (equi-join on lsn
    bins — operators/rangejoin.py — never a nested loop); inside a
    segment the one bronze pass strips the Int32 xid before the parse.
    Auto-discovery of ``relations`` handles streamed 'R' messages too:
    an 'R' whose lsn falls inside a segment has its 4 xid bytes
    stripped before the driver-side decode (segments are collected
    first — O(#segments) bounded metadata), so a table whose Relation
    message arrives only inside a streamed segment still maps
    correctly instead of polluting the relations dict with
    xid-shifted garbage.

    Compose with apply_stream_transactions to get the standard ordered
    envelope. Segments default to broadcast (they are O(#segments) per
    capture window); pass broadcast_segments=False to hash-join when a
    window legitimately contains millions of segments."""
    from ..operators.rangejoin import binned_range_join

    if segments is None:
        segments = stream_segments(messages, lsn_col, payload_col)
    if relations is None:
        import bisect

        # Segments sorted by start → O(log #segments) membership via
        # bisect (segments never overlap in LSN: each is the contiguous
        # span between one StreamStart and its StreamStop).
        seg_rows = sorted(
            (int(r["seg_start"]), int(r["seg_stop"]))
            for r in segments.collect())  # O(#segments) metadata
        seg_starts = [s for s, _ in seg_rows]

        def _in_segment(lsn: int) -> bool:
            i = bisect.bisect_right(seg_starts, lsn) - 1
            return i >= 0 and lsn <= seg_rows[i][1]

        # one home for the re-send dedupe + last-image-wins rule
        # (_collect_relation_payloads); this path only adds the
        # in-segment xid strip for streamed 'R' frames.
        relations = {}
        for r_lsn, buf in _collect_relation_payloads(
                messages, payload_col, lsn_col):
            if r_lsn is not None and _in_segment(r_lsn):
                buf = buf[:1] + buf[5:]  # strip the streamed Int32 xid
            try:
                relid, names = decode_relation_message(buf)
            except (ValueError, struct.error, IndexError):
                continue  # dead-letter: a corrupt 'R' never poisons the map
            relations[relid] = names
    if broadcast_segments:
        # bounded: O(#stream segments) control rows
        segments = F.broadcast(segments)
    tagged = binned_range_join(
        messages.select(F.col(lsn_col).alias("__lsn"),
                        F.col(payload_col).alias("__payload")),
        segments,
        "__lsn", "seg_start", "seg_stop", bin_width, how="left_outer",
    ).select("__lsn", "__payload", F.col("seg_xid").alias(_SEG_XID))
    bronze = decode_pgoutput_generic(tagged, relations, "__lsn", "__payload")
    return bronze.select(
        "lsn", "xid", "top_xid",
        *_typed_columns(row_schema, relations, track_unchanged))


def apply_stream_transactions(decoded: DataFrame,
                              verdicts: DataFrame) -> DataFrame:
    """Turn the v2 decode into the standard ordered envelope: aborted
    and still-in-flight streamed rows are DROPPED, committed streamed
    rows apply at their transaction's commit lsn, non-streamed rows at
    their own lsn; within a transaction the original wire order is the
    tiebreak. Envelope lsn = 'APPLY/ORIGINAL' zero-padded hex, so plain
    string order is apply order and the v1 pipeline runs unchanged.
    Verdicts are O(#transactions) -> broadcast joins.

    Verdict matching is two-tier, per protocol v2:
      - StreamCommit names the TOP-LEVEL xid -> matched against
        ``top_xid`` (the enclosing segment's StreamStart xid); a whole-
        transaction StreamAbort (sub_xid == xid) simply never commits,
        so its rows drop as in-flight.
      - StreamAbort with sub_xid != xid aborts ONE SUBTRANSACTION: only
        rows whose per-message ``xid`` equals that sub_xid (within the
        named top-level transaction) are discarded — the rest of the
        transaction still applies at its commit lsn. Matching the
        top-level xid alone would wrongly apply the aborted
        subtransaction's changes at commit.

    Backward-compat: a decoded frame without ``top_xid`` (pre-v2-subtxn
    callers) falls back to matching commits on ``xid``."""
    top = "top_xid" if "top_xid" in decoded.columns else "xid"
    commits = verdicts.filter(F.col("verdict") == "commit").select(
        "v_xid", "commit_lsn")
    sub_aborts = verdicts.filter(
        (F.col("verdict") == "abort") & (F.col("sub_xid") != F.col("v_xid"))
    ).select(F.col("v_xid").alias("__a_top"),
             F.col("sub_xid").alias("__a_sub"))
    pruned = decoded.join(
        # bounded: verdict frame, O(#transactions in the capture)
        F.broadcast(sub_aborts),
        (decoded[top] == F.col("__a_top"))
        & (decoded["xid"] == F.col("__a_sub")),
        "left_anti",
    )
    joined = pruned.join(
        F.broadcast(commits), pruned[top] == commits["v_xid"], "left"
    )
    keep = F.col(top).isNull() | F.col("commit_lsn").isNotNull()
    apply_lsn = F.coalesce(F.col("commit_lsn"), F.col("lsn"))
    cols = [
        F.format_string("%016X/%016X", apply_lsn, F.col("lsn")).alias("lsn"),
        "tag", "new", "old",
    ]
    if "unchanged" in decoded.columns:
        cols.append("unchanged")  # TOAST markers ride through to toast_state
    return joined.filter(keep).select(*cols)


# --- protocol v3: two-phase commit (PREPARE TRANSACTION) -----------------------
# PostgreSQL 15+ ("two_phase" on the replication slot) decodes prepared
# transactions at PREPARE time, framed as:
#
#   'b' BeginPrepare     Int64 prepare_lsn, Int64 end_lsn, Int64 ts,
#                        Int32 xid, Cstr gid
#   'P' Prepare          Int8 flags, Int64 prepare_lsn, Int64 end_lsn,
#                        Int64 ts, Int32 xid, Cstr gid
#   'K' CommitPrepared   Int8 flags, Int64 commit_lsn, Int64 end_lsn,
#                        Int64 ts, Int32 xid, Cstr gid
#   'r' RollbackPrepared Int8 flags, Int64 prepare_end_lsn,
#                        Int64 rollback_end_lsn, Int64 prepare_ts,
#                        Int64 rollback_ts, Int32 xid, Cstr gid
#   'p' StreamPrepare    Int8 flags, Int64 lsn, Int64 end_lsn, Int64 ts,
#                        Int32 xid, Cstr gid   (streamed txn ends prepared)
#
# Consumer semantics: changes between 'b'..'P' (plain v1 row messages, no
# xid prefix) are PREPARED — held, applied only at CommitPrepared (at its
# commit lsn, which can cross later wire traffic) and discarded at
# RollbackPrepared. This is exactly the v2 shape — intervals + verdicts —
# so the Spark decomposition REUSES that machinery: prepared_spans pairs
# 'b'..'P' (one window over the O(#prepared) control rows; prepared txns
# never interleave on the wire in non-streamed mode, same alternation
# guarantee as S/E), membership is the same binned_range_join, verdicts
# ('K'/'r') broadcast-join by xid, and apply_stream_transactions emits
# the standard APPLY/ORIGINAL envelope unchanged. A streamed-prepared
# transaction (S..E segments ending with 'p') needs NO new apply logic:
# decode_pgoutput_v2 already stamps its rows with the segment xid, and
# prepared_verdicts supplies the commit/rollback verdict — union it with
# stream_verdicts.


def encode_begin_prepare(prepare_lsn: int, end_lsn: int, ts: int, xid: int,
                         gid: str) -> bytes:
    return b"b" + struct.pack(">qqqi", prepare_lsn, end_lsn, ts, xid) + _cstr(gid)


def encode_prepare(prepare_lsn: int, end_lsn: int, ts: int, xid: int,
                   gid: str) -> bytes:
    return (b"P" + struct.pack(">bqqqi", 0, prepare_lsn, end_lsn, ts, xid)
            + _cstr(gid))


def encode_commit_prepared(commit_lsn: int, end_lsn: int, ts: int, xid: int,
                           gid: str) -> bytes:
    return (b"K" + struct.pack(">bqqqi", 0, commit_lsn, end_lsn, ts, xid)
            + _cstr(gid))


def encode_rollback_prepared(prepare_end_lsn: int, rollback_end_lsn: int,
                             prepare_ts: int, rollback_ts: int, xid: int,
                             gid: str) -> bytes:
    return (b"r" + struct.pack(">bqqqqi", 0, prepare_end_lsn,
                               rollback_end_lsn, prepare_ts, rollback_ts, xid)
            + _cstr(gid))


def encode_stream_prepare(lsn: int, end_lsn: int, ts: int, xid: int,
                          gid: str) -> bytes:
    return (b"p" + struct.pack(">bqqqi", 0, lsn, end_lsn, ts, xid)
            + _cstr(gid))


def prepared_spans(messages: DataFrame, lsn_col: str = "lsn",
                   payload_col: str = "payload") -> DataFrame:
    """(p_start, p_stop, p_xid) — one row per 'b'..'P' prepared block.
    Same pairing argument as stream_segments: the filter runs in the
    scan, survivors are O(#prepared transactions), and 'b'/'P' strictly
    alternate in lsn order (non-streamed prepared content is contiguous
    on the wire). A trailing 'b' with no 'P' yet stays open to the
    capture window's end — its rows get no verdict and hold back."""
    from pyspark.sql import Window

    ctrl = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'62', X'50')")
    ).select(
        F.col(lsn_col).alias("__ctrl_lsn"),
        (F.expr(f"substring({payload_col}, 1, 1)") == F.lit(b"b"))
        .alias("__is_begin"),
        # 'b': type(1) + 3x Int64(24) -> xid at byte 26 (1-based)
        _be_int(payload_col, 26, 4).alias("p_xid"),
    )
    w = Window.orderBy("__ctrl_lsn")
    paired = ctrl.withColumn("__nxt", F.lead("__ctrl_lsn").over(w))
    window_end = messages.agg((F.max(lsn_col) + 1).alias("__window_end"))
    return (
        paired.filter(F.col("__is_begin"))
        # bounded: 1-row aggregate
        .crossJoin(F.broadcast(window_end))
        .select(
            F.col("__ctrl_lsn").alias("p_start"),
            F.coalesce(F.col("__nxt"), F.col("__window_end")).alias("p_stop"),
            "p_xid",
        )
    )


def prepared_verdicts(messages: DataFrame, lsn_col: str = "lsn",
                      payload_col: str = "payload") -> DataFrame:
    """(v_xid, verdict, commit_lsn, sub_xid) from 'K'/'r' control rows —
    schema-compatible with stream_verdicts so the two can union (a
    capture with both streamed and prepared transactions). A rollback's
    sub_xid is set to its own xid: RollbackPrepared always voids the
    WHOLE transaction (2PC has no sub-transaction rollback on the wire),
    so it must not match apply_stream_transactions' sub-abort path."""
    is_commit = F.expr(f"substring({payload_col}, 1, 1) = X'4B'")
    xid = F.when(
        is_commit,
        # 'K': type(1) + flags(1) + 3x Int64(24) -> xid at byte 27
        _be_int(payload_col, 27, 4),
    ).otherwise(
        # 'r': type(1) + flags(1) + 4x Int64(32) -> xid at byte 35
        _be_int(payload_col, 35, 4)
    )
    return messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) IN (X'4B', X'72')")
    ).select(
        xid.alias("v_xid"),
        F.when(is_commit, "commit").otherwise("abort").alias("verdict"),
        # 'K': commit_lsn right after flags -> byte 3
        F.when(is_commit, _be_int(payload_col, 3, 8)).alias("commit_lsn"),
        F.when(~is_commit, xid).alias("sub_xid"),
    )


# Transaction-owned tags — the rows a prepared span's xid stamp (and
# therefore the commit/rollback verdict) applies to. Shared by
# decode_pgoutput_2pc and overlay_prepared_spans so the rule cannot
# drift: framing/control rows and NON-transactional messages are never
# stamped (see overlay_prepared_spans' docstring for why the wire flag,
# not interval membership, decides for 'M').
# DELIBERATE asymmetry vs the v2 STREAMED path (ADVICE r12): v2
# in-segment 'Y' (type) and 'M' rows carry a WIRE xid prefix and are
# stamped from it, so a (sub)abort discards them with the segment; here
# type/relation metadata rows have NO wire xid (the 2PC block is plain
# v1 framing inside 'b'..'P'), so a 'type' row inside a rolled-back
# prepared block survives at its own lsn — harmless (metadata carries
# no row images) and truthful to what the wire actually attributes to
# the transaction.
_PREPARED_STAMP_TAGS = ("insert", "update", "delete", "truncate",
                        "truncate_other", "message")


def decode_pgoutput_2pc(
    messages: DataFrame,
    row_schema: StructType,
    relations: dict[int, list[str]] | None = None,
    spans: DataFrame | None = None,
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    bin_width: int = 1024,
    track_unchanged: bool = False,
) -> DataFrame:
    """Decode a two-phase capture into the v2-compatible frame
    (lsn long, xid, top_xid, tag, new, old [, unchanged]): rows are the
    plain v1 decode (no xid prefix inside 'b'..'P'); membership in a
    prepared block stamps xid/top_xid from the span. Compose with
    apply_stream_transactions(decoded, prepared_verdicts(messages)) —
    prepared rows apply at their CommitPrepared lsn, rolled-back and
    still-prepared (no verdict yet) rows drop.

    Only TRANSACTION-OWNED rows are stamped with the span's xid — the
    same ``_PREPARED_STAMP_TAGS`` rule as ``overlay_prepared_spans``
    (see its docstring for the full argument): the block's own framing
    rows and any NON-transactional 'M' whose WAL lsn happens to fall
    numerically inside the span keep null xids, so the downstream
    apply_stream_transactions repositions/drops only transaction
    content — a rolled-back block must not swallow a concurrent
    flags=0 message PostgreSQL delivered immediately (r12)."""
    from ..operators.rangejoin import binned_range_join

    if spans is None:
        spans = prepared_spans(messages, lsn_col, payload_col)
    if relations is None:
        relations = discover_relations(messages, payload_col, lsn_col)
    env = decode_pgoutput_generic(
        messages, relations, lsn_col, payload_col,
    ).select("lsn", *_typed_columns(row_schema, relations, track_unchanged))
    tagged = binned_range_join(
        env,
        # bounded: O(#prepared transactions) control spans
        F.broadcast(spans),
        "lsn", "p_start", "p_stop", bin_width, how="left_outer",
    )
    stamp = F.when(F.col("tag").isin(*_PREPARED_STAMP_TAGS),
                   F.col("p_xid"))
    cols = [
        "lsn",
        stamp.alias("xid"),
        stamp.alias("top_xid"),
        "tag", "new", "old",
    ]
    if track_unchanged:
        cols.append("unchanged")
    return tagged.select(*cols)


# --- logical decoding messages ('M'): application-emitted WAL markers ----------
# pg_logical_emit_message() lets applications write arbitrary
# (prefix, content) markers into the WAL stream — audit trails, deploy
# fences, cache-invalidation signals. The row decoders surface 'M' only
# as an inert control tag; this pass decodes the CONTENT:
#
#   'M' [Int32 xid]  Int8 flags (1 = transactional), Int64 lsn,
#                    Cstr prefix, Int32 length, content bytes
#
# Spark shape: the first-byte filter runs in the scan (only 'M' payloads
# reach Python), then one Arrow mapInPandas decodes (flags, msg_lsn,
# prefix, content) per marker — corrupt payloads dead-letter as
# prefix='_corrupt' rows instead of failing the batch.


def encode_logical_message(prefix: str, content: bytes, lsn: int = 0,
                           transactional: bool = True,
                           xid: int | None = None) -> bytes:
    body = (struct.pack(">bq", 1 if transactional else 0, lsn)
            + _cstr(prefix) + struct.pack(">i", len(content)) + content)
    if xid is not None:  # streamed form
        return b"M" + struct.pack(">i", xid) + body
    return b"M" + body


def decode_logical_messages(messages: DataFrame, lsn_col: str = "lsn",
                            payload_col: str = "payload",
                            streamed: bool = False) -> DataFrame:
    """(lsn, transactional, msg_lsn, prefix, content) from the 'M'
    payloads in a capture. ``streamed=True`` strips the Int32 xid that
    protocol v2 prefixes inside stream segments (pass the pre-filtered
    in-segment subset there; mixed captures route each subset through
    its own call)."""
    from pyspark.sql.types import BinaryType, BooleanType

    out_schema = StructType([
        StructField("lsn", LongType()),
        StructField("transactional", BooleanType()),
        StructField("msg_lsn", LongType()),
        StructField("prefix", StringType()),
        StructField("content", BinaryType()),
    ])

    def decode(batches) -> Iterator:
        import pandas as pd

        cols = ["lsn", "transactional", "msg_lsn", "prefix", "content"]
        for pdf in batches:
            rows: list[tuple] = []
            for lsn, payload in zip(pdf[lsn_col], pdf[payload_col]):
                buf = bytes(payload)
                try:
                    pos = 5 if streamed else 1  # skip type (+xid)
                    flags, msg_lsn = struct.unpack_from(">bq", buf, pos)
                    pos += 9
                    end = buf.index(b"\x00", pos)
                    prefix = buf[pos:end].decode()
                    pos = end + 1
                    (ln,) = struct.unpack_from(">i", buf, pos)
                    pos += 4
                    if ln < 0 or pos + ln > len(buf):
                        raise ValueError("bad content length")
                    content = buf[pos:pos + ln]
                    rows.append((int(lsn), flags == 1, msg_lsn,
                                 prefix, content))
                except (ValueError, struct.error, IndexError,
                        UnicodeDecodeError):
                    rows.append((int(lsn), None, None, "_corrupt", None))
            yield pd.DataFrame(rows, columns=cols)

    return messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'4D'")
    ).mapInPandas(decode, schema=out_schema)


# --- replication origins ('O'): bidirectional-replication loop filter ----------
# A subscriber that also publishes must NOT re-forward transactions it
# received from elsewhere (the A->B->A echo). pgoutput tags such
# transactions with an Origin message right after Begin:
#
#   'O' Int64 commit_lsn, Cstr origin_name
#
# Spark shape: transaction spans are [B_lsn, next_B_lsn) intervals built
# from the 'B' control rows (byte-filtered in the scan; ONE global
# window over that control subset — O(#transactions-in-capture-window),
# a spillable sort bounded by the micro-batch/capture size, the same
# cost class real CDC batchers accept per batch); the O(#tagged) origin
# rows broadcast-join into their spans, and the DATA path — the big
# side — is a binned interval ANTI join that stays hash-partitioned.
# Origin-name decode is pure JVM (fixed 9-byte header + trailing NUL).


def encode_origin(commit_lsn: int, name: str) -> bytes:
    return b"O" + struct.pack(">q", commit_lsn) + _cstr(name)


def origin_spans(messages: DataFrame, lsn_col: str = "lsn",
                 payload_col: str = "payload",
                 bin_width: int = 1024) -> DataFrame:
    """(o_start, o_stop, origin) — one row per transaction span that
    carries an Origin tag. Untagged transactions produce no span (they
    are locally originated and always pass the filter)."""
    from pyspark.sql import Window

    from ..operators.rangejoin import binned_range_join

    begins = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'42'")
    ).select(F.col(lsn_col).alias("__b_lsn"))
    w = Window.orderBy("__b_lsn")
    window_end = messages.agg((F.max(lsn_col) + 1).alias("__window_end"))
    spans = (
        begins.withColumn("__nxt", F.lead("__b_lsn").over(w))
        # bounded: 1-row aggregate
        .crossJoin(F.broadcast(window_end))
        .select(
            F.col("__b_lsn").alias("o_start"),
            (F.coalesce(F.col("__nxt"), F.col("__window_end")) - 1)
            .alias("o_stop"),
        )
    )
    origins = messages.filter(
        F.expr(f"substring({payload_col}, 1, 1) = X'4F'")
    ).select(
        F.col(lsn_col).alias("__o_lsn"),
        # 'O'(1) + Int64(8) -> name from byte 10, trailing NUL stripped
        F.expr(
            f"cast(substring({payload_col}, 10,"
            f" length({payload_col}) - 10) as string)"
        ).alias("origin"),
    )
    return binned_range_join(
        origins, spans, "__o_lsn", "o_start", "o_stop", bin_width,
    ).select("o_start", "o_stop", "origin")


def filter_foreign_origins(
    messages: DataFrame,
    keep_origins: tuple[str, ...] = (),
    lsn_col: str = "lsn",
    payload_col: str = "payload",
    bin_width: int = 1024,
) -> DataFrame:
    """Drop every transaction tagged with a replication origin NOT in
    ``keep_origins`` (untagged = locally-originated transactions always
    pass). The reference forwards everything it decodes
    (src/mapping/customMapper.ts:19-23) — in a bidirectional topology
    that echoes foreign changes straight back; this filter is the
    standard subscriber-side defense. Foreign spans are O(#tagged
    transactions) -> broadcast; each message matches at most one span
    (spans are disjoint), so the left-outer + null-filter is an exact
    anti join with no dedup needed."""
    from ..operators.rangejoin import binned_range_join

    spans = origin_spans(messages, lsn_col, payload_col, bin_width)
    foreign = spans.filter(~F.col("origin").isin(*keep_origins)) \
        if keep_origins else spans
    out_cols = messages.columns
    tagged = binned_range_join(
        messages,
        # bounded: O(#origin spans) control rows
        F.broadcast(foreign),
        lsn_col, "o_start", "o_stop", bin_width, how="left_outer",
    )
    return tagged.filter(F.col("origin").isNull()).select(*out_cols)


# --- XLogData transport framing ('w'/'k'): the COPY-stream wrapper -------------
# On a live replication socket, pgoutput messages arrive wrapped in the
# streaming-replication COPY protocol:
#
#   'w' XLogData          Int64 wal_start, Int64 wal_end, Int64 clock,
#                         bytes payload (ONE pgoutput message)
#   'k' PrimaryKeepalive  Int64 wal_end, Int64 clock, Int8 reply_requested
#
# A capture that lands raw socket frames therefore needs one unwrap
# before any decoder — and the frame ITSELF carries the authoritative
# WAL position, so downstream needs no side lsn column. The unwrap is
# pure JVM (fixed offsets: substring + hex->long), whole-stage codegen,
# zero Python: keepalives and corrupt stubs are filtered in the scan
# pass, wal_start becomes the envelope lsn, and the inner payload feeds
# decode_pgoutput/decode_pgoutput_v2/... unchanged.


def encode_xlogdata(wal_start: int, payload: bytes, wal_end: int | None = None,
                    clock: int = 0) -> bytes:
    return b"w" + struct.pack(
        ">qqq", wal_start,
        wal_end if wal_end is not None else wal_start + len(payload), clock,
    ) + payload


def encode_keepalive(wal_end: int, clock: int = 0,
                     reply_requested: bool = False) -> bytes:
    return b"k" + struct.pack(">qqb", wal_end, clock,
                              1 if reply_requested else 0)


def unwrap_xlogdata(frames: DataFrame,
                    frame_col: str = "frame") -> DataFrame:
    """(lsn, clock_us, payload) from raw COPY-stream frames: XLogData
    frames unwrapped, keepalives and anything too short to carry a
    header dropped. All JVM built-ins — the big pass stays in codegen;
    lsn = the frame's own wal_start (the authoritative WAL position,
    replacing any side column)."""
    is_data = F.expr(f"substring({frame_col}, 1, 1) = X'77'")
    long_enough = F.length(F.col(frame_col)) > 25
    return frames.filter(is_data & long_enough).select(
        _be_int(frame_col, 2, 8).alias("lsn"),
        _be_int(frame_col, 18, 8).alias("clock_us"),
        F.expr(
            f"substring({frame_col}, 26, length({frame_col}) - 25)"
        ).alias("payload"),
    )


# --- schema inference from Relation metadata -----------------------------------
# The 'R' message carries per-column type OIDs and key flags — enough to
# derive the Spark row schema WITHOUT a hand-written StructType, the way
# real consumers bootstrap (the reference gets this for free from its
# decode library's JS objects; here it is explicit). Inference is part
# of the same bounded O(#tables) metadata pass as name discovery.

#: pg_type OID -> Spark type for the text-mode renderings
#: envelope.checked_cast understands. NUMERIC maps to DecimalType(38,18) — exact, and wide
#: enough for any fixture; unknown OIDs fall back to StringType (the
#: wire value is text already, so nothing is lost — a consumer can
#: try_cast later).
_PG_TYPE_OIDS = {
    16: "boolean",     # bool
    20: "long",        # int8
    21: "integer",     # int2
    23: "integer",     # int4
    25: "string",      # text
    17: "binary",      # bytea
    700: "float",      # float4
    701: "double",     # float8
    1042: "string",    # bpchar
    1043: "string",    # varchar
    1082: "date",      # date
    1114: "timestamp",  # timestamp
    1184: "timestamp",  # timestamptz
    1700: "decimal(38,18)",  # numeric
}


def decode_relation_schema(buf: bytes):
    """(relid, names, typoids, key_flags) from one 'R' payload — the
    full column metadata (decode_relation_message keeps returning just
    (relid, names) for existing callers)."""
    if buf[:1] != b"R":
        raise ValueError("not a relation message")
    (relid,) = struct.unpack_from(">i", buf, 1)
    pos = 5
    for _ in range(2):  # namespace, relname
        pos = buf.index(b"\x00", pos) + 1
    pos += 1  # replident
    (ncols,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    names, typoids, keys = [], [], []
    for _ in range(ncols):
        (flags,) = struct.unpack_from(">b", buf, pos)
        pos += 1
        end = buf.index(b"\x00", pos)
        names.append(buf[pos:end].decode())
        pos = end + 1
        (typoid,) = struct.unpack_from(">i", buf, pos)
        pos += 8  # typoid + typmod
        typoids.append(typoid)
        keys.append(bool(flags & 1))
    return relid, names, typoids, keys


def infer_row_schema(typoids: list[int], names: list[str]) -> StructType:
    """Spark schema from pg_type OIDs (unknown OIDs -> string: the wire
    carries text, nothing is lost)."""
    from pyspark.sql.types import _parse_datatype_string

    return StructType([
        StructField(n, _parse_datatype_string(
            _PG_TYPE_OIDS.get(t, "string")))
        for n, t in zip(names, typoids)
    ])


def discover_relation_schemas(messages: DataFrame,
                              payload_col: str = "payload"):
    """relid -> (names, inferred StructType, key column names) — the
    schema-inference twin of discover_relations, same bounded O(#tables)
    driver pass (re-sent 'R' images deduped executor-side, latest image
    per relid wins). Feed the names into decode_pgoutput's ``relations``
    and the StructType as its ``row_schema`` for a fully self-describing
    decode (no hand-written schema anywhere)."""
    out = {}
    for _, buf in _collect_relation_payloads(messages, payload_col, "lsn"):
        try:
            relid, names, typoids, keys = decode_relation_schema(buf)
        except (ValueError, struct.error, IndexError):
            continue  # dead-letter: a corrupt 'R' never poisons the map
        out[relid] = (
            names,
            infer_row_schema(typoids, names),
            [n for n, k in zip(names, keys) if k],
        )
    return out


def overlay_prepared_spans(decoded: DataFrame, spans: DataFrame,
                           bin_width: int = 1024) -> DataFrame:
    """Fill xid/top_xid for rows inside 'b'..'P' prepared blocks on an
    ALREADY-DECODED v2 frame — the mixed-capture composition: a slot can
    interleave STREAMED transactions (v2 segments, xid-stamped by
    decode_pgoutput_v2) with NON-streamed prepared blocks (plain rows,
    which v2 decode leaves with null top_xid — they would wrongly apply
    at their own lsn instead of holding for CommitPrepared). Compose:

        decoded = decode_pgoutput_v2(msgs, schema)
        decoded = overlay_prepared_spans(decoded, prepared_spans(msgs))
        env = apply_stream_transactions(
            decoded, stream_verdicts(msgs).unionByName(
                prepared_verdicts(msgs)))

    Rows already stamped (streamed) keep their xids; spans are
    O(#prepared) -> broadcast; same binned interval join as everywhere.

    Only TRANSACTION-OWNED rows (insert/update/delete/truncate +
    'message') are stamped: the span's own framing rows ('b'/'P' →
    begin_prepare/prepare) and other control rows inside the span keep
    null xids, so a downstream apply_stream_transactions
    repositions/drops only transaction content — direct envelope
    consumers see framing rows at their wire lsn, not teleported to the
    commit lsn (or silently dropped on rollback).

    'message' (the TRANSACTIONAL kind — the decoder splits on the wire
    flag byte, tagging flags=0 frames 'message_nontxn') is transaction
    content here: PostgreSQL decodes transactional messages at commit
    time and discards them on rollback, which is exactly what stamping
    + apply_stream_transactions produces. The non-transactional kind is
    deliberately NOT in _DATA_TAGS: lsns are WAL positions, so a
    concurrent flags=0 message can carry an lsn numerically inside a
    prepared span even though the server delivers it immediately and
    unconditionally — interval membership alone cannot distinguish the
    two, only the wire flag can.
    """
    from ..operators.rangejoin import binned_range_join

    _DATA_TAGS = _PREPARED_STAMP_TAGS
    cols = decoded.columns
    tagged = binned_range_join(
        # bounded: O(#prepared transactions) control spans
        decoded, F.broadcast(spans),
        "lsn", "p_start", "p_stop", bin_width, how="left_outer",
    )
    stamp = F.col("tag").isin(*_DATA_TAGS)
    return tagged.select(
        *[
            F.coalesce(
                F.col(c), F.when(stamp, F.col("p_xid"))).alias(c)
            if c in ("xid", "top_xid") else F.col(c)
            for c in cols
        ]
    )
