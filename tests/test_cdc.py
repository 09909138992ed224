"""Golden CDC-envelope tests (SURVEY.md §5.2): the filter/extract/upsert
pipeline materialized from a pgoutput-shaped change log, batch-first.

Covers the scenarios FIXTURES.md A3 requires: begin/commit framing,
inserts, multiple updates per key (last-image-wins), deletes preserved
(the reference drops them — src/mapping/customMapper.ts:19), relation
messages filtered, out-of-order delivery (order-insensitivity given lsn).
"""

from __future__ import annotations

import json
import random

import pytest

from pgcdc_spark.cdc.envelope import parse_envelope
from pgcdc_spark.cdc.transform import apply_pipeline
from pgcdc_spark.streaming.pipeline import materialize_batch

ROW = {"id": 1, "first_name": "Ada", "last_name": "Lovelace",
       "date_of_birth": "1990-01-01", "status_id": 1}


def _env(lsn: int, tag: str, new=None, old=None) -> str:
    return json.dumps({"lsn": f"0/{lsn:07X}", "tag": tag, "new": new, "old": old})


def fixture_lines() -> list[str]:
    mk = lambda i, **kw: {**ROW, "id": i, **kw}  # noqa: E731
    lines = [
        _env(1, "begin"),
        _env(2, "relation"),
        _env(3, "insert", new=mk(1)),
        _env(4, "insert", new=mk(2, first_name="Grace")),
        _env(5, "commit"),
        _env(6, "begin"),
        _env(7, "update", new=mk(1, last_name="Byron")),
        _env(8, "insert", new=mk(3, first_name="Alan")),
        _env(9, "delete", old=mk(2, first_name="Grace")),
        _env(10, "update", new=mk(1, last_name="King", status_id=2)),
        _env(11, "commit"),
        _env(12, "insert", new=mk(4, first_name="Edsger")),
        _env(13, "delete", old=mk(4, first_name="Edsger")),
        _env(14, "insert", new=mk(4, first_name="Barbara")),  # re-insert after delete
    ]
    return lines


EXPECTED = {
    1: ("Ada", "King", 2),       # two updates, last image wins
    3: ("Alan", "Lovelace", 1),
    4: ("Barbara", "Lovelace", 1),  # delete then re-insert
    # id 2 deleted -> absent
}


def _materialize(spark, lines):
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    return materialize_batch(parse_envelope(raw), keys=["id"], order_by=["lsn"])


def test_golden_materialization(spark):
    state = _materialize(spark, fixture_lines())
    rows = {r["id"]: (r["first_name"], r["last_name"], r["status_id"])
            for r in state.collect()}
    assert rows == EXPECTED


def test_control_messages_filtered(spark):
    raw = spark.createDataFrame([(l,) for l in fixture_lines()], ["value"])
    changes = apply_pipeline(parse_envelope(raw))
    tags = {r["op"] for r in changes.select("op").distinct().collect()}
    assert tags == {"I", "U", "D"}
    assert changes.count() == 9  # 5 inserts + 2 updates + 2 deletes


def test_deletes_preserved_not_dropped(spark):
    """The reference silently forwards only new-images; our pipeline must
    emit delete events with the old image."""
    raw = spark.createDataFrame([(_env(1, "delete", old=ROW),)], ["value"])
    changes = apply_pipeline(parse_envelope(raw))
    row = changes.collect()[0]
    assert row["op"] == "D"
    assert row["first_name"] == "Ada"


def test_upsert_order_insensitive(spark):
    """Shuffled log materializes identically (keyed by lsn) — the property
    SURVEY.md §5.2.4 requires."""
    lines = fixture_lines()
    rng = random.Random(7)
    for _ in range(3):
        shuffled = lines[:]
        rng.shuffle(shuffled)
        state = _materialize(spark, shuffled)
        rows = {r["id"]: (r["first_name"], r["last_name"], r["status_id"])
                for r in state.collect()}
        assert rows == EXPECTED


def test_corrupt_lines_dead_lettered(spark):
    lines = [*fixture_lines(), "this is not json", '{"lsn": 5}']
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    parsed = parse_envelope(raw)
    corrupt = parsed.filter(parsed["_corrupt"].isNotNull()).count()
    # from_json yields null struct only for unparseable text; the partial
    # JSON decodes with null fields and is later dropped by extract.
    assert corrupt == 1
    state = materialize_batch(parsed, keys=["id"], order_by=["lsn"])
    assert {r["id"] for r in state.collect()} == set(EXPECTED)


@pytest.mark.parametrize("dup_factor", [2])
def test_upsert_idempotent_replay(spark, dup_factor):
    """Replaying the same log (at-least-once delivery) changes nothing."""
    lines = fixture_lines() * dup_factor
    state = _materialize(spark, lines)
    rows = {r["id"]: (r["first_name"], r["last_name"], r["status_id"])
            for r in state.collect()}
    assert rows == EXPECTED


# --- Debezium adapter goldens ------------------------------------------------


def _dbz(lsn: int, op: str, before=None, after=None, wrapped=True) -> str:
    payload = {
        "before": before,
        "after": after,
        "source": {"connector": "postgresql", "db": "app", "table": "students",
                   "lsn": lsn, "txId": 100 + lsn},
        "op": op,
        "ts_ms": 1700000000000 + lsn,
    }
    return json.dumps({"schema": {"type": "struct"}, "payload": payload}
                      if wrapped else payload)


def debezium_fixture_lines() -> list[str]:
    mk = lambda i, **kw: {**ROW, "id": i, **kw}  # noqa: E731
    return [
        _dbz(3, "r", after=mk(1)),                                 # snapshot read
        _dbz(4, "c", after=mk(2, first_name="Grace")),
        # lsn 9 then 10: unpadded string order would sort "9" AFTER "10"
        # and resurrect the older image — this pins the zero-pad mapping.
        _dbz(9, "u", after=mk(1, last_name="Byron")),
        _dbz(10, "u", after=mk(1, last_name="King", status_id=2)),
        _dbz(11, "d", before=mk(2, first_name="Grace")),           # delete: before only
        _dbz(12, "c", after=mk(3, first_name="Alan"), wrapped=False),  # flat layout
        _dbz(13, "t"),                                             # truncate: no images
        json.dumps({"schema": {"type": "struct"}, "payload": None}),  # tombstone
        "not-json {{",                                             # malformed
    ]


def test_debezium_golden_materialization(spark):
    from pgcdc_spark.cdc.debezium import parse_debezium
    from pgcdc_spark.cdc.upsert import latest_state

    raw = spark.createDataFrame([(l,) for l in debezium_fixture_lines()], ["value"])
    changes = apply_pipeline(parse_debezium(raw))
    state = latest_state(changes, keys=["id"], order_by=["lsn"], op_col="op")
    rows = {r["id"]: (r["first_name"], r["last_name"], r["status_id"])
            for r in state.collect()}
    assert rows == {
        1: ("Ada", "King", 2),      # snapshot read upserted, lsn 10 beats 9
        3: ("Alan", "Lovelace", 1),  # flat-layout insert
        # id 2 deleted -> absent; truncate/tombstone/malformed contribute nothing
    }


def test_debezium_tag_mapping_and_dead_letter(spark):
    from pgcdc_spark.cdc.debezium import parse_debezium

    raw = spark.createDataFrame([(l,) for l in debezium_fixture_lines()], ["value"])
    env = parse_debezium(raw).collect()
    tags = [r["tag"] for r in env]
    assert tags[:7] == ["insert", "insert", "update", "update", "delete",
                        "insert", "truncate"]
    # snapshot read and flat insert both land as 20-digit sortable lsn
    assert env[0]["lsn"] == "3".rjust(20, "0")
    assert all(r["lsn"] is None or len(r["lsn"]) == 20 for r in env)
    # the malformed line is dead-lettered, not dropped silently
    corrupt = [r for r in env if r["_corrupt"] is not None]
    assert len(corrupt) == 1 and "not-json" in corrupt[0]["_corrupt"]
    # delete carries the old image only
    dels = [r for r in env if r["tag"] == "delete"]
    assert dels[0]["old"]["id"] == 2 and dels[0]["new"] is None


# --- tombstone compaction ----------------------------------------------------


def test_compact_tombstones_safety(spark):
    """(1) A retained (post-horizon) tombstone still suppresses a late
    redelivery of an older image; (2) compaction changes nothing about how
    future (post-horizon) batches merge; (3) pre-horizon tombstones go."""
    from pgcdc_spark.cdc.upsert import compact_tombstones, latest_state, merge_batch

    def mk(rows):
        return spark.createDataFrame(rows, "id LONG, lsn STRING, op STRING, v STRING")

    log = [
        (1, "05", "I", "a"),   # live row
        (2, "06", "D", None),  # old tombstone (pre-horizon) -> compactable
        (3, "09", "D", None),  # recent tombstone (post-horizon) -> retained
    ]
    state = latest_state(mk(log), keys=["id"], order_by=["lsn"], keep_deletes=True)
    compacted = compact_tombstones(state, horizon="08")
    kept = {(r["id"], r["op"]) for r in compacted.collect()}
    assert kept == {(1, "I"), (3, "D")}  # old tombstone gone, live row kept

    # late redelivery ordered after the horizon but before the retained
    # tombstone: must NOT resurrect id 3
    late = mk([(3, "08", "U", "zombie")])  # 08 < 09: tombstone wins
    merged = merge_batch(compacted, late, keys=["id"], order_by=["lsn"])
    out = {r["id"]: r["op"] for r in merged.collect()}
    assert out[3] == "D"

    # equivalence: merging a strictly-post-horizon batch into compacted vs
    # uncompacted state differs only by the compacted tombstones
    batch = mk([(2, "11", "I", "reborn"), (4, "12", "I", "new")])
    a = merge_batch(compacted, batch, keys=["id"], order_by=["lsn"])
    b = merge_batch(state, batch, keys=["id"], order_by=["lsn"])
    rows_a = {(r["id"], r["lsn"], r["op"], r["v"]) for r in a.collect()}
    rows_b = {(r["id"], r["lsn"], r["op"], r["v"]) for r in b.collect()}
    assert rows_a == rows_b  # id 2's old tombstone was outranked either way


# --- MongoDB change-stream adapter (cdc/mongo.py) ----------------------------


def _mongo_schemas():
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    row = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("status", IntegerType()),
        ]
    )
    key = StructType([StructField("id", LongType())])
    return row, key


def _cs(i, op, full=None, key=None, upd=None, rem=None, token=True):
    doc = {
        "_id": {"_data": f"{i:040d}"} if token else None,
        "operationType": op,
        "clusterTime": {"t": i, "i": 0},
        "fullDocument": full,
        "documentKey": key if key is not None else (
            {"id": full["id"]} if full else None
        ),
        "ns": {"db": "app", "coll": "things"},
    }
    if upd is not None or rem is not None:
        doc["updateDescription"] = {"updatedFields": upd, "removedFields": rem}
    return json.dumps(doc)


def mongo_fixture_lines():
    return [
        _cs(1, "insert", full={"id": 1, "name": "Ada", "status": 1}),
        _cs(2, "insert", full={"id": 2, "name": "Grace", "status": 1}),
        _cs(3, "update", full={"id": 1, "name": "Ada", "status": 2}),  # updateLookup
        _cs(4, "replace", full={"id": 2, "name": "Hopper", "status": 1}),
        _cs(5, "delete", key={"id": 1}),
        _cs(6, "drop"),          # control: no image, falls out at extraction
        _cs(7, "invalidate"),    # control
        "not-json {{",           # malformed -> dead letter
    ]


def test_mongo_golden_materialization(spark):
    from pgcdc_spark.cdc.mongo import parse_mongo_changestream
    from pgcdc_spark.cdc.upsert import latest_state

    row, key = _mongo_schemas()
    raw = spark.createDataFrame([(l,) for l in mongo_fixture_lines()], ["value"])
    changes = apply_pipeline(parse_mongo_changestream(raw, row, key))
    state = latest_state(changes, keys=["id"], order_by=["lsn"], op_col="op")
    rows = {r["id"]: (r["name"], r["status"]) for r in state.collect()}
    # id 1 deleted at lsn 5 (after its update); id 2's replace wins
    assert rows == {2: ("Hopper", 1)}


def test_mongo_envelope_mapping_and_dead_letter(spark):
    from pgcdc_spark.cdc.mongo import parse_mongo_changestream

    row, key = _mongo_schemas()
    raw = spark.createDataFrame([(l,) for l in mongo_fixture_lines()], ["value"])
    env = parse_mongo_changestream(raw, row, key).collect()
    tags = [r["tag"] for r in env[:7]]
    assert tags == ["insert", "insert", "update", "update", "delete",
                    "drop", "invalidate"]
    # the delete's old image is the documentKey lifted into the row shape
    d = env[4]
    assert d["old"]["id"] == 1 and d["old"]["name"] is None and d["new"] is None
    # every event carries its typed key
    assert [r["key"]["id"] for r in env[:5]] == [1, 2, 1, 2, 1]
    corrupt = [r for r in env if r["_corrupt"] is not None]
    assert len(corrupt) == 1 and "not-json" in corrupt[0]["_corrupt"]


def test_mongo_clustertime_lsn_fallback(spark):
    """A token-less (synthetic replay) feed orders by (clusterTime.t, i)."""
    from pgcdc_spark.cdc.mongo import parse_mongo_changestream
    from pgcdc_spark.cdc.upsert import latest_state

    row, key = _mongo_schemas()
    lines = [
        _cs(10, "insert", full={"id": 1, "name": "first", "status": 1}, token=False),
        _cs(12, "update", full={"id": 1, "name": "last", "status": 1}, token=False),
        _cs(11, "update", full={"id": 1, "name": "middle", "status": 1}, token=False),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    changes = apply_pipeline(parse_mongo_changestream(raw, row, key))
    state = latest_state(changes, keys=["id"], order_by=["lsn"], op_col="op")
    assert [r["name"] for r in state.collect()] == ["last"]


def test_mongo_patch_state_semantics(spark):
    """Partial updates: set, remove, patch-after-delete recreation, and
    patch-before-anchor suppression."""
    from pgcdc_spark.cdc.mongo import parse_mongo_changestream, patch_state

    row, key = _mongo_schemas()
    lines = [
        # id 1: insert then two patches (set status, remove name)
        _cs(1, "insert", full={"id": 1, "name": "Ada", "status": 1}),
        _cs(2, "update", key={"id": 1}, upd={"status": "5"}),
        _cs(3, "update", key={"id": 1}, rem=["name"]),
        # id 2: patches BEFORE the anchor are overridden by the replace
        _cs(4, "update", key={"id": 2}, upd={"name": "stale"}),
        _cs(5, "replace", full={"id": 2, "name": "Hopper", "status": 2}),
        # id 3: delete then a patch -> document recreated from the patch
        _cs(6, "insert", full={"id": 3, "name": "Alan", "status": 1}),
        _cs(7, "delete", key={"id": 3}),
        _cs(8, "update", key={"id": 3}, upd={"name": "Turing"}),
        # id 4: deleted, no later patch -> absent
        _cs(9, "insert", full={"id": 4, "name": "Gone", "status": 1}),
        _cs(10, "delete", key={"id": 4}),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    parsed = parse_mongo_changestream(raw, row, key)
    state = patch_state(parsed, row, keys=["id"])
    rows = {r["id"]: (r["name"], r["status"]) for r in state.collect()}
    assert rows == {
        1: (None, 5),        # status patched to 5, name removed
        2: ("Hopper", 2),    # pre-anchor patch suppressed
        3: ("Turing", None),  # recreated by patch-upsert; status never set
    }


def test_mongo_overlong_resume_token_fails_loudly(spark):
    """A resume token longer than _LSN_PAD must raise, not be silently
    truncated (Spark lpad truncates, which would collide every token
    sharing the prefix and corrupt max_by ordering). Real tokens run
    60-180 hex chars; _LSN_PAD must stay comfortably above that."""
    import pytest

    from pgcdc_spark.cdc.mongo import _LSN_PAD, parse_mongo_changestream

    assert _LSN_PAD >= 256  # headroom over real-world token lengths
    row, key = _mongo_schemas()
    doc = {
        "_id": {"_data": "a" * (_LSN_PAD + 1)},
        "operationType": "insert",
        "clusterTime": {"t": 1, "i": 0},
        "fullDocument": {"id": 1, "name": "x", "status": 1},
        "documentKey": {"id": 1},
        "ns": {"db": "app", "coll": "things"},
    }
    raw = spark.createDataFrame([(json.dumps(doc),)], ["value"])
    with pytest.raises(Exception, match="resume token exceeds"):
        parse_mongo_changestream(raw, row, key).collect()
    # a token exactly at the pad width is fine
    doc["_id"]["_data"] = "a" * _LSN_PAD
    raw = spark.createDataFrame([(json.dumps(doc),)], ["value"])
    assert parse_mongo_changestream(raw, row, key).count() == 1


def test_mongo_mixed_lsn_encodings_order_deterministically(spark):
    """Token and clusterTime lsn encodings are not mutually comparable;
    a mixed feed must order DETERMINISTICALLY (every clusterTime-derived
    lsn before every token-derived one, via the c/t rank prefix) and be
    observable via the lsn_encoding column — never interleave on the
    accident of zero-padded lengths."""
    from pgcdc_spark.cdc.mongo import parse_mongo_changestream
    from pgcdc_spark.cdc.upsert import latest_state

    row, key = _mongo_schemas()
    lines = [
        # token event with a numerically SMALL token...
        _cs(1, "insert", full={"id": 1, "name": "token-armed", "status": 1}),
        # ...vs a token-less event with a huge clusterTime.t: without the
        # rank prefix the clusterTime lsn would win on zero-padded compare
        _cs(999999, "update",
            full={"id": 1, "name": "clocked", "status": 2}, token=False),
    ]
    raw = spark.createDataFrame([(line,) for line in lines], ["value"])
    parsed = parse_mongo_changestream(raw, row, key)
    encs = {r["lsn_encoding"] for r in parsed.collect()}
    assert encs == {"token", "clustertime"}
    lsns = {r["lsn_encoding"]: r["lsn"] for r in parsed.collect()}
    assert lsns["clustertime"] < lsns["token"]  # documented rank: c < t
    changes = apply_pipeline(parsed)
    state = latest_state(changes, keys=["id"], order_by=["lsn"], op_col="op")
    assert [r["name"] for r in state.collect()] == ["token-armed"]


def test_mongo_control_ops_dropped_by_filter_control_messages(spark):
    """CONTROL_OPERATIONS is load-bearing: filter_control_messages drops
    Mongo control events explicitly (not incidentally via extract_images'
    null-image fallthrough)."""
    from pgcdc_spark.cdc.mongo import CONTROL_OPERATIONS, parse_mongo_changestream
    from pgcdc_spark.cdc.transform import filter_control_messages

    row, key = _mongo_schemas()
    raw = spark.createDataFrame(
        [(line,) for line in mongo_fixture_lines()[:-1]], ["value"]
    )
    parsed = parse_mongo_changestream(raw, row, key)
    before = {r["tag"] for r in parsed.collect()}
    assert {"drop", "invalidate"} <= before
    after = {r["tag"] for r in filter_control_messages(parsed).collect()}
    assert after.isdisjoint(CONTROL_OPERATIONS)
    assert {"insert", "update", "delete"} <= after


def test_scd2_intervals_and_type1_consistency(spark, sf_smoke):
    """SCD2 invariants: per key, version intervals are disjoint and
    chain (each valid_to equals some later change's valid_from or null);
    exactly the keys with a live Type-1 state have a current version, and
    the current version's image equals the Type-1 upsert image."""
    from collections import defaultdict

    from pgcdc_spark.queries import all_queries

    hist = all_queries()["cdc_scd2_history"].fn(spark, sf_smoke).collect()
    state = {
        r["user_id"]: (r["last_event_id"], r["last_value"])
        for r in all_queries()["cdc_upsert_state"].fn(spark, sf_smoke).collect()
    }
    by_key = defaultdict(list)
    for r in hist:
        by_key[r["user_id"]].append(r)
    current = {}
    for uid, rows in by_key.items():
        rows.sort(key=lambda r: (r["valid_from_us"], r["version_event_id"]))
        for a, b in zip(rows, rows[1:]):
            assert a["valid_from_us"] <= a["valid_to_us"], "inverted interval"
            # next version starts at or after this one's end (a delete can
            # leave a hole between them, but never an overlap)
            assert b["valid_from_us"] >= a["valid_to_us"]
        currents = [r for r in rows if r["is_current"]]
        assert len(currents) <= 1, f"user {uid}: multiple current versions"
        if currents:
            assert currents[0]["valid_to_us"] is None
            current[uid] = (currents[0]["version_event_id"], currents[0]["value"])
    # Type-2 current == Type-1 state, key for key
    assert current == state


# --- pgoutput binary layout: HAND-WRITTEN golden bytes ------------------------
# The driver query round-trips through cdc/pgoutput.py's own encoder, so
# these literals pin the documented wire layout (PostgreSQL "Logical
# Replication Message Formats", protocol v1) INDEPENDENTLY: if encoder
# and decoder ever drift together, the literals catch it.

_REL_GOLDEN = (
    b"R" + b"\x00\x00\x00\x01"          # relid 1
    + b"public\x00" + b"t\x00"          # namespace, relname (C-strings)
    + b"d"                              # replident default
    + b"\x00\x02"                       # 2 columns
    + b"\x01" + b"id\x00" + b"\x00\x00\x00\x19" + b"\xff\xff\xff\xff"
    + b"\x01" + b"v\x00" + b"\x00\x00\x00\x19" + b"\xff\xff\xff\xff"
)
_INS_GOLDEN = (
    b"I" + b"\x00\x00\x00\x01" + b"N"
    + b"\x00\x02"                       # 2 columns
    + b"t" + b"\x00\x00\x00\x01" + b"7"  # text '7'
    + b"n"                              # NULL second column
)
_DEL_GOLDEN = (
    b"D" + b"\x00\x00\x00\x01" + b"O"
    + b"\x00\x02"
    + b"t" + b"\x00\x00\x00\x01" + b"7"
    + b"t" + b"\x00\x00\x00\x03" + b"1.5"
)


def test_pgoutput_golden_bytes_encode_and_decode():
    from pgcdc_spark.cdc.pgoutput import (
        decode_relation_message,
        encode_delete,
        encode_insert,
        encode_relation,
    )

    assert encode_relation(1, "public", "t", ["id", "v"]) == _REL_GOLDEN
    assert encode_insert(1, ["7", None]) == _INS_GOLDEN
    assert encode_delete(1, ["7", "1.5"]) == _DEL_GOLDEN
    assert decode_relation_message(_REL_GOLDEN) == (1, ["id", "v"])


def test_pgoutput_decode_golden_rows(spark):
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType)

    from pgcdc_spark.cdc.pgoutput import decode_pgoutput

    schema = StructType([StructField("id", LongType()),
                         StructField("v", DoubleType())])
    df = spark.createDataFrame(
        [(0, bytearray(_REL_GOLDEN)), (1, bytearray(_INS_GOLDEN)),
         (2, bytearray(_DEL_GOLDEN)), (3, bytearray(b"\x00trunc"))],
        "lsn long, payload binary",
    )
    rows = {r["lsn"]: r for r in decode_pgoutput(df, schema).collect()}
    assert rows["0/0000000000000000"]["tag"] == "relation"
    ins = rows["0/0000000000000001"]
    assert ins["tag"] == "insert" and ins["new"]["id"] == 7
    assert ins["new"]["v"] is None                 # wire NULL -> NULL
    dl = rows["0/0000000000000002"]
    assert dl["tag"] == "delete" and dl["old"]["v"] == 1.5
    assert rows["0/0000000000000003"]["tag"] == "_corrupt"  # dead-letter


def test_pgoutput_unknown_relation_and_bad_value_checked(spark):
    """A row for an undiscovered relid decodes to a NULL image (dropped
    by the standard pipeline's image filter, like the reference's
    unparseable rows — but loudly classifiable); a non-numeric text in a
    numeric column becomes NULL, never a crash or a corrupt row."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.pgoutput import decode_pgoutput, encode_insert

    schema = StructType([StructField("id", LongType())])
    df = spark.createDataFrame(
        [(1, bytearray(encode_insert(99, ["7"]))),       # unknown relid
         (2, bytearray(encode_insert(1, ["xyz"])))],     # bad numeric
        "lsn long, payload binary",
    )
    rows = {r["lsn"]: r for r in
            decode_pgoutput(df, schema, relations={1: ["id"]}).collect()}
    assert rows["0/0000000000000001"]["new"] is None
    assert rows["0/0000000000000002"]["new"]["id"] is None


def test_wal2json_edges_checked(spark):
    """wal2json adapter edges pinned outside the oracle fixture: unknown
    kinds (truncate/message) become control rows the pipeline drops,
    intra-transaction ordinal folds into a sortable lsn, a malformed
    numeric becomes a NULL field (try_cast), and delete old-keys carry
    key-only images."""
    import json

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType)

    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.wal2json import parse_wal2json

    docs = [
        json.dumps({"lsn": "7", "change": [
            {"kind": "insert", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["1", "1.5"]},
            {"kind": "truncate", "schema": "s", "table": "t"},
            {"kind": "update", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["1", "oops"]},
            {"kind": "delete", "schema": "s", "table": "t",
             "oldkeys": {"keynames": ["id"], "keyvalues": ["2"]}},
        ]}),
    ]
    schema = StructType([StructField("id", LongType()),
                         StructField("v", DoubleType())])
    raw = spark.createDataFrame([(d,) for d in docs], "value string")
    parsed = parse_wal2json(raw, schema)
    tags = [r["tag"] for r in parsed.orderBy("lsn").collect()]
    assert tags == ["insert", "_control", "update", "delete"]

    rows = apply_pipeline(parsed).orderBy("lsn").collect()
    assert [r["op"] for r in rows] == ["I", "U", "D"]  # control dropped
    assert rows[0]["v"] == 1.5
    assert rows[1]["v"] is None          # try_cast: bad text -> NULL field
    assert rows[2]["id"] == 2 and rows[2]["v"] is None  # key-only delete
    lsns = [r["lsn"] for r in rows]
    assert lsns == sorted(lsns)          # ordinal-folded lsn sorts


def test_wal2json_v2_edges_checked(spark):
    """format_version=2 edges pinned outside the oracle fixture: typed
    JSON values (numbers unquoted) land via the string-swallowing parse
    + try_cast; B/C/T/M actions become the shared control tags; a
    malformed value becomes a NULL field, never an abort; identity rides
    deletes AND key-changing updates (old key surfaced for
    split_key_updates); hex lsn halves sort in WAL order across digit-
    count changes and lowercase renderings; omitted columns surface via
    track_unchanged while JSON null stays a genuine SQL NULL; bytea hex
    text '\\x...' unhexes, and bad hex reads NULL."""
    from pyspark.sql.types import (
        BinaryType, DoubleType, LongType, StringType, StructField,
        StructType)

    from pgcdc_spark.cdc.transform import apply_pipeline, split_key_updates
    from pgcdc_spark.cdc.wal2json import parse_wal2json_v2

    lines = [
        '{"action":"B","lsn":"0/9"}',
        '{"action":"I","schema":"s","table":"t","lsn":"0/a","columns":['
        '{"name":"id","type":"bigint","value":1},'
        '{"name":"v","type":"double precision","value":1.5},'
        '{"name":"s","type":"text","value":"x"},'
        '{"name":"b","type":"bytea","value":"\\\\x0aff"}]}',
        # digit-count rollover: 0x10 > 0xF must hold after padding
        '{"action":"U","schema":"s","table":"t","lsn":"0/F","columns":['
        '{"name":"id","type":"bigint","value":1},'
        '{"name":"v","type":"double precision","value":"oops"},'
        '{"name":"s","type":"text","value":null},'
        '{"name":"b","type":"bytea","value":"\\\\xzz"}]}',
        # key-changing update: identity carries the OLD key
        '{"action":"U","schema":"s","table":"t","lsn":"0/10","columns":['
        '{"name":"id","type":"bigint","value":2},'
        '{"name":"v","type":"double precision","value":3.25},'
        '{"name":"b","type":"bytea","value":"\\\\x"}],'
        '"identity":[{"name":"id","type":"bigint","value":1}]}',
        '{"action":"D","schema":"s","table":"t","lsn":"0/11",'
        '"identity":[{"name":"id","type":"bigint","value":2}]}',
        '{"action":"T","schema":"s","table":"t","lsn":"0/12"}',
        '{"action":"M","lsn":"0/13"}',
        '{"action":"C","lsn":"0/14"}',
    ]
    schema = StructType([StructField("id", LongType()),
                         StructField("v", DoubleType()),
                         StructField("s", StringType()),
                         StructField("b", BinaryType())])
    raw = spark.createDataFrame([(x,) for x in lines], "value string")
    env = parse_wal2json_v2(raw, schema, track_unchanged=True)
    by_lsn = {r["lsn"]: r for r in env.collect()}
    tags = [r["tag"] for r in env.orderBy("lsn").collect()]
    assert tags == ["begin", "insert", "update", "update", "delete",
                    "truncate", "message", "commit"]
    lsns = sorted(by_lsn)
    # padded halves: 0/A < 0/F < 0/10 (raw strings would sort 10 first)
    assert [x[-2:] for x in lsns[:5]] == ["09", "0A", "0F", "10", "11"]

    ins = by_lsn[[x for x in lsns if x.endswith("0A")][0]]
    assert (ins["new"]["id"], ins["new"]["v"], ins["new"]["s"]) == (1, 1.5, "x")
    assert bytes(ins["new"]["b"]) == b"\x0a\xff"   # bytea hex unhexed
    assert list(ins["unchanged"]) == []
    bad = by_lsn[[x for x in lsns if x.endswith("0F")][0]]
    assert bad["new"]["v"] is None       # try_cast: bad text -> NULL field
    assert bad["new"]["s"] is None       # JSON null -> SQL NULL
    assert bad["new"]["b"] is None       # bad hex -> NULL, not raw text
    assert list(bad["unchanged"]) == []  # present-but-null is NOT unchanged
    kc = by_lsn[[x for x in lsns if x.endswith("10")][0]]
    assert kc["old"]["id"] == 1 and kc["new"]["id"] == 2
    assert bytes(kc["new"]["b"]) == b""  # empty bytea
    assert list(kc["unchanged"]) == ["s"]  # 's' omitted from columns

    # the standard pipeline: controls dropped, key change retires id=1
    rows = apply_pipeline(
        split_key_updates(env.drop("unchanged"), keys=["id"]))
    got = {(r["op"], r["id"]) for r in rows.collect()}
    assert ("D", 1) in got and ("I", 2) in got and ("D", 2) in got
    assert all(op in ("I", "U", "D") for op, _ in got)


def test_wal2json_v2_source_table_scoping(spark):
    """A slot whose publication carries MORE than this table: with
    source_table set, foreign I/U/D rows are dropped (never mis-typed
    into this table's images) and a foreign-table 'T' tags
    truncate_other — INERT to drop_pre_truncate — while this table's
    own 'T' still advances the truncate watermark (r13 review: the
    unscoped default voided THIS table's rows on a foreign truncate
    when composed with drop_pre_truncate)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.transform import (
        DEFAULT_PIPELINE, apply_pipeline, drop_pre_truncate)
    from pgcdc_spark.cdc.wal2json import parse_wal2json_v2

    pipe = (drop_pre_truncate,) + DEFAULT_PIPELINE

    lines = [
        '{"action":"I","schema":"s","table":"t","lsn":"0/1","columns":['
        '{"name":"id","type":"bigint","value":1},'
        '{"name":"v","type":"bigint","value":10}]}',
        # foreign table's row: same column names, must NOT enter t's state
        '{"action":"I","schema":"s","table":"zz","lsn":"0/2","columns":['
        '{"name":"id","type":"bigint","value":9},'
        '{"name":"v","type":"bigint","value":90}]}',
        # foreign truncate AFTER t's insert: must not void t's rows
        '{"action":"T","schema":"s","table":"zz","lsn":"0/3"}',
        '{"action":"I","schema":"s","table":"t","lsn":"0/4","columns":['
        '{"name":"id","type":"bigint","value":2},'
        '{"name":"v","type":"bigint","value":20}]}',
        # t's OWN truncate: voids id=1 and id=2, then one survivor
        '{"action":"T","schema":"s","table":"t","lsn":"0/5"}',
        '{"action":"I","schema":"s","table":"t","lsn":"0/6","columns":['
        '{"name":"id","type":"bigint","value":3},'
        '{"name":"v","type":"bigint","value":30}]}',
        # corrupt line: NULL action — must SURVIVE the scoped filter as
        # a _control row (three-valued logic would silently drop it)
        'not json at all',
    ]
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    raw = spark.createDataFrame([(x,) for x in lines], "value string")
    env = parse_wal2json_v2(raw, schema, source_table=("s", "t"))
    tags = [r["tag"] for r in env.orderBy("lsn").collect()]
    assert tags == ["_control", "insert", "truncate_other", "insert",
                    "truncate",
                    "insert"]  # foreign insert dropped, foreign T inert,
    #                            corrupt line surfaced as _control (its
    #                            NULL lsn sorts first: ASC NULLS FIRST)

    rows = apply_pipeline(env, pipe)
    ids = sorted(r["id"] for r in rows.collect())
    assert ids == [3]  # only the post-truncate survivor

    # unscoped default on a SINGLE-TABLE stream: own-table T still works
    solo = spark.createDataFrame(
        [(x,) for x in lines if '"table":"t"' in x], "value string")
    env2 = parse_wal2json_v2(solo, schema)
    rows2 = apply_pipeline(env2, pipe)
    assert sorted(r["id"] for r in rows2.collect()) == [3]


def test_wal2json_v1_source_table_scoping(spark):
    """v1 twin of the scoping contract: with source_table set, foreign
    insert/update/delete changes are dropped instead of mis-typed into
    this table's images; unknown/corrupt kinds keep passing through as
    _control (NULL-kind tested explicitly against three-valued logic).
    v1 truncates stay _control either way — the v1 layout never feeds
    drop_pre_truncate."""
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pgcdc_spark.cdc.wal2json import parse_wal2json

    docs = [
        _json.dumps({"lsn": "0/1", "change": [
            {"kind": "insert", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["1", "10"]},
            # foreign table, SAME column names: must not enter t's state
            {"kind": "insert", "schema": "s", "table": "zz",
             "columnnames": ["id", "v"], "columnvalues": ["9", "90"]},
            {"kind": "truncate", "schema": "s", "table": "zz"},
            {"kind": "whoknows"},  # unknown kind -> _control, kept
        ]}),
    ]
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    raw = spark.createDataFrame([(d,) for d in docs], "value string")
    env = parse_wal2json(raw, schema, source_table=("s", "t"))
    tags = [r["tag"] for r in env.orderBy("lsn").collect()]
    assert tags == ["insert", "_control", "_control"]  # foreign row gone
    got = sorted(
        (r["id"], r["v"])
        for r in latest_state(apply_pipeline(env), keys=["id"],
                              order_by=["lsn"]).collect())
    assert got == [(1, 10)]  # id=9 never mis-typed into t's state


# --- unchanged-TOAST ('u' datum) + carry-forward ------------------------------

_UPD_TOAST_GOLDEN = (
    b"U" + b"\x00\x00\x00\x01" + b"N"
    + b"\x00\x02"                        # 2 columns
    + b"t" + b"\x00\x00\x00\x01" + b"7"  # id text '7'
    + b"u"                               # v: unchanged TOAST (not re-sent)
)


def test_pgoutput_unchanged_toast_golden_bytes(spark):
    """The 'u' TupleData kind is a one-byte datum meaning "value not
    re-sent, keep the stored one" — hand-written literal pins it, and
    track_unchanged surfaces the column name while the default frame
    keeps the historical NULL-image behavior."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType)

    from pgcdc_spark.cdc.pgoutput import (
        UNCHANGED_TOAST, decode_pgoutput, encode_update)

    assert encode_update(1, ["7", UNCHANGED_TOAST]) == _UPD_TOAST_GOLDEN

    schema = StructType([StructField("id", LongType()),
                         StructField("v", DoubleType())])
    df = spark.createDataFrame(
        [(0, bytearray(_REL_GOLDEN)), (1, bytearray(_UPD_TOAST_GOLDEN))],
        "lsn long, payload binary",
    )
    tracked = {r["lsn"]: r
               for r in decode_pgoutput(df, schema,
                                        track_unchanged=True).collect()}
    upd = tracked["0/0000000000000001"]
    assert upd["tag"] == "update" and upd["new"]["id"] == 7
    assert upd["new"]["v"] is None            # wire carries no value
    assert list(upd["unchanged"]) == ["v"]    # ...but names the column
    # default frame: same columns as before, 'u' reads as NULL
    plain = {r["lsn"]: r for r in decode_pgoutput(df, schema).collect()}
    assert "unchanged" not in plain["0/0000000000000001"].asDict()
    assert plain["0/0000000000000001"]["new"]["v"] is None


def test_unchanged_toast_sentinel_survives_pickle():
    """Spark ships closures via cloudpickle; the sentinel must keep its
    identity (or at least its type) across that boundary or every
    marker is silently missed on the workers."""
    import pickle

    from pgcdc_spark.cdc.pgoutput import UNCHANGED_TOAST, _UnchangedToast

    copy = pickle.loads(pickle.dumps(UNCHANGED_TOAST))
    assert copy is UNCHANGED_TOAST
    assert isinstance(copy, _UnchangedToast)


def test_toast_state_carry_forward(spark):
    """toast_state semantics pinned on a hand-built changelog:
    unchanged-TOAST carries the stored value forward, a genuine SQL NULL
    assignment overwrites it (the two are never conflated), a winning
    delete removes the key, and a never-carried column reads NULL."""
    from pgcdc_spark.cdc.upsert import toast_state

    rows = [
        # key 1: insert v=5, then unchanged-toast update -> carries 5
        ("1", "I", [], 1, 5.0),
        ("2", "U", ["v"], 1, None),
        # key 2: insert v=5, genuine NULL update, unchanged update
        #        -> the NULL is the stored value, carry gives NULL
        ("1", "I", [], 2, 5.0),
        ("2", "U", [], 2, None),
        ("3", "U", ["v"], 2, None),
        # key 3: delete wins -> absent
        ("1", "I", [], 3, 5.0),
        ("2", "D", None, 3, None),
        # key 4: only an unchanged update visible (replay horizon after
        #        the last real value) -> present, v NULL
        ("1", "U", ["v"], 4, None),
    ]
    changes = spark.createDataFrame(
        rows, "lsn string, op string, unchanged array<string>, k long, v double"
    )
    state = {r["k"]: r for r in toast_state(
        changes, keys=["k"], order_by=["lsn"], toast_cols=["v"]
    ).collect()}
    assert state[1]["v"] == 5.0
    assert state[2]["v"] is None
    assert 3 not in state
    assert state[4]["v"] is None
    assert set(state) == {1, 2, 4}


def test_pgoutput_typed_decode_breadth(spark):
    """Postgres text renderings for the remaining common wire types —
    bool 't'/'f', timestamp, numeric, bytea hex — decode to the schema's
    types, and malformed text degrades to NULL (checked cast), never a
    crashed batch."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import (
        BinaryType, BooleanType, DecimalType, LongType, StructField,
        StructType, TimestampType)

    from pgcdc_spark.cdc.pgoutput import decode_pgoutput, encode_insert

    schema = StructType([
        StructField("id", LongType()),
        StructField("ok", BooleanType()),
        StructField("at", TimestampType()),
        StructField("amt", DecimalType(12, 2)),
        StructField("blob", BinaryType()),
    ])
    rels = {1: ["id", "ok", "at", "amt", "blob"]}
    good = encode_insert(
        1, ["7", "t", "2024-03-01 10:23:54.500000", "12.34", "\\x0aff"])
    bad = encode_insert(1, ["8", "maybe", "not-a-time", "NaN-ish", "\\xzz"])
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad))],
        "lsn long, payload binary",
    )
    rows = {r["lsn"]: r["new"]
            for r in decode_pgoutput(df, schema, relations=rels).collect()}
    g = rows["0/0000000000000001"]
    assert g["id"] == 7 and g["ok"] is True
    assert g["at"] == datetime.datetime(2024, 3, 1, 10, 23, 54, 500000)
    assert g["amt"] == Decimal("12.34")
    assert bytes(g["blob"]) == b"\x0a\xff"
    b = rows["0/0000000000000002"]
    assert b["id"] == 8
    assert b["ok"] is None and b["at"] is None and b["amt"] is None
    assert b["blob"] is None


# --- pgoutput protocol v2: streamed in-progress transactions ------------------

def test_pgoutput_v2_golden_bytes():
    """Hand-written literals pin the v2 control layouts and the xid
    prefix streamed row messages carry."""
    from pgcdc_spark.cdc.pgoutput import (
        encode_insert, encode_stream_abort, encode_stream_commit,
        encode_stream_start, encode_stream_stop, stream_wrap)

    assert encode_stream_start(7) == b"S" + b"\x00\x00\x00\x07" + b"\x01"
    assert encode_stream_stop() == b"E"
    assert encode_stream_commit(7, 60, 61, 5) == (
        b"c" + b"\x00\x00\x00\x07" + b"\x00"
        + b"\x00\x00\x00\x00\x00\x00\x00\x3c"
        + b"\x00\x00\x00\x00\x00\x00\x00\x3d"
        + b"\x00\x00\x00\x00\x00\x00\x00\x05"
    )
    assert encode_stream_abort(8, 8) == (
        b"A" + b"\x00\x00\x00\x08" + b"\x00\x00\x00\x08")
    ins = encode_insert(1, ["2"])
    assert stream_wrap(7, ins) == ins[:1] + b"\x00\x00\x00\x07" + ins[1:]


def test_pgoutput_v2_commit_order_abort_and_inflight(spark):
    """The consumer contract for streamed transactions, end-to-end:
    committed segments apply at their COMMIT lsn (here after a later
    non-streamed update, which the committed value must beat), aborted
    segments vanish, a still-open segment (no verdict in the capture
    window) is held back, and non-streamed traffic passes through at
    its own lsn."""
    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2, encode_insert,
        encode_relation, encode_stream_abort, encode_stream_commit,
        encode_stream_start, encode_stream_stop, encode_update,
        stream_verdicts, stream_wrap)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_insert(1, [1, 1])),                       # plain
        (20, encode_stream_start(7)),                         # xid 7 opens
        (21, stream_wrap(7, encode_insert(1, [2, 2]))),
        (22, stream_wrap(7, encode_update(1, [1, 100]))),
        (23, encode_stream_stop()),
        (30, encode_stream_start(8)),                         # xid 8 opens
        (31, stream_wrap(8, encode_update(1, [1, 200]))),
        (32, encode_stream_stop()),
        (40, encode_update(1, [1, 50])),                      # plain, later
        (50, encode_stream_abort(8, 8)),                      # 8 discarded
        (61, encode_stream_commit(7, 60, 61, 5)),             # 7 applies AT 60
        (70, encode_stream_start(9)),                         # in-flight
        (71, stream_wrap(9, encode_insert(1, [3, 3]))),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_v2(df, schema, bin_width=16)
    env = apply_stream_transactions(decoded, stream_verdicts(df))
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    got = sorted((r["id"], r["v"]) for r in state.collect())
    # id=1: plain lsn-40 write of 50 is OUTRANKED by xid 7's 100, which
    # applies at commit lsn 60; xid 8's 200 aborted; id=3 in-flight.
    assert got == [(1, 100), (2, 2)]


# --- TRUNCATE ('T') + decoder fuzz ---------------------------------------------

def test_pgoutput_truncate_wipes_then_rebuilds(spark):
    """TRUNCATE semantics through the standard pipeline: every change at
    or before the last truncate naming THIS table is void; truncates of
    other tables are inert; post-truncate inserts rebuild the state."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, encode_insert, encode_relation, encode_truncate)
    from pgcdc_spark.cdc.transform import (
        DEFAULT_PIPELINE, apply_pipeline, drop_pre_truncate)
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (1, encode_insert(1, [1, 10])),
        (2, encode_insert(1, [2, 20])),
        (3, encode_truncate([99])),        # OTHER table: inert
        (4, encode_insert(1, [3, 30])),
        (5, encode_truncate([99, 1])),     # names this table: wipes 1,2,3
        (6, encode_insert(1, [4, 40])),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    env = decode_pgoutput(df, schema)
    changes = apply_pipeline(env, (drop_pre_truncate,) + DEFAULT_PIPELINE)
    state = latest_state(changes, keys=["id"], order_by=["lsn"])
    assert sorted((r["id"], r["v"]) for r in state.collect()) == [(4, 40)]


def test_pgoutput_parse_never_raises_fuzz():
    """The parse core must dead-letter ANY byte garbage — truncations,
    flipped kind bytes, absurd length fields — never raise. Fuzzes raw
    random buffers plus mutations of every valid message shape."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pgcdc_spark.cdc.pgoutput import (
        UNCHANGED_TOAST, _parse_change, encode_begin, encode_commit,
        encode_delete, encode_insert, encode_relation, encode_truncate,
        encode_update)

    def image(relid, vals):
        return ({"id": None}, [])

    valid = [
        encode_relation(1, "s", "t", ["id"]),
        encode_insert(1, ["7", None, UNCHANGED_TOAST]),
        encode_update(1, ["7"], old_values=["6"], old_kind=b"K"),
        encode_delete(1, ["7"]),
        encode_begin(1, 2, 3),
        encode_commit(1, 2, 3),
        encode_truncate([1, 2], options=2),
    ]

    @given(
        base=st.sampled_from(list(range(len(valid))) + [-1]),
        raw=st.binary(max_size=40),
        cut=st.integers(min_value=0, max_value=60),
        flip=st.integers(min_value=0, max_value=59),
    )
    @settings(max_examples=300, deadline=None)
    def run(base, raw, cut, flip):
        buf = raw if base < 0 else valid[base]
        buf = buf[:cut] if cut < len(buf) else buf + raw
        if buf and flip < len(buf):
            buf = buf[:flip] + bytes([buf[flip] ^ 0x5A]) + buf[flip + 1:]
        tag, new, old, _ = _parse_change(bytes(buf), image)
        assert isinstance(tag, str)

    run()


def test_bronze_generic_decode_and_jvm_route(spark):
    """Bronze/silver split pinned: routing types with checked casts
    ('oops' -> NULL), surfaces 'u' kinds as unchanged names, keeps
    unknown-relid rows in bronze, and reads schema columns absent from
    the wire as NULL (additive evolution). The one-Python-pass plan
    shape is pinned for every decoder below."""
    from pgcdc_spark.cdc.pgoutput import (
        UNCHANGED_TOAST, decode_pgoutput_generic, encode_insert,
        encode_update, route_table)
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType)

    rels = {1: ["id", "v"]}
    msgs = spark.createDataFrame(
        [
            (1, bytearray(encode_insert(1, [7, "1.5"]))),
            (2, bytearray(encode_update(1, [7, UNCHANGED_TOAST]))),
            (3, bytearray(encode_insert(1, [8, "oops"]))),   # bad double
            (4, bytearray(encode_insert(99, [1, "x"]))),     # unknown relid
        ],
        "lsn long, payload binary",
    )
    bronze = decode_pgoutput_generic(msgs, rels)
    rows = {r["lsn"]: r for r in bronze.collect()}
    assert rows[4]["relid"] == 99    # retained
    assert rows[4]["vals"] is None   # but unregistered
    assert rows[2]["kinds"] == "tu"

    schema = StructType([
        StructField("id", LongType()),
        StructField("v", DoubleType()),
        StructField("added_later", StringType()),   # not on the wire
    ])
    routed = route_table(bronze, 1, rels[1], schema, track_unchanged=True)
    out = {r["lsn"]: r for r in routed.collect()}
    assert out["0/0000000000000001"]["new"]["v"] == 1.5
    assert out["0/0000000000000001"]["new"]["added_later"] is None
    assert list(out["0/0000000000000002"]["unchanged"]) == ["v"]
    assert out["0/0000000000000002"]["new"]["v"] is None
    assert out["0/0000000000000003"]["new"]["v"] is None  # checked cast
    assert out["0/0000000000000003"]["new"]["id"] == 8
    assert "0/0000000000000004" not in out               # other relid



@pytest.mark.parametrize("decoder", ["decode_pgoutput", "decode_pgoutput_v2",
                                     "decode_pgoutput_2pc", "route_table"])
def test_pgoutput_decoders_run_one_python_pass(spark, decoder):
    """Every pgoutput row decoder is the one bronze byte pass plus JVM
    typing: exactly one MapInPandas in its executed plan, whatever the
    protocol layer composed around it."""
    from pgcdc_spark.cdc import pgoutput as P
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = spark.createDataFrame(
        [(lsn, bytearray(b)) for lsn, b in [
            (0, P.encode_relation(1, "public", "t", ["id", "v"])),
            (10, P.encode_insert(1, [1, 11])),
            (20, P.encode_stream_start(5)),
            (30, P.stream_wrap(5, P.encode_update(1, [1, 12]))),
            (40, P.encode_stream_stop()),
            (50, P.encode_stream_commit(5, 55, 56, 0)),
            (60, P.encode_begin_prepare(61, 62, 0, 9, "g")),
            (70, P.encode_insert(1, [2, 21])),
            (80, P.encode_prepare(81, 82, 0, 9, "g")),
            (90, P.encode_commit_prepared(91, 92, 0, 9, "g")),
        ]],
        "lsn long, payload binary",
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    if decoder == "route_table":
        out = P.route_table(P.decode_pgoutput_generic(msgs), 1, ["id", "v"],
                            schema)
    else:
        out = getattr(P, decoder)(msgs, schema)
    assert out.collect()
    # after the run AQE prints the final plan, then the initial one
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, plan

def test_pgoutput_v2_streamed_toast_carry(spark):
    """The v2 x TOAST interaction: a COMMITTED streamed transaction whose
    update marks a column unchanged must carry the stored value forward,
    not NULL it — the two features have to compose, not just pass their
    own tests."""
    from pgcdc_spark.cdc.pgoutput import (
        UNCHANGED_TOAST, apply_stream_transactions, decode_pgoutput_v2,
        encode_insert, encode_relation, encode_stream_commit,
        encode_stream_start, encode_stream_stop, encode_update,
        stream_verdicts, stream_wrap)
    from pgcdc_spark.cdc.transform import extract_images, filter_control_messages
    from pgcdc_spark.cdc.upsert import toast_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_insert(1, [1, 11])),                     # plain: v=11
        (20, encode_stream_start(7)),
        (21, stream_wrap(7, encode_update(1, [1, UNCHANGED_TOAST]))),
        (22, encode_stream_stop()),
        (30, encode_stream_commit(7, 29, 30, 0)),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_v2(df, schema, bin_width=16,
                                 track_unchanged=True)
    env = apply_stream_transactions(decoded, stream_verdicts(df))
    changes = (
        env.transform(filter_control_messages)
        .transform(extract_images)
        .select("lsn", "op", "unchanged", "image.*")
    )
    state = toast_state(changes, ["id"], ["lsn"], ["v"])
    rows = state.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == 1 and rows[0]["v"] == 11   # carried, not NULLed


def test_wal2json_unchanged_toast_carry(spark):
    """wal2json's TOAST rendering (column OMITTED from the arrays, vs a
    present-but-null genuine NULL) must carry forward through
    toast_state, mirroring the pgoutput 'u' path."""
    import json

    from pgcdc_spark.cdc.transform import extract_images, filter_control_messages
    from pgcdc_spark.cdc.upsert import toast_state
    from pgcdc_spark.cdc.wal2json import parse_wal2json
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    docs = [
        json.dumps({"lsn": "1", "change": [
            {"kind": "insert", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["1", "1.5"]},
            {"kind": "insert", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["2", "2.5"]},
        ]}),
        json.dumps({"lsn": "2", "change": [
            # unchanged TOAST: v OMITTED from the arrays
            {"kind": "update", "schema": "s", "table": "t",
             "columnnames": ["id"], "columnvalues": ["1"]},
            # genuine SQL NULL: v present with null value
            {"kind": "update", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["2", None]},
        ]}),
    ]
    raw = spark.createDataFrame([(d,) for d in docs], "value string")
    schema = StructType([StructField("id", LongType()),
                         StructField("v", DoubleType())])
    env = parse_wal2json(raw, schema, track_unchanged=True)
    changes = (
        env.transform(filter_control_messages)
        .transform(extract_images)
        .select("lsn", "op", "unchanged", "image.*")
    )
    state = {r["id"]: r["v"] for r in
             toast_state(changes, ["id"], ["lsn"], ["v"]).collect()}
    assert state[1] == 1.5      # omitted column -> carried
    assert state[2] is None     # present-null -> really NULL


# --- round-9 hardening: hex LSNs, streamed 'R' discovery, sub-txn abort -------

def test_wal2json_hex_lsn_wal_order(spark):
    """Real wal2json emits PostgreSQL 'X/Y' HEX pg_lsn strings. When the
    hex digit count changes (0/9 -> 0/10, 0/FF -> 0/100) a raw
    lexicographic compare inverts WAL order; the adapter must zero-pad
    each half separately so string order == numeric order and LWW
    resolves to the LATER transaction."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pgcdc_spark.cdc.wal2json import parse_wal2json

    def doc(lsn, v):
        return json.dumps({"lsn": lsn, "change": [
            {"kind": "update", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["1", str(v)]}]})

    # wire order: 0/9 (older) then 0/10 (=0x10, newer), lowercase 0/ff
    # then 0/100 — both flips break a raw-lexicographic lsn
    docs = [doc("0/9", 9), doc("0/10", 16), doc("0/ff", 255), doc("0/100", 256)]
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    raw = spark.createDataFrame([(d,) for d in docs], "value string")
    env = parse_wal2json(raw, schema)
    lsns = {r["v"]: r["lsn"] for r in apply_pipeline(env).collect()}
    assert lsns[9] < lsns[16] < lsns[255] < lsns[256]
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    assert state.collect()[0]["v"] == 256  # the true latest transaction


def test_pgoutput_v2_streamed_relation_discovery(spark):
    """A table whose ONLY Relation message arrives inside a streamed
    segment (xid-prefixed 'R'): auto-discovery must strip the xid before
    decoding, or the relations map is poisoned (xid bytes read as relid)
    and every row of that table decodes with null images."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2, encode_insert,
        encode_relation, encode_stream_commit, encode_stream_start,
        encode_stream_stop, stream_verdicts, stream_wrap)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state

    msgs = [
        (10, encode_stream_start(7)),
        (11, stream_wrap(7, encode_relation(1, "public", "t", ["id", "v"]))),
        (12, stream_wrap(7, encode_insert(1, [1, 42]))),
        (13, encode_stream_stop()),
        (20, encode_stream_commit(7, 19, 20, 0)),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_v2(df, schema, bin_width=16)
    env = apply_stream_transactions(decoded, stream_verdicts(df))
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    rows = state.collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, 42)]


def test_pgoutput_v2_subtransaction_abort(spark):
    """StreamAbort(xid, sub_xid) with sub_xid != xid aborts ONE
    subtransaction: its changes (wrapped with the sub_xid) are dropped,
    the rest of the transaction still applies at StreamCommit. A
    verdict join by top-level xid alone would wrongly apply them."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2, encode_insert,
        encode_relation, encode_stream_abort, encode_stream_commit,
        encode_stream_start, encode_stream_stop, stream_verdicts,
        stream_wrap)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_stream_start(7)),
        (11, stream_wrap(7, encode_insert(1, [1, 100]))),   # top-level xid
        (12, stream_wrap(70, encode_insert(1, [2, 200]))),  # subxid 70
        (13, stream_wrap(7, encode_insert(1, [3, 300]))),   # top-level again
        (14, encode_stream_stop()),
        (20, encode_stream_abort(7, 70)),                   # ONLY subxid 70
        (30, encode_stream_commit(7, 29, 30, 0)),           # txn 7 commits
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_v2(df, schema, bin_width=16)
    env = apply_stream_transactions(decoded, stream_verdicts(df))
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    got = sorted((r["id"], r["v"]) for r in state.collect())
    # id=2 (subxid 70) aborted; 1 and 3 commit with the transaction
    assert got == [(1, 100), (3, 300)]


def test_replica_identity_key_change_routing(spark):
    """Key-changing UPDATEs under both REPLICA IDENTITY modes route as
    DELETE(old key) + INSERT(new key) through split_key_updates; a
    same-key update and an old-image-less update pass through. Without
    the split, the old key would survive as a stale ghost row."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, encode_insert, encode_relation, encode_update)
    from pgcdc_spark.cdc.transform import apply_pipeline, split_key_updates
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (1, encode_insert(1, [1, 10])),
        (2, encode_insert(1, [2, 20])),
        # RI DEFAULT: key-only old image ('K', non-key columns null)
        (3, encode_update(1, [11, 10], old_values=[1, None], old_kind=b"K")),
        # RI FULL: full old image ('O'), key 2 -> 22
        (4, encode_update(1, [22, 99], old_values=[2, 20], old_kind=b"O")),
        # same-key update with old image: passes through, no split
        (5, encode_update(1, [11, 15], old_values=[11, 10], old_kind=b"K")),
        # no old image (key unchanged by definition): passes through
        (6, encode_update(1, [22, 77])),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    env = split_key_updates(decode_pgoutput(df, schema), keys=["id"])
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    got = sorted((r["id"], r["v"]) for r in state.collect())
    # keys 1 and 2 retired by the splits; 11 then updated in place to 15,
    # 22 updated in place to 77
    assert got == [(11, 15), (22, 77)]

    # hand-written literal pins the 'K' old-image byte layout (encoder
    # and decoder cannot drift together): U relid=1, K old=(id=1,null),
    # N new=(id=11,v=10)
    literal = (
        b"U" + b"\x00\x00\x00\x01"
        + b"K" + b"\x00\x02" + b"t" + b"\x00\x00\x00\x01" + b"1" + b"n"
        + b"N" + b"\x00\x02" + b"t" + b"\x00\x00\x00\x02" + b"11"
        + b"t" + b"\x00\x00\x00\x02" + b"10"
    )
    assert literal == encode_update(1, [11, 10], old_values=[1, None],
                                    old_kind=b"K")


def test_wal2json_key_change_update_routes(spark):
    """wal2json emits oldkeys on a key-changing UPDATE too (not just
    deletes); the adapter must surface that old image so
    split_key_updates retires the old key — composing the two features
    end-to-end."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.transform import apply_pipeline, split_key_updates
    from pgcdc_spark.cdc.upsert import latest_state
    from pgcdc_spark.cdc.wal2json import parse_wal2json

    docs = [
        json.dumps({"lsn": "0/10", "change": [
            {"kind": "insert", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["1", "10"]}]}),
        json.dumps({"lsn": "0/20", "change": [
            # key 1 -> 2, oldkeys carry the pre-update key
            {"kind": "update", "schema": "s", "table": "t",
             "columnnames": ["id", "v"], "columnvalues": ["2", "20"],
             "oldkeys": {"keynames": ["id"], "keyvalues": ["1"]}}]}),
    ]
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    raw = spark.createDataFrame([(d,) for d in docs], "value string")
    env = split_key_updates(parse_wal2json(raw, schema), keys=["id"])
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    got = sorted((r["id"], r["v"]) for r in state.collect())
    assert got == [(2, 20)], "old key 1 must be retired"


# --- protocol v3: two-phase commit ---------------------------------------------

def test_pgoutput_two_phase_commit_order_rollback_inflight(spark):
    """2PC consumer contract end-to-end: a prepared block ('b'..'P')
    holds its changes until CommitPrepared — which applies them at the
    COMMIT lsn, beating a later plain write; RollbackPrepared voids the
    whole block; a still-prepared block (no verdict in the window) holds
    back; plain traffic passes through at its own lsn."""
    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_2pc, encode_begin_prepare,
        encode_commit_prepared, encode_insert, encode_prepare,
        encode_relation, encode_rollback_prepared, encode_update,
        prepared_verdicts)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_insert(1, [1, 1])),                          # plain
        (20, encode_begin_prepare(20, 23, 0, 7, "gid7")),        # xid 7
        (21, encode_insert(1, [2, 2])),
        (22, encode_update(1, [1, 100])),
        (23, encode_prepare(20, 23, 0, 7, "gid7")),
        (30, encode_begin_prepare(30, 32, 0, 8, "gid8")),        # xid 8
        (31, encode_update(1, [1, 200])),
        (32, encode_prepare(30, 32, 0, 8, "gid8")),
        (40, encode_update(1, [1, 50])),                         # plain, later
        (50, encode_rollback_prepared(32, 50, 0, 0, 8, "gid8")),  # 8 voided
        (61, encode_commit_prepared(60, 61, 0, 7, "gid7")),      # 7 AT 60
        (70, encode_begin_prepare(70, 99, 0, 9, "gid9")),        # in-flight
        (71, encode_insert(1, [3, 3])),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_2pc(df, schema, bin_width=16)
    env = apply_stream_transactions(decoded, prepared_verdicts(df))
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    got = sorted((r["id"], r["v"]) for r in state.collect())
    # id=1: plain lsn-40 write of 50 is OUTRANKED by xid 7's 100 applied
    # at commit lsn 60; xid 8's 200 rolled back; id=3 still prepared.
    assert got == [(1, 100), (2, 2)]

    # hand-written literal pins the CommitPrepared layout: K, flags 0,
    # commit_lsn 60, end_lsn 61, ts 0, xid 7, gid "g\0"
    literal = (b"K" + b"\x00"
               + (60).to_bytes(8, "big") + (61).to_bytes(8, "big")
               + (0).to_bytes(8, "big") + (7).to_bytes(4, "big")
               + b"g\x00")
    assert literal == encode_commit_prepared(60, 61, 0, 7, "g")


def test_pgoutput_streamed_two_phase(spark):
    """A STREAMED transaction can end prepared ('p' StreamPrepare instead
    of StreamCommit): its segment rows hold until CommitPrepared names
    the xid — the v2 segment machinery and the 2PC verdicts compose with
    a plain union, no new apply logic."""
    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2,
        encode_commit_prepared, encode_insert, encode_relation,
        encode_stream_prepare, encode_stream_start, encode_stream_stop,
        encode_update, prepared_verdicts, stream_verdicts, stream_wrap)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_stream_start(7)),
        (11, stream_wrap(7, encode_insert(1, [1, 11]))),
        (12, encode_stream_stop()),
        (20, encode_stream_prepare(12, 20, 0, 7, "g7")),   # prepared, not committed
        (30, encode_update(1, [1, 99])),                   # plain write, LATER
        (40, encode_commit_prepared(35, 40, 0, 7, "g7")),  # 7 applies AT 35
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_v2(df, schema, bin_width=16)
    verdicts = stream_verdicts(df).unionByName(prepared_verdicts(df))
    env = apply_stream_transactions(decoded, verdicts)
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    # commit-order semantics: the row STREAMED at wire position 11 beats
    # the plain write at 30 because its transaction COMMITS at 35 > 30 —
    # wire order is not apply order
    assert [(r["id"], r["v"]) for r in state.collect()] == [(1, 11)]


def test_origin_filter_drops_foreign_transactions(spark):
    """Origin-tagged transactions from a foreign node must not re-apply
    (the bidirectional A->B->A echo); untagged local transactions and
    whitelisted origins pass."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, encode_begin, encode_commit, encode_insert,
        encode_origin, encode_relation, filter_foreign_origins)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_begin(19, 0, 1)),                  # local txn
        (11, encode_insert(1, [1, 10])),
        (19, encode_commit(19, 20, 0)),
        (20, encode_begin(29, 0, 2)),                  # foreign txn
        (21, encode_origin(29, "nodeB")),
        (22, encode_insert(1, [2, 20])),
        (29, encode_commit(29, 30, 0)),
        (30, encode_begin(39, 0, 3)),                  # whitelisted origin
        (31, encode_origin(39, "nodeC")),
        (32, encode_insert(1, [3, 30])),
        (39, encode_commit(39, 40, 0)),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])

    kept = filter_foreign_origins(df, keep_origins=("nodeC",), bin_width=16)
    state = latest_state(
        apply_pipeline(decode_pgoutput(kept, schema,
                                       relations={1: ["id", "v"]})),
        keys=["id"], order_by=["lsn"],
    )
    got = sorted((r["id"], r["v"]) for r in state.collect())
    assert got == [(1, 10), (3, 30)], "foreign nodeB txn must vanish"

    # no whitelist: every tagged txn drops, untagged local passes
    kept2 = filter_foreign_origins(df, bin_width=16)
    state2 = latest_state(
        apply_pipeline(decode_pgoutput(kept2, schema,
                                       relations={1: ["id", "v"]})),
        keys=["id"], order_by=["lsn"],
    )
    assert [(r["id"], r["v"]) for r in state2.collect()] == [(1, 10)]


def test_logical_message_decode_golden(spark):
    """pg_logical_emit_message markers: content decode pinned by a
    hand-written byte literal; corrupt payloads dead-letter as
    '_corrupt' rows; non-'M' traffic never reaches the decoder."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_logical_messages, encode_insert, encode_logical_message)

    # M, flags 1 (transactional), lsn 7, prefix "fence", 3 bytes "abc"
    literal = (b"M" + b"\x01" + (7).to_bytes(8, "big")
               + b"fence\x00" + (3).to_bytes(4, "big") + b"abc")
    assert literal == encode_logical_message("fence", b"abc", lsn=7)

    msgs = [
        (1, literal),
        (2, encode_logical_message("audit", b"\x00\xff\x10",
                                   lsn=9, transactional=False)),
        (3, encode_insert(1, [1, 2])),     # row traffic: filtered out
        (4, b"M\x01garbage"),              # corrupt: dead-letter
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    rows = {r["lsn"]: r for r in decode_logical_messages(df).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1]["prefix"] == "fence" and bytes(rows[1]["content"]) == b"abc"
    assert rows[1]["transactional"] is True and rows[1]["msg_lsn"] == 7
    assert rows[2]["prefix"] == "audit"
    assert bytes(rows[2]["content"]) == b"\x00\xff\x10"  # binary-safe
    assert rows[2]["transactional"] is False
    assert rows[4]["prefix"] == "_corrupt"


def test_xlogdata_unwrap_golden(spark):
    """Raw COPY-stream frames (XLogData 'w' + keepalive 'k') unwrap
    JVM-side into (lsn from wal_start, clock, inner payload) and feed
    the standard decode unchanged; keepalives and truncated stubs drop.
    Layout pinned by a hand-written literal."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, encode_insert, encode_keepalive, encode_relation,
        encode_xlogdata, unwrap_xlogdata)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    inner = encode_insert(1, [1, 10])
    literal = (b"w" + (5).to_bytes(8, "big") + (5 + len(inner)).to_bytes(8, "big")
               + (99).to_bytes(8, "big") + inner)
    assert literal == encode_xlogdata(5, inner, clock=99)

    frames = [
        encode_xlogdata(1, encode_relation(1, "public", "t", ["id", "v"])),
        encode_xlogdata(5, inner, clock=99),
        encode_keepalive(6),                      # dropped
        encode_xlogdata(7, encode_insert(1, [2, 20])),
        b"w\x00",                                 # truncated stub: dropped
    ]
    df = spark.createDataFrame(
        [(bytearray(p),) for p in frames], "frame binary"
    )
    msgs = unwrap_xlogdata(df)
    rows = {r["lsn"]: r for r in msgs.collect()}
    assert set(rows) == {1, 5, 7}
    assert rows[5]["clock_us"] == 99
    assert bytes(rows[5]["payload"]) == inner

    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    state = latest_state(
        apply_pipeline(decode_pgoutput(msgs, schema)),
        keys=["id"], order_by=["lsn"],
    )
    got = sorted((r["id"], r["v"]) for r in state.collect())
    assert got == [(1, 10), (2, 20)]


def test_schema_inference_from_relation_oids(spark):
    """The 'R' message's type OIDs and key flags are enough to derive
    the Spark row schema without any hand-written StructType — the
    self-describing decode real consumers bootstrap from. Mixed OIDs
    (int8/float8/bool/text/numeric/date) infer the right Spark types,
    the key flag surfaces the REPLICA IDENTITY columns, and a decode
    driven ENTIRELY by inference round-trips typed values."""
    import datetime
    from decimal import Decimal

    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, discover_relation_schemas, encode_insert,
        encode_relation)
    from pgcdc_spark.cdc.transform import apply_pipeline

    rel = encode_relation(
        1, "public", "t",
        ["id", "score", "ok", "name", "amount", "day"],
        typoids=[20, 701, 16, 25, 1700, 1082],
        key_cols=["id"],
    )
    msgs = [
        (0, rel),
        (1, encode_insert(1, ["7", "1.5", "t", "x", "12.34", "2024-05-06"])),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schemas = discover_relation_schemas(df)
    names, inferred, key_cols = schemas[1]
    assert names == ["id", "score", "ok", "name", "amount", "day"]
    assert key_cols == ["id"]
    assert [f.dataType.simpleString() for f in inferred.fields] == [
        "bigint", "double", "boolean", "string", "decimal(38,18)", "date"]

    rows = apply_pipeline(
        decode_pgoutput(df, inferred, relations={1: names})
    ).collect()
    r = rows[0]
    assert (r["id"], r["score"], r["ok"], r["name"]) == (7, 1.5, True, "x")
    assert r["amount"] == Decimal("12.34")
    assert r["day"] == datetime.date(2024, 5, 6)


def test_debezium_key_change_routes(spark):
    """Debezium envelopes carry before-images on updates, so
    split_key_updates composes with the Debezium adapter unchanged —
    a key-changing update retires the old key."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from pgcdc_spark.cdc.debezium import parse_debezium
    from pgcdc_spark.cdc.transform import apply_pipeline, split_key_updates
    from pgcdc_spark.cdc.upsert import latest_state

    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    lines = [
        json.dumps({"payload": {"op": "c", "source": {"lsn": 1},
                    "after": {"id": 1, "v": 10}, "before": None}}),
        json.dumps({"payload": {"op": "u", "source": {"lsn": 2},
                    "after": {"id": 2, "v": 20},
                    "before": {"id": 1, "v": 10}}}),  # key 1 -> 2
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    env = split_key_updates(
        parse_debezium(raw, row_schema=schema).drop("_corrupt"), keys=["id"])
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    assert [(r["id"], r["v"]) for r in state.collect()] == [(2, 20)]


def test_mixed_streamed_and_prepared_capture(spark):
    """A capture interleaving a STREAMED transaction (v2 segments) with
    a NON-streamed PREPARED block: overlay_prepared_spans stamps the
    prepared rows so both transaction classes hold for their own
    verdicts — the streamed one commits, the prepared one rolls back."""
    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2, encode_begin_prepare,
        encode_insert, encode_prepare, encode_relation,
        encode_rollback_prepared, encode_stream_commit, encode_stream_start,
        encode_stream_stop, overlay_prepared_spans, prepared_spans,
        prepared_verdicts, stream_verdicts, stream_wrap)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_stream_start(7)),                      # streamed txn 7
        (11, stream_wrap(7, encode_insert(1, [1, 100]))),
        (12, encode_stream_stop()),
        (20, encode_begin_prepare(20, 23, 0, 8, "g8")),    # prepared txn 8
        (21, encode_insert(1, [2, 200])),
        (22, encode_prepare(20, 22, 0, 8, "g8")),
        (30, encode_stream_commit(7, 29, 30, 0)),          # 7 commits
        (40, encode_rollback_prepared(22, 40, 0, 0, 8, "g8")),  # 8 voided
        (50, encode_insert(1, [3, 300])),                  # plain traffic
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = overlay_prepared_spans(
        decode_pgoutput_v2(df, schema, bin_width=16),
        prepared_spans(df), bin_width=16,
    )
    verdicts = stream_verdicts(df).unionByName(prepared_verdicts(df))
    env = apply_stream_transactions(decoded, verdicts)
    state = latest_state(apply_pipeline(env), keys=["id"], order_by=["lsn"])
    got = sorted((r["id"], r["v"]) for r in state.collect())
    # streamed 7 applied, prepared 8 rolled back, plain row passes
    assert got == [(1, 100), (3, 300)]


def test_overlay_prepared_keeps_control_rows_unstamped(spark):
    """overlay_prepared_spans stamps ONLY data rows inside a 'b'..'P'
    block: the framing rows themselves ('b'/'P' → begin_prepare/prepare)
    keep null xids, so apply_stream_transactions never teleports them to
    the commit lsn (or drops them on rollback) — a direct consumer of
    the overlaid envelope sees control rows at their wire lsn."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput_v2, encode_begin_prepare, encode_insert,
        encode_prepare, encode_relation, overlay_prepared_spans,
        prepared_spans)
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "v"])),
        (20, encode_begin_prepare(20, 23, 0, 8, "g8")),
        (21, encode_insert(1, [2, 200])),
        (22, encode_prepare(20, 22, 0, 8, "g8")),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = overlay_prepared_spans(
        decode_pgoutput_v2(df, schema, bin_width=16),
        prepared_spans(df), bin_width=16,
    )
    by_tag = {r["tag"]: (r["xid"], r["top_xid"]) for r in decoded.collect()}
    assert by_tag["insert"] == (8, 8)           # data row stamped
    assert by_tag["begin_prepare"] == (None, None)  # framing untouched
    assert by_tag["prepare"] == (None, None)


def test_overlay_prepared_stamps_transactional_messages(spark):
    """A TRANSACTIONAL logical-decoding message (wire flags=1) inside a
    'b'..'P' span is stamped with the prepared xid and gets transaction
    semantics from apply_stream_transactions: repositioned to the
    commit lsn on CommitPrepared, DISCARDED on RollbackPrepared —
    matching PostgreSQL, which throws away a rolled-back transaction's
    transactional messages. A NON-transactional message (flags=0) is
    untouched EVEN WHEN its lsn falls numerically inside the span:
    lsns are WAL positions, so a concurrent flags=0 message can land
    inside [begin_prepare, prepare) while the server still delivers it
    immediately — only the wire flag distinguishes the two, and the
    decoder splits the tag on it ('message' vs 'message_nontxn')."""
    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2, encode_begin_prepare,
        encode_commit_prepared, encode_insert, encode_logical_message,
        encode_prepare, encode_relation, encode_rollback_prepared,
        overlay_prepared_spans, prepared_spans, prepared_verdicts)
    from pyspark.sql.types import LongType, StructField, StructType

    def capture(verdict_payload):
        msgs = [
            (0, encode_relation(1, "public", "t", ["id", "v"])),
            (20, encode_begin_prepare(20, 25, 0, 8, "g8")),
            (21, encode_insert(1, [2, 200])),
            (22, encode_logical_message("audit", b"inside-txn", lsn=22)),
            # a CONCURRENT non-transactional message whose WAL position
            # lands inside the span: delivered immediately, untouched
            (23, encode_logical_message("probe", b"", lsn=23,
                                        transactional=False)),
            (24, encode_prepare(20, 24, 0, 8, "g8")),
            (40, verdict_payload),
            # a non-transactional message OUTSIDE any block: untouched
            (50, encode_logical_message("heartbeat", b"", lsn=50,
                                        transactional=False)),
        ]
        df = spark.createDataFrame(
            [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
        )
        schema = StructType([StructField("id", LongType()),
                             StructField("v", LongType())])
        decoded = overlay_prepared_spans(
            decode_pgoutput_v2(df, schema, bin_width=16),
            prepared_spans(df), bin_width=16,
        )
        return apply_stream_transactions(decoded, prepared_verdicts(df))

    committed = capture(encode_commit_prepared(40, 41, 0, 8, "g8"))
    msg_rows = committed.filter(
        "tag in ('message', 'message_nontxn')").collect()
    # transactional in-span message repositioned to the commit lsn (hex
    # envelope lsn leads with the APPLY position); both flags=0
    # messages stay at their wire lsns — including the one inside the
    # span's lsn interval
    by = sorted((int(r["lsn"].split("/")[0], 16), r["tag"])
                for r in msg_rows)
    assert by == [(23, "message_nontxn"), (40, "message"),
                  (50, "message_nontxn")]

    rolled = capture(encode_rollback_prepared(24, 40, 0, 0, 8, "g8"))
    survivors = rolled.filter(
        "tag in ('message', 'message_nontxn')").collect()
    # transactional message discarded; both flags=0 messages survive
    got = sorted((int(r["lsn"].split("/")[0], 16), r["tag"])
                 for r in survivors)
    assert got == [(23, "message_nontxn"), (50, "message_nontxn")]


def test_streamed_segment_transactional_message(spark):
    """Protocol v2 xid-prefixes EVERY frame inside an S..E segment —
    including logical-decoding Message ('M') frames, exactly as this
    module's encode_logical_message(xid=...) emits them.  The v2 decoder
    must strip that xid before reading the flags byte: a TRANSACTIONAL
    in-segment message keeps tag 'message', carries the segment xid, and
    gets stream semantics from apply_stream_transactions (repositioned
    to the StreamCommit lsn; discarded on whole-transaction abort).
    Regression: the strip tuple once omitted b'M', so the flags byte was
    read from the xid's high byte and almost every streamed
    transactional message was mis-tagged 'message_nontxn'."""
    from pgcdc_spark.cdc.pgoutput import (
        apply_stream_transactions, decode_pgoutput_v2,
        encode_logical_message, encode_insert, encode_relation,
        encode_stream_abort, encode_stream_commit, encode_stream_start,
        encode_stream_stop, stream_verdicts, stream_wrap)
    from pyspark.sql.types import LongType, StructField, StructType

    def capture(verdict_payload):
        msgs = [
            (0, encode_relation(1, "public", "t", ["id", "v"])),
            (10, encode_stream_start(7)),
            (11, stream_wrap(7, encode_insert(1, [1, 100]))),
            # transactional 'M' inside the segment, xid-prefixed on the
            # wire (encode_logical_message's streamed form)
            (12, encode_logical_message("audit", b"in-stream", lsn=12,
                                        xid=7)),
            # Type ('Y') metadata frame inside the segment — v2
            # xid-prefixes it like every other in-segment frame
            (13, stream_wrap(7, b"Y\x00\x00\x30\x39public\x00mytype\x00")),
            (14, encode_stream_stop()),
            (30, verdict_payload),
            # non-transactional 'M' outside any segment: no xid prefix,
            # delivered immediately, untouched by verdicts
            (40, encode_logical_message("heartbeat", b"", lsn=40,
                                        transactional=False)),
        ]
        df = spark.createDataFrame(
            [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
        )
        schema = StructType([StructField("id", LongType()),
                             StructField("v", LongType())])
        decoded = decode_pgoutput_v2(df, schema)
        return decoded, apply_stream_transactions(
            decoded, stream_verdicts(df))

    decoded, committed = capture(encode_stream_commit(7, 29, 30, 0))
    by_lsn = {r["lsn"]: r for r in decoded.collect()}
    # decoder: correct tag AND the stripped xid on the in-segment 'M'
    assert by_lsn[12]["tag"] == "message"
    assert by_lsn[12]["xid"] == 7 and by_lsn[12]["top_xid"] == 7
    # the in-segment Type frame decodes with its xid stripped too, so
    # stream verdicts (incl. subtransaction aborts) can match it
    assert by_lsn[13]["tag"] == "type"
    assert by_lsn[13]["xid"] == 7 and by_lsn[13]["top_xid"] == 7
    assert by_lsn[40]["tag"] == "message_nontxn"
    msg_rows = committed.filter(
        "tag in ('message', 'message_nontxn')").collect()
    by = sorted((int(r["lsn"].split("/")[0], 16), r["tag"])
                for r in msg_rows)
    # in-segment transactional message repositioned to the commit lsn
    assert by == [(29, "message"), (40, "message_nontxn")]

    _, aborted = capture(encode_stream_abort(7))
    got = sorted((int(r["lsn"].split("/")[0], 16), r["tag"])
                 for r in aborted.filter(
                     "tag in ('message', 'message_nontxn')").collect())
    # whole-transaction abort discards the transactional message
    assert got == [(40, "message_nontxn")]


def test_publication_column_list_and_row_filter(spark):
    """PG 15 publication semantics end-to-end on hand-built bytes: a
    Relation message carrying only the published column list decodes
    rows with unpublished schema columns NULL, and the row-filter
    transition stream (enter -> INSERT, leave -> key-only DELETE,
    outside -> suppressed) upserts to exactly the filter-satisfying
    state — no ghost row for the user that left the publication."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, encode_delete, encode_insert, encode_relation,
        encode_update)
    from pgcdc_spark.cdc.transform import apply_pipeline
    from pgcdc_spark.cdc.upsert import latest_state
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    # publication (user_id, value) WHERE (value >= 50) over a 3-user tale:
    #  u1: 60 -> 70            stays inside          -> final 70
    #  u2: 40 (suppressed) -> 80 ENTERS as INSERT    -> final 80
    #  u3: 90 -> 30 LEAVES as key-only DELETE        -> absent
    msgs = [
        (0, encode_relation(1, "public", "events", ["user_id", "value"])),
        (1, encode_insert(1, [1, "60.0"])),
        (2, encode_update(1, [1, "70.0"])),
        # u2's 40.0 insert never reaches the slot (filtered)
        (3, encode_insert(1, [2, "80.0"])),   # 40 -> 80 enters: INSERT
        (4, encode_insert(1, [3, "90.0"])),
        (5, encode_delete(1, [3, None], old_kind=b"K")),  # 90 -> 30 leaves
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    # the TABLE schema still carries event_type; the publication doesn't
    row_schema = StructType([
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("event_type", StringType()),
    ])
    env = decode_pgoutput(df, row_schema,
                          relations={1: ["user_id", "value"]})
    state = latest_state(apply_pipeline(env), keys=["user_id"],
                         order_by=["lsn"], op_col="op")
    rows = {r["user_id"]: (r["value"], r["event_type"])
            for r in state.collect()}
    assert rows == {1: (70.0, None), 2: (80.0, None)}  # u3 gone, etype NULL


def test_pgoutput_v2_resent_relation_last_wins(spark):
    """pgoutput re-sends Relation messages after cache invalidations; a
    schema change mid-window re-sends 'R' with NEW column names.
    Auto-discovery dedupes identical payloads executor-side and applies
    distinct images in lsn order, so the LAST image per relid wins —
    rows after the change decode under the renamed columns."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput_v2, encode_insert, encode_relation)
    from pyspark.sql.types import LongType, StructField, StructType

    msgs = [
        (0, encode_relation(1, "public", "t", ["id", "old_v"])),
        # identical re-sends (cache invalidation traffic) — deduped
        (1, encode_relation(1, "public", "t", ["id", "old_v"])),
        (2, encode_relation(1, "public", "t", ["id", "old_v"])),
        # schema change: column renamed old_v -> v; later lsn must win
        (5, encode_relation(1, "public", "t", ["id", "v"])),
        (10, encode_insert(1, [1, 42])),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    decoded = decode_pgoutput_v2(df, schema, bin_width=16)
    rows = decoded.filter("tag = 'insert'").collect()
    assert [(r["new"]["id"], r["new"]["v"]) for r in rows] == [(1, 42)]


def test_pgoutput_v1_resent_relation_dedup_last_wins(spark):
    """v1 twin of the re-send pin: discover_relations and
    discover_relation_schemas dedupe identical re-sent 'R' payloads
    executor-side (groupBy payload, max lsn) and apply distinct images
    lsn-ascending, so the LAST image per relid wins — the round-10 v2
    fix, applied to the v1/schema-inference path in round 11."""
    from pgcdc_spark.cdc.pgoutput import (
        decode_pgoutput, discover_relation_schemas, discover_relations,
        encode_insert, encode_relation)

    old_rel = encode_relation(1, "public", "t", ["id", "old_v"],
                              typoids=[20, 20], key_cols=["id"])
    new_rel = encode_relation(1, "public", "t", ["id", "v"],
                              typoids=[20, 701], key_cols=["id"])
    msgs = [
        (0, old_rel),
        # identical re-sends (cache invalidation traffic) — deduped
        (1, old_rel),
        (2, old_rel),
        # schema change at a later lsn: renamed + retyped column wins
        (5, new_rel),
        (6, new_rel),
        (10, encode_insert(1, ["1", "2.5"])),
    ]
    df = spark.createDataFrame(
        [(l, bytearray(p)) for l, p in msgs], "lsn long, payload binary"
    )
    assert discover_relations(df) == {1: ["id", "v"]}
    names, inferred, keys = discover_relation_schemas(df)[1]
    assert names == ["id", "v"]
    assert keys == ["id"]
    assert [f.dataType.simpleString() for f in inferred.fields] == [
        "bigint", "double"]
    env = decode_pgoutput(df, inferred, relations={1: names})
    rows = env.filter("tag = 'insert'").collect()
    assert [(r["new"]["id"], r["new"]["v"]) for r in rows] == [(1, 2.5)]
    # a frame without an lsn column still dedupes (plain distinct)
    no_lsn = df.select("payload")
    assert set(discover_relations(no_lsn)) == {1}
