"""wal2json adapter — the OTHER logical-decoding plugin format.

The reference's stack selects a decoding plugin by name
(src/config/config.ts:21-24, pgoutput in the checked-in config);
wal2json is the common alternative, and it ships TWO wire layouts:

``format-version=1`` (parse_wal2json) is a TRANSACTION envelope: one
JSON document per commit with an ordered ``change`` array — so
intra-transaction order is positional (the array index), not a per-row
LSN; the engine must fold it into the ordering key or same-key changes
inside one transaction resolve arbitrarily. Row images arrive as
PARALLEL ARRAYS (``columnnames`` / ``columnvalues``, all values as
text; delete old-keys as ``oldkeys.keynames/keyvalues``).

``format-version=2`` (parse_wal2json_v2) — the layout modern wal2json
deployments run — inverts both choices: ONE JSON OBJECT PER CHANGE
(``action`` I/U/D plus B/C/T/M control frames), each carrying its own
top-level ``lsn``, and row images as an array of
``{"name": ..., "type": ..., "value": ...}`` column objects whose
values are TYPED JSON (numbers unquoted, SQL NULL as JSON null), with
the old key under ``identity``.

Both parsers normalize entirely with JVM built-ins — from_json,
posexplode for the v1 ordinal, map_from_arrays for name->value
(projected once per image), and per-field envelope.checked_cast for the
CHECKED text->type conversion (malformed text becomes NULL, never an
ANSI cast error aborting the batch — the same helper the pgoutput
decoder types with, and the engine-wide fix for the reference's
unchecked cast, src/mapping/customMapper.ts:22). Output is
the standard envelope frame (lsn, tag, new, old) with the pg_lsn 'X/Y'
hex halves each zero-padded to a fixed width (v1 appends the change
ordinal) so the unchanged filter -> extract -> upsert pipeline gets a
total order. No Python runs per row: at 100 TB this is
whole-stage-codegen JSON work, the deliberate contrast to pgoutput's
(necessarily) Arrow-batched binary decode.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from .envelope import typed_image

_CHANGE = StructType(
    [
        StructField("kind", StringType()),
        StructField("schema", StringType()),
        StructField("table", StringType()),
        StructField("columnnames", ArrayType(StringType())),
        StructField("columnvalues", ArrayType(StringType())),
        StructField(
            "oldkeys",
            StructType(
                [
                    StructField("keynames", ArrayType(StringType())),
                    StructField("keyvalues", ArrayType(StringType())),
                ]
            ),
        ),
    ]
)

_DOC = StructType(
    [
        StructField("lsn", StringType()),
        StructField("change", ArrayType(_CHANGE)),
    ]
)

_KIND_TO_TAG = {"insert": "insert", "update": "update", "delete": "delete"}


def _sortable_lsn(lsn: F.Column) -> F.Column:
    """pg_lsn 'X/Y' -> fixed-width sortable string. Real wal2json emits
    the PostgreSQL 'X/Y' HEXADECIMAL pg_lsn form (e.g. "0/16B3748"):
    lpad-ing the raw string and comparing lexicographically diverges
    from WAL order the moment the hex digit count changes (lpad('0/10')
    sorts BELOW lpad('0/9') though 0x10 > 0x9) — so each half is
    zero-padded SEPARATELY to a fixed width, which makes string order
    equal numeric order. A bare numeric lsn (no '/') is treated as the
    low half; hex digits are uppercased so 'a'-'f' renderings sort with
    'A'-'F'. Both parses are order-preserving for plain decimal strings
    too (any shorter digit string is numerically smaller in base 16 as
    well)."""
    has_slash = F.instr(lsn, "/") > 0
    hi = F.when(has_slash, F.substring_index(lsn, "/", 1)).otherwise(F.lit("0"))
    lo = F.when(has_slash, F.substring_index(lsn, "/", -1)).otherwise(lsn)
    return F.concat(
        F.lpad(F.upper(hi), 16, "0"), F.lit("/"), F.lpad(F.upper(lo), 16, "0")
    )


def _typed_image(name_map: str, row_schema: StructType) -> F.Column:
    """A projected name->text map column folded into the caller's typed
    struct, one checked cast per field (bad text -> NULL field)."""
    m = F.col(name_map)
    return typed_image(row_schema, lambda f: F.element_at(m, f.name))


def parse_wal2json(
    raw: DataFrame, row_schema: StructType, json_col: str = "value",
    track_unchanged: bool = False,
    source_table: tuple[str, str] | None = None,
) -> DataFrame:
    """Transaction documents -> one envelope row per change, ordered by
    (transaction lsn, change ordinal) folded into a zero-padded sortable
    lsn string. Unknown kinds (truncate/message) pass through with null
    images and are dropped by the standard control/image filters.

    wal2json renders an unchanged-TOAST column by OMITTING it from the
    columnnames/columnvalues arrays (a genuine SQL NULL is present with
    a null value) — so upserting images verbatim NULL-overwrites stored
    values, the same TOAST hazard as pgoutput's 'u' datum.
    ``track_unchanged=True`` adds an ``unchanged`` column naming the
    schema fields absent from the wire arrays (JVM filter, no Python);
    feed it to upsert.toast_state to carry stored values forward.

    TABLE SCOPE: images are typed against ONE row_schema, so a slot
    whose publication carries more tables must pass
    ``source_table=(schema, table)`` — foreign insert/update/delete
    changes are then dropped instead of mis-typed into this table's
    state (same contract as the v2 parser; r13 review). v1 truncates
    stay ``_control`` either way — the v1 layout's truncate is decoded
    as an unknown kind, never as a drop_pre_truncate watermark.
    Corrupt/unknown-kind changes keep passing through as ``_control``
    (the NULL-kind test below is explicit, so three-valued logic cannot
    silently drop them)."""
    doc = raw.withColumn("_doc", F.from_json(F.col(json_col), _DOC))
    ch = doc.select(
        F.col("_doc.lsn").alias("_txn_lsn"),
        F.posexplode_outer("_doc.change").alias("_idx", "_ch"),
    )
    if source_table is not None:
        sch, tbl = source_table
        kind = F.col("_ch.kind")
        is_mine = (F.col("_ch.schema").eqNullSafe(F.lit(sch))
                   & F.col("_ch.table").eqNullSafe(F.lit(tbl)))
        ch = ch.filter(
            kind.isNull()
            | ~kind.isin("insert", "update", "delete")
            | is_mine
        )
    has_new = (F.col("_ch.kind") != "delete") \
        & F.col("_ch.columnnames").isNotNull()
    has_old = F.col("_ch.oldkeys").isNotNull()
    # each image's name->text map is projected ONCE, before its struct
    # reads every schema field out of it
    ch = ch.select(
        "_txn_lsn", "_idx", "_ch.kind", "_ch.columnnames",
        has_new.alias("_has_new"), has_old.alias("_has_old"),
        F.when(has_new, F.map_from_arrays(
            "_ch.columnnames", "_ch.columnvalues")).alias("_new"),
        F.when(has_old, F.map_from_arrays(
            "_ch.oldkeys.keynames", "_ch.oldkeys.keyvalues")).alias("_old"),
    )
    # hex-half padding shared with the v2 parser (_sortable_lsn); v1
    # appends the change ordinal for intra-transaction order
    return ch.select(
        F.concat(
            _sortable_lsn(F.col("_txn_lsn")),
            F.lit("/"),
            F.lpad(F.col("_idx").cast("string"), 8, "0"),
        ).alias("lsn"),
        F.coalesce(
            F.element_at(
                F.create_map(
                    *[F.lit(x) for kv in _KIND_TO_TAG.items() for x in kv]
                ),
                F.col("kind"),
            ),
            F.lit("_control"),
        ).alias("tag"),
        F.when(F.col("_has_new"), _typed_image("_new", row_schema)).alias("new"),
        # oldkeys ride DELETEs *and* key-changing UPDATEs (wal2json emits
        # them whenever the replica identity changed) — surfacing both is
        # what lets transform.split_key_updates retire the old key
        F.when(F.col("_has_old"), _typed_image("_old", row_schema)).alias("old"),
        *(
            [
                F.when(
                    F.col("_has_new"),
                    F.filter(
                        F.array(*[F.lit(f.name) for f in row_schema.fields]),
                        lambda n: ~F.array_contains(
                            F.col("columnnames"), n
                        ),
                    ),
                ).alias("unchanged")
            ]
            if track_unchanged
            else []
        ),
    )


# -- format_version=2: one JSON object per change -------------------------------

_V2_COL = StructType(
    [
        StructField("name", StringType()),
        StructField("type", StringType()),
        # StringType swallows ANY JSON value as its text (Spark's Jackson
        # parser copies the raw token for a string target), so v2's TYPED
        # values — numbers unquoted, booleans bare — land here verbatim
        # and the per-field try_cast below converts them checked; a JSON
        # null stays a SQL NULL (never the text 'null')
        StructField("value", StringType()),
    ]
)

_V2_DOC = StructType(
    [
        StructField("action", StringType()),
        StructField("schema", StringType()),
        StructField("table", StringType()),
        StructField("lsn", StringType()),
        StructField("columns", ArrayType(_V2_COL)),
        StructField("identity", ArrayType(_V2_COL)),
    ]
)

# B/C/T/M control frames map onto the SAME control-tag vocabulary the
# pgoutput decoder emits, so transform.filter_control_messages (and
# drop_pre_truncate for 'T') work unchanged across adapters.
_V2_ACTION_TO_TAG = {
    "I": "insert",
    "U": "update",
    "D": "delete",
    "B": "begin",
    "C": "commit",
    "T": "truncate",
    "M": "message",
}


def _v2_map(cols: F.Column) -> F.Column:
    """column-object array -> its name->value map (map_from_arrays over
    two transforms)."""
    return F.map_from_arrays(
        F.transform(cols, lambda c: c["name"]),
        F.transform(cols, lambda c: c["value"]),
    )


def parse_wal2json_v2(
    raw: DataFrame, row_schema: StructType, json_col: str = "value",
    track_unchanged: bool = False,
    source_table: tuple[str, str] | None = None,
) -> DataFrame:
    """wal2json ``format-version=2``: one envelope row per input JSON
    object. ``action`` I/U/D become data rows; B/C/T/M become the
    standard control tags (dropped by transform.filter_control_messages;
    'T' participates in drop_pre_truncate); anything else passes through
    as ``_control``. Unlike v1 there is no transaction array — each
    change object carries its own top-level ``lsn``, which this parser
    assumes present on data rows (run the slot with ``include-lsn``;
    without it the stream has no replayable total order for ANY
    consumer, not just this one). The lsn is normalized to the same
    separately-zero-padded hex-half form as v1 (see _sortable_lsn), so
    v1 and v2 streams materialize identical state through the shared
    filter -> extract -> upsert pipeline (pinned by the four-adapter
    equivalence property in tests/test_properties.py).

    TABLE SCOPE: like v1 (and every single-``row_schema`` adapter),
    this parser assumes a SINGLE-TABLE stream by default — images are
    typed against one schema and 'T' maps to the table-unscoped
    ``truncate`` tag. A slot whose publication carries MORE tables must
    pass ``source_table=(schema, table)`` (r13 review): foreign I/U/D
    rows are then dropped instead of mis-typed into this table's state,
    and a 'T' frame naming a DIFFERENT table tags ``truncate_other``
    (inert to drop_pre_truncate) instead of voiding this table's rows.
    (Multi-table fan-out belongs to the routing operator,
    cdc/pgoutput.decode_pgoutput_generic + route_table — one stream per silver table is
    the serving shape here.)

    TOAST: like v1, an unchanged-TOAST column is OMITTED from the
    ``columns`` array (a genuine SQL NULL arrives as JSON null), so
    ``track_unchanged=True`` surfaces the absent field names for
    upsert.toast_state carry-forward.

    The old key rides ``identity`` (REPLICA IDENTITY columns) on
    deletes AND key-changing updates — surfaced as ``old`` so
    transform.split_key_updates retires the old key, same as v1's
    ``oldkeys``."""
    doc = raw.select(F.from_json(F.col(json_col), _V2_DOC).alias("_d"))
    act = F.col("_d.action")
    is_data = act.isin("I", "U", "D")
    tag = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in _V2_ACTION_TO_TAG.items() for x in kv]
            ),
            act,
        ),
        F.lit("_control"),
    )
    if source_table is not None:
        sch, tbl = source_table
        is_mine = (F.col("_d.schema").eqNullSafe(F.lit(sch))
                   & F.col("_d.table").eqNullSafe(F.lit(tbl)))
        # foreign data rows never reach this table's typed images;
        # foreign truncates must not advance this table's watermark.
        # act.isNull() is EXPLICIT (r13 review): corrupt lines parse to
        # a NULL action, ~NULL|false is NULL, and a bare two-term filter
        # would silently drop exactly the '_control' rows a data-quality
        # monitor watches — scoped and unscoped modes must surface the
        # same corrupt-input signal.
        doc = doc.filter(act.isNull() | ~is_data | is_mine)
        tag = F.when(
            (act == "T") & ~is_mine, F.lit("truncate_other")
        ).otherwise(tag)
    has_new = act.isin("I", "U") & F.col("_d.columns").isNotNull()
    has_old = is_data & F.col("_d.identity").isNotNull()
    # each image's name->value map is projected ONCE, before its struct
    # reads every schema field out of it
    doc = doc.select(
        _sortable_lsn(F.col("_d.lsn")).alias("lsn"),
        tag.alias("tag"),
        F.when(has_new, _v2_map(F.col("_d.columns"))).alias("_new"),
        F.when(has_old, _v2_map(F.col("_d.identity"))).alias("_old"),
    )
    has_new = F.col("_new").isNotNull()
    return doc.select(
        "lsn", "tag",
        F.when(has_new, _typed_image("_new", row_schema)).alias("new"),
        F.when(F.col("_old").isNotNull(),
               _typed_image("_old", row_schema)).alias("old"),
        *(
            [
                F.when(
                    has_new,
                    F.filter(
                        F.array(*[F.lit(f.name) for f in row_schema.fields]),
                        lambda n: ~F.array_contains(F.map_keys("_new"), n),
                    ),
                ).alias("unchanged")
            ]
            if track_unchanged
            else []
        ),
    )
