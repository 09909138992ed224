"""pgoutput-shaped CDC envelope: schema + checked parse.

Mirrors the wire format the reference consumes (wal2json / pgoutput via
pg-logical-replication — reference src/database/postgresql/
PostgresLogicalPg.ts:21, src/config/config.ts:21-24) and the `students`
row image (terraform/setup_database.sql:8-15; the camelCase io-ts model at
src/model/student.ts:3-9 is the reference's bug — wire snake_case wins,
SURVEY.md §1.4).

Parsing uses ``from_json`` with an explicit schema: malformed payloads
become NULL images instead of corrupt rows (vs the reference's unchecked
``as Student`` cast, src/mapping/customMapper.ts:22), and the raw line is
kept in a dead-letter column.

This module also owns the text -> typed rule every wire adapter shares
(``checked_cast`` / ``typed_image``): pgoutput and wal2json both carry
column values as Postgres text renderings, and both type them JVM-side
with the same checked casts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Row image of the reference's `students` table (snake_case wire format).
STUDENT_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("first_name", StringType()),
        StructField("last_name", StringType()),
        StructField("date_of_birth", DateType()),
        StructField("status_id", IntegerType()),
    ]
)

# One wal message (FIXTURES.md A3): lsn orders events; tag is the message
# kind; new/old are the row images (new for insert/update, old for delete).
def envelope_schema(row_schema: StructType = STUDENT_SCHEMA) -> StructType:
    return StructType(
        [
            StructField("lsn", StringType()),
            StructField("tag", StringType()),
            StructField("new", row_schema),
            StructField("old", row_schema),
        ]
    )


def parse_envelope(raw: DataFrame, json_col: str = "value",
                   row_schema: StructType = STUDENT_SCHEMA) -> DataFrame:
    """Parse raw JSON lines into envelope columns + `_corrupt` dead letter.

    PERMISSIVE mode returns an all-null struct (not a NULL struct) for
    malformed text, so dead-lettering must go through
    ``columnNameOfCorruptRecord``, which captures the raw line.
    """
    schema = envelope_schema(row_schema).add(StructField("_corrupt", StringType()))
    parsed = raw.withColumn(
        "_env",
        F.from_json(
            F.col(json_col),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    return parsed.select(
        F.col("_env.lsn").alias("lsn"),
        F.col("_env.tag").alias("tag"),
        F.col("_env.new").alias("new"),
        F.col("_env.old").alias("old"),
        F.col("_env._corrupt").alias("_corrupt"),
    )


def checked_cast(text: Column, dt: DataType) -> Column:
    """A Postgres text rendering cast to ``dt``, checked: malformed text
    reads NULL, never an error that aborts the batch (the engine-wide fix
    for the reference's unchecked cast, src/mapping/customMapper.ts:22).
    ``try_cast`` covers bool 't'/'f', numerics, date and timestamp text;
    bytea's hex output '\\x...' is unhexed, and a bad hex string (odd
    length or a non-hex digit) reads NULL."""
    if isinstance(dt, BinaryType):
        digits = text.substr(F.lit(3), F.length(text))
        return F.when(
            text.startswith("\\x"),
            F.when(F.length(digits) % 2 == 0, F.unhex(digits)),
        ).otherwise(text.try_cast(dt))
    return text.try_cast(dt)


def typed_image(row_schema: StructType, text_of) -> Column:
    """The typed row struct: ``text_of(field)`` is the field's wire text
    (a Column), or None when the wire has no such column (additive
    evolution: the field reads NULL)."""
    fields = []
    for f in row_schema.fields:
        text = text_of(f)
        v = (F.lit(None).cast(f.dataType) if text is None
             else checked_cast(text, f.dataType))
        fields.append(v.alias(f.name))
    return F.struct(*fields)
