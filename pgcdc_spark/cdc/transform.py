"""CDC transform pipeline: filter -> extract -> checked image, with real
I/U/D semantics.

Re-expresses the reference's mapper (src/mapping/customMapper.ts):
- R4 filter (ts :12-13): drop transaction-control/metadata tags
  (`begin`, `commit`, `relation`);
- R5 extraction (ts :19-23): the reference takes Option(new) and thereby
  SILENTLY DROPS deletes (they carry only `old`). Here deletes are kept:
  op = I/U/D and the image is `new` for I/U, `old` for D;
- R6 transformer registry (ts :27-29): `DataFrame.transform`-chainable
  pure functions, the Spark-native extension point.

The same functions run batch and streaming (Structured Streaming executes
the identical logical plan per micro-batch) — one code path, two modes.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

CONTROL_TAGS = ("begin", "commit", "relation", "truncate",
                "truncate_other", "message", "message_nontxn",
                "origin", "type",
                # protocol v3 two-phase framing (cdc/pgoutput.py)
                "begin_prepare", "prepare", "commit_prepared",
                "rollback_prepared", "stream_prepare")

Transformer = Callable[[DataFrame], DataFrame]


def filter_control_messages(df: DataFrame) -> DataFrame:
    """R4: keep only row-change messages.

    Drops pgoutput transaction-control tags AND MongoDB change-stream
    control operationTypes (drop/rename/dropDatabase/invalidate, which
    _tag_expr passes through verbatim) — this filter, not the
    null-image fallthrough in extract_images, is the sanctioned drop
    point for control traffic from every adapter."""
    from .mongo import CONTROL_OPERATIONS

    return df.filter(~F.col("tag").isin(*CONTROL_TAGS, *CONTROL_OPERATIONS))


def drop_pre_truncate(df: DataFrame) -> DataFrame:
    """Apply TRUNCATE semantics to the envelope stream: every change
    ordered at or before the LAST truncate that names this table is
    void (the table was emptied). Fully declarative — the truncate
    watermark is a 1-row aggregate broadcast against the stream, no
    driver scalar; lsn strings are zero-padded so string order is WAL
    order. Truncates of OTHER tables (tag 'truncate_other') are inert.
    Run BEFORE filter_control_messages (which drops the truncate rows
    themselves as control traffic)."""
    wm = df.filter(F.col("tag") == "truncate").agg(
        F.max("lsn").alias("__trunc_lsn")
    )
    return (
        # bounded: 1-row watermark aggregate
        df.crossJoin(F.broadcast(wm))
        .filter(F.col("__trunc_lsn").isNull()
                | (F.col("lsn") > F.col("__trunc_lsn")))
        .drop("__trunc_lsn")
    )


def split_key_updates(df: DataFrame, keys: list[str]) -> DataFrame:
    """REPLICA IDENTITY routing for key-changing UPDATEs.

    When an UPDATE moves a row to a DIFFERENT key, Postgres ships the
    old image (key-only under REPLICA IDENTITY DEFAULT, pgoutput old
    kind 'K'; the full row under FULL, kind 'O' — both decoded into
    ``old`` by cdc/pgoutput.py). Upserting only the new image leaves a
    stale ghost row at the OLD key forever — the reference inherits
    this too, since its mapper forwards Option(new) and ignores old on
    updates (src/mapping/customMapper.ts:19-23). This transformer
    splits such an update into two envelope rows:

      DELETE(old key)  at lsn "<lsn>/0"
      INSERT(new image) at lsn "<lsn>/1"

    so the standard extract -> latest_state pipeline retires the old
    key and lands the new one, in that order ('/' sorts below '0'-'9',
    so both sub-rows sort between this lsn and the next). Updates whose
    key did not change — or that carry no old image at all (REPLICA
    IDENTITY NOTHING / unkeyed tables) — pass through untouched, as
    does every non-update row. Pure map-side JVM work (when/array/
    inline), no shuffle.

    TOAST note: the insert sub-row keeps the ``unchanged`` marker
    column (carry-forward still applies to the new image); the delete
    sub-row nulls it (a delete has no new image to carry into).
    """
    extra = [c for c in df.columns if c not in ("lsn", "tag", "new", "old")]
    old_key = F.struct(*[F.col(f"old.{k}") for k in keys])
    new_key = F.struct(*[F.col(f"new.{k}") for k in keys])
    is_split = (
        (F.col("tag") == "update")
        & F.col("old").isNotNull()
        & F.col("new").isNotNull()
        & ~old_key.eqNullSafe(new_key)
    )
    new_t = df.schema["new"].dataType
    old_t = df.schema["old"].dataType

    def env(lsn, tag, new, old, null_unchanged=False):
        cols = [lsn.alias("lsn"), tag.alias("tag"),
                new.alias("new"), old.alias("old")]
        for c in extra:
            v = F.col(c)
            if c == "unchanged" and null_unchanged:
                v = F.lit(None).cast(df.schema[c].dataType)
            cols.append(v.alias(c))
        return F.struct(*cols)

    passthrough = env(F.col("lsn"), F.col("tag"), F.col("new"), F.col("old"))
    rows = F.when(
        is_split,
        F.array(
            env(
                F.concat(F.col("lsn"), F.lit("/0")),
                F.lit("delete"),
                F.lit(None).cast(new_t),
                F.col("old"),
                null_unchanged=True,
            ),
            env(
                F.concat(F.col("lsn"), F.lit("/1")),
                F.lit("insert"),
                F.col("new"),
                F.lit(None).cast(old_t),
            ),
        ),
    ).otherwise(F.array(passthrough))
    return df.select(F.inline(rows))


def extract_images(df: DataFrame) -> DataFrame:
    """R5 fixed: op column + the correct image per op (deletes preserved)."""
    op = (
        F.when(F.col("tag") == "insert", "I")
        .when(F.col("tag") == "update", "U")
        .when(F.col("tag") == "delete", "D")
    )
    is_del = F.col("tag") == "delete"
    image = F.when(is_del, F.col("old")).otherwise(F.col("new"))
    # the null test per branch, not on ``image``: pushed below a decoder's
    # projection, a test of the branch picked lets Catalyst reduce
    # isnotnull(CASE WHEN c THEN struct(...) END) to c instead of typing
    # the image twice (once to test it, once to emit it)
    has_image = F.when(is_del, F.col("old").isNotNull()).otherwise(
        F.col("new").isNotNull())
    return (
        df.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .filter(has_image)
        .withColumn("image", image)
    )


def flatten_image(df: DataFrame) -> DataFrame:
    """Surface the image struct as top-level columns next to (lsn, op)."""
    return df.select("lsn", "op", "image.*")


DEFAULT_PIPELINE: tuple[Transformer, ...] = (
    filter_control_messages,
    extract_images,
    flatten_image,
)


def apply_pipeline(df: DataFrame, transformers: tuple[Transformer, ...] = DEFAULT_PIPELINE) -> DataFrame:
    """The reference's ordered Transformer list (customMapper.ts:27-29),
    Spark-style: chained pure DataFrame -> DataFrame functions."""
    for t in transformers:
        df = df.transform(t)
    return df
