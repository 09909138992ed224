"""CDC upsert materialization — the engine's core stateful operator.

The reference forwards insert/update images and SILENTLY DROPS deletes
(Option.fromNullable(data.new) — reference src/mapping/customMapper.ts:19-23).
This operator implements real I/U/D semantics: given a change log with a
key, a monotonically increasing order column (LSN / ts), and an op column,
produce the current table state:

  - per key, the row with the greatest (order, tiebreak) wins;
  - if that winning row is a delete, the key is absent from the state.

Implementation: per-key argmax via ``max_by(payload_struct, order_struct)``
— an AGGREGATE, not a window, deliberately. A window (row_number desc)
physically requires every row of a key in ONE task, so a skewed changelog
(one hot key receiving most updates — the classic CDC hazard) creates an
unsplittable straggler no AQE feature can fix. The aggregate gets map-side
partial combine: the hot key collapses to one candidate row per input
partition BEFORE the shuffle, so the reduce side receives at most
``n_partitions`` rows per key no matter how skewed the log is. Struct
comparison is lexicographic over ``order_by``, i.e. identical to the
multi-column descending window order. Precondition: order columns are
non-null and unique per key (an LSN is), which also makes the winner
deterministic. At 100 TB the change log would additionally be bucketed by
key so the single remaining shuffle disappears.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def latest_state(
    changes: DataFrame,
    keys: list[str],
    order_by: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    keep_deletes: bool = False,
) -> DataFrame:
    """Materialize current state from a change log (last image per key,
    deletes removing the key).

    ``keep_deletes=True`` keeps the winning delete rows as TOMBSTONES
    instead of dropping them — required whenever the result is merged
    again with more changes (a dropped delete would resurrect the key if
    an older insert arrives in a later/reordered batch). Readers filter
    ``op != delete_op`` at the end; see streaming/pipeline.read_state.
    """
    payload_cols = [c for c in changes.columns if c not in keys]
    winners = (
        changes.groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*payload_cols), F.struct(*order_by)
            ).alias("__winner")
        )
        .select(*keys, "__winner.*")
        .select(*changes.columns)  # restore original column order
    )
    if keep_deletes:
        return winners
    return winners.filter(F.col(op_col) != delete_op)


def merge_batch(state: DataFrame, batch: DataFrame, keys: list[str], order_by: list[str],
                op_col: str = "op", delete_op: str = "D") -> DataFrame:
    """Merge a new micro-batch of changes into an existing materialized state.

    Used by the streaming foreachBatch sink (pgcdc_spark/streaming). The
    state is itself a change log compacted to one row per key (op and
    order columns retained, deletes as tombstones), so merging is just
    union + re-compact — commutative across batches, which makes the
    pipeline safe under micro-batch reordering and replay.

    Tombstone retention: unbounded here; compact_tombstones below drops
    tombstones older than the source's replay horizon periodically.
    """
    combined = state.select(batch.columns).unionByName(batch)
    return latest_state(combined, keys, order_by, op_col, delete_op, keep_deletes=True)


def compact_tombstones(
    state: DataFrame,
    horizon,
    order_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Drop tombstones at or below the replay ``horizon``.

    A tombstone at order value L exists to suppress a LATE redelivery of
    an older image (order < L) from resurrecting the deleted key. Once the
    source guarantees nothing ordered <= horizon can still arrive (the
    checkpoint has committed past it / the WAL slot retains nothing
    older), a tombstone with L <= horizon can never be outranked by a
    replay it still needs to beat — so it is dead weight and can go. Live
    rows are never touched; a map-only filter, no shuffle, safe to run
    inside any commit.

    Safety property (tested): for any batch of changes ordered entirely
    above the horizon, merge(compact(state), batch) == merge(state, batch)
    minus the compacted tombstones themselves.
    """
    return state.filter(
        (F.col(op_col) != delete_op) | (F.col(order_col) > F.lit(horizon))
    )


def toast_state(
    changes: DataFrame,
    keys: list[str],
    order_by: list[str],
    toast_cols: list[str],
    unchanged_col: str = "unchanged",
    op_col: str = "op",
    delete_op: str = "D",
    keep_deletes: bool = False,
    emit_carry_meta: bool = False,
) -> DataFrame:
    """``latest_state`` with TOAST carry-forward: per key, the winning
    row's ``toast_cols`` are filled from the most recent change that
    actually CARRIED the column on the wire.

    Postgres does not re-send a TOASTed value an UPDATE didn't touch
    (pgoutput TupleData kind 'u'); the decoded image reads NULL there
    with the column name listed in ``unchanged_col`` (see
    pgoutput.decode_pgoutput(track_unchanged=True); the v2/2PC decoders
    and route_table build the same column with the same JVM typing,
    from the 'u' kinds of the one bronze pass). A plain upsert of
    such images silently overwrites stored values with NULL — the
    classic TOAST data-loss bug (the reference inherits it: its mapper
    forwards wal2json images verbatim, src/mapping/customMapper.ts:19-23,
    and wal2json renders unchanged TOAST as absent columns). Here every
    toast column gets its own carry-forward:

      last value over rows where the column was carried
        = max_by(struct(value), order) FILTER (row is not a delete AND
          column not listed in ``unchanged_col``)

    — an AGGREGATE per column inside the SAME groupBy as the winner-row
    max_by, for the same skew reason latest_state documents: map-side
    partial combine collapses a hot key to one candidate per input
    partition, where the equivalent window (last(...) ignoreNulls) would
    pin every row of the hot key into one task. One shuffle total,
    regardless of how many toast columns are tracked.

    NULL discipline: the carried value rides inside a one-field struct,
    so a genuine SQL NULL assignment (wire kind 'n') is a non-null
    struct holding NULL — it wins the carry-forward and the state reads
    NULL, exactly as Postgres would store it. Only 'u' markers are
    skipped. A key whose column was never carried (replay horizon after
    the last real value) reads NULL; deletes still remove the key.

    The output's ``unchanged_col`` is REWRITTEN to the residual-unknown
    set: the toast columns whose carry found nothing (never carried ⇒
    value NULL but unknown, not stored-NULL). That makes the state
    itself a valid changelog row, which is what lets merge_toast_batch
    fold micro-batches exactly: re-unioning the state treats resolved
    values as carried and still lets a late-arriving older image fill a
    residual hole. ``keep_deletes=True`` keeps winning deletes as
    tombstones (same contract as latest_state) for streaming merges.
    """
    payload_cols = [c for c in changes.columns if c not in keys]
    order_struct = F.struct(*order_by)
    unchanged = F.coalesce(F.col(unchanged_col), F.array().cast("array<string>"))
    aggs = [F.max_by(F.struct(*payload_cols), order_struct).alias("__winner")]
    for c in toast_cols:
        carried = (F.col(op_col) != delete_op) & ~F.array_contains(unchanged, c)
        # carry ORDER: a raw row carries at its own order iff it carried
        # the column; a state row (from a previous fold) carries at the
        # order RECORDED when the value was first seen (__carried_at_*)
        # — never at the state row's own (winner) order, which would
        # wrongly outrank a late-arriving older-but-newer-than-original
        # image. This is what makes the merge fold exact under ANY batch
        # split, not just in-order delivery.
        carry_at = F.when(carried, order_struct)
        meta = f"__carried_at_{c}"
        if meta in changes.columns:
            carry_at = F.coalesce(F.col(meta), carry_at)
        aggs.append(
            F.max_by(F.struct(F.col(c).alias("v")), carry_at)
            .alias(f"__last_{c}")
        )
        aggs.append(F.max(carry_at).alias(f"__maxcarry_{c}"))
    winners = changes.groupBy(*keys).agg(*aggs)
    toast_set = set(toast_cols)
    meta_of = {f"__carried_at_{c}": c for c in toast_cols}
    residual = F.array_compact(
        F.array(
            *[
                F.when(F.col(f"__last_{c}").isNull(), F.lit(c))
                for c in toast_cols
            ]
        )
    )

    def out_col(c):
        if c == unchanged_col:
            return residual.alias(c)
        if c in meta_of:
            return F.col(f"__maxcarry_{meta_of[c]}").alias(c)
        if c in toast_set:
            return F.col(f"__last_{c}.v").alias(c)
        return F.col(f"__winner.{c}").alias(c)

    out = [out_col(c) for c in payload_cols]
    out_names = list(changes.columns)
    if emit_carry_meta:
        # bootstrap path: surface the carry metadata even though the raw
        # log had none, so the result can seed merge_toast_batch folds
        for c in toast_cols:
            m = f"__carried_at_{c}"
            if m not in changes.columns:
                out.append(F.col(f"__maxcarry_{c}").alias(m))
                out_names.append(m)
    winners = winners.select(*keys, *out)
    winners = winners.select(*out_names)  # restore original column order
    if keep_deletes:
        return winners
    return winners.filter(F.col(op_col) != delete_op)


def merge_toast_batch(
    state: DataFrame,
    batch: DataFrame,
    keys: list[str],
    order_by: list[str],
    toast_cols: list[str],
    unchanged_col: str = "unchanged",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """merge_batch's TOAST-aware twin: fold a micro-batch of changes
    (with unchanged-TOAST markers) into a toast_state-shaped state.

    The state is a valid changelog plus one metadata column per toast
    column (``__carried_at_<col>``: the order struct at which the
    resolved value was ORIGINALLY carried — null for residual unknowns).
    Raw batch rows get a null metadata column (they carry at their own
    order); re-folding coalesces. Preserving the original carry order
    is what makes the fold EXACT under arbitrary delivery order, not
    just in-order micro-batches: fold over any split/permutation of the
    log == toast_state over the whole log, and replaying a batch is a
    no-op (pinned by a property test over random changelogs).

    Bootstrap: pass ``state=None``-shaped usage by folding the first
    batch with an empty state built from the batch itself
    (``batch.limit(0)`` + metadata columns), or just call this with the
    first batch as ``state`` after one toast_state pass."""
    null_order = F.when(F.lit(False), F.struct(*order_by))
    b = batch
    for c in toast_cols:
        meta = f"__carried_at_{c}"
        if meta not in b.columns:
            b = b.withColumn(meta, null_order)
    combined = state.select(b.columns).unionByName(b)
    return toast_state(
        combined, keys, order_by, toast_cols,
        unchanged_col=unchanged_col, op_col=op_col, delete_op=delete_op,
        keep_deletes=True,
    )


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    order_by: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Slowly-changing-dimension Type-2 materialization: every non-delete
    change becomes a VERSION row with a validity interval instead of being
    overwritten (the other standard CDC landing shape next to
    ``latest_state``'s Type-1 upsert).

    ``valid_from`` is the change's own order value, ``valid_to`` is the
    NEXT change's (any op — an update supersedes, a delete terminates),
    null while current; ``is_current`` marks open intervals. One window
    over (keys, order) — a single hash shuffle on the key, and the order
    columns must form a total order per key (same contract as
    latest_state) so versions are deterministic under replay.

    The reference forwards only the latest image and silently drops
    deletes (src/mapping/customMapper.ts:19-23); a consumer wanting
    history downstream of it cannot reconstruct this — here it is one
    operator over the same changelog.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    nxt = F.lead(F.struct(*order_by)).over(w)
    first_order = order_by[0]
    out = (
        changes.withColumn("__next", nxt)
        .withColumn("valid_from", F.col(first_order))
        .withColumn("valid_to", F.col(f"__next.{first_order}"))
        .withColumn("is_current", F.col("__next").isNull())
        .drop("__next")
    )
    return out.filter(F.col(op_col) != delete_op)
