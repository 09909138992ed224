"""Property-based equivalence tests for the two trickiest maintenance
paths — the class of bug example-based fixtures miss (round-7 review
found an upsert-cell-migration hole exactly because the golden test only
re-appended identical embeddings):

- AnnIndex: ANY random insert/upsert/delete changelog applied through
  ``append`` must leave the index EQUAL to a fresh ``build`` over the
  final corpus state — compared on the raw cell contents and the idmap
  (stronger than probe equality: every code row and every lookup row).
- TopKViewMaintainer: ANY random I/U/D changelog must keep the ranked
  view equal to a ranked recompute of the live state after EVERY batch —
  including buffer exhaustion, promotions, ties, and group moves.
- JoinViewMaintainer: ANY random two-sided changelog must keep the
  signed-delta join view equal to a recompute after every batch —
  join-key moves, delete-then-reinsert, multiplicity > 1.
- TermDFView/PostingsView: ANY random document changelog must leave the
  text-index views equal to a recompute over the live corpus.

Inputs are small (each example runs real Spark jobs) but generated to
hit the hazard shapes: repeated upserts of one key, delete-then-reinsert,
updates that migrate cells, value ties broken by key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,  # each example is several Spark jobs
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# --- AnnIndex: random changelog == rebuild -----------------------------------

_DIMS = 64
_N_BASE = 40  # ids 0.._N_BASE-1 bootstrap the index; id 1 is both donors


def _emb(vec_id: int, ver: int) -> list[float]:
    """Deterministic pseudo-random embedding; different ``ver`` values
    move the vector substantially (cell migrations are the point)."""
    return [
        ((vec_id * 1009 + ver * 9176 + d * 131) % 997) / 200.0 - 2.5
        for d in range(_DIMS)
    ]


# an op: (vec_id >= 2 so the id-1 quantizer donors never change,
#         kind, version counter for upsert embeddings)
_ann_op = st.tuples(
    st.integers(min_value=2, max_value=_N_BASE + 7),  # some ids are NEW
    st.sampled_from(["upsert", "delete"]),
    st.integers(min_value=1, max_value=3),
)


@given(batches=st.lists(
    st.lists(_ann_op, min_size=1, max_size=6), min_size=1, max_size=2,
))
@settings(**_SETTINGS)
def test_ann_append_equals_rebuild_for_any_changelog(spark, tmp_path_factory, batches):
    from pgcdc_spark.operators.annindex import AnnIndex

    tmp = tmp_path_factory.mktemp("annprop")
    state = {v: _emb(v, 0) for v in range(_N_BASE)}

    # cent_mod pinned: append-equals-rebuild is only defined UNDER THE
    # SAME QUANTIZER. The adaptive sqrt(n) rule (r10) would retrain the
    # rebuild on the final corpus's count (different M, and ops would
    # mutate adaptive donor ids); pinning mod-53 keeps id 1 the sole
    # donor, which ops never touch — the property stays about
    # touched-cell maintenance, not quantizer retraining.
    idx = AnnIndex(str(tmp / "incr"))
    idx.build(
        spark.createDataFrame(
            sorted(state.items()), "vec_id long, embedding array<double>"
        ),
        label="base",
        cent_mod=53,
    )

    for i, ops in enumerate(batches):
        # micro-batch fold: last op per key wins (latest_state semantics)
        final_op: dict[int, tuple] = {}
        for vec_id, kind, ver in ops:
            final_op[vec_id] = (kind, ver)
        ups = [
            (v, _emb(v, ver))
            for v, (kind, ver) in sorted(final_op.items()) if kind == "upsert"
        ]
        dels = [
            (v,) for v, (kind, _ver) in sorted(final_op.items())
            if kind == "delete"
        ]
        idx.append(
            spark.createDataFrame(ups, "vec_id long, embedding array<double>")
            if ups else None,
            deletes=spark.createDataFrame(dels, "vec_id long") if dels else None,
            label=f"b{i}",
        )
        for v, e in ups:
            state[v] = e
        for (v,) in dels:
            state.pop(v, None)

    rebuilt = AnnIndex(str(tmp / "truth"))
    rebuilt.build(
        spark.createDataFrame(
            sorted(state.items()), "vec_id long, embedding array<double>"
        ),
        label="truth",
        cent_mod=53,
    )

    def cells_of(ix):
        m = ix.meta()
        df = ix._read_cells(spark, m, sorted(int(c) for c in m["cellmap"]))
        if df is None:
            return []
        return sorted(map(tuple, df.select("cid", "vec_id", "s", "pqcid").collect()))

    def idmap_of(ix):
        m = ix.meta()
        df = ix._read_idmap(spark, m, sorted(int(b) for b in m["idmap"]))
        if df is None:
            return []
        return sorted(map(tuple, df.select("vec_id", "cid").collect()))

    assert cells_of(idx) == cells_of(rebuilt)  # every code row identical
    assert idmap_of(idx) == idmap_of(rebuilt)  # lookup table identical
    # idmap membership == cells membership (the r8 invariant)
    assert {t[0] for t in idmap_of(idx)} == {t[1] for t in cells_of(idx)}


# --- TopK view: random changelog == ranked recompute -------------------------

_tk_op = st.tuples(
    st.integers(min_value=0, max_value=5),          # id
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(["A", "B"]),                    # grp (moves happen)
    st.integers(min_value=0, max_value=6),          # val * 0.5 (ties!)
)


@given(batches=st.lists(
    st.lists(_tk_op, min_size=1, max_size=5), min_size=1, max_size=3,
))
@settings(**_SETTINGS)
def test_topk_view_equals_recompute_for_any_changelog(
    spark, tmp_path_factory, batches
):
    from pyspark.sql import Window

    from pgcdc_spark.streaming.ivm import TopKView, TopKViewMaintainer

    tmp = tmp_path_factory.mktemp("tkprop")
    view = TopKView("tk", group_cols=["grp"], val_col="val",
                    key_cols=["id"], agg="max", k_out=2, slack=1)
    m = TopKViewMaintainer(str(tmp / "tk"), view, keys=["id"], n_buckets=4)

    lsn = 0
    for i, ops in enumerate(batches):
        rows = []
        for vid, op, grp, v2 in ops:
            lsn += 1
            rows.append((f"0/{lsn:06X}", op, vid, grp, v2 * 0.5))
        m.apply_batch(
            spark.createDataFrame(
                rows, "lsn string, op string, id long, grp string, val double"
            ),
            label=str(i),
        )
        st_df = m.store.read(spark)
        w = Window.partitionBy("grp").orderBy(F.col("val").desc(), F.col("id"))
        want = sorted(
            (r["grp"], r["id"], r["val"], r["rank"])
            for r in st_df.filter(F.col("op") != "D")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= view.k_out)
            .select("grp", "id", "val", "rank").collect()
        )
        got = sorted(
            (r["grp"], r["id"], r["val"], r["rank"])
            for r in m.read_view(spark).collect()
        )
        assert got == want, f"batch {i}: {got} != {want}"


# --- Join view: random two-sided changelogs == recompute ---------------------

_L_SCHEMA = "lsn string, op string, id long, j long, a_val string"
_R_SCHEMA = "lsn string, op string, rid long, j long, b_val string"

# ops: (key 0..3, op, join-key 0..2, value tag 0..2) — small domains force
# key collisions, join-key moves, delete-then-reinsert, and multiplicity>1
_jv_l_op = st.tuples(st.integers(0, 3), st.sampled_from(["I", "U", "D"]),
                     st.integers(0, 2), st.integers(0, 2))
_jv_r_op = st.tuples(st.integers(10, 13), st.sampled_from(["I", "U", "D"]),
                     st.integers(0, 2), st.integers(0, 2))


@given(batches=st.lists(
    st.tuples(st.lists(_jv_l_op, max_size=4), st.lists(_jv_r_op, max_size=4)),
    min_size=1, max_size=3,
))
@settings(**_SETTINGS)
def test_join_view_equals_recompute_for_any_changelog(
    spark, tmp_path_factory, batches
):
    from pgcdc_spark.streaming.ivm import JoinView, JoinViewMaintainer

    tmp = tmp_path_factory.mktemp("jvprop")
    view = JoinView("v", on=["j"], left_cols=["id", "j", "a_val"],
                    right_cols=["j", "b_val"])
    m = JoinViewMaintainer(str(tmp / "jv"), view,
                           left_keys=["id"], right_keys=["rid"], n_buckets=4)

    lsn = 0
    for i, (lops, rops) in enumerate(batches):
        def rows(ops, tag):
            nonlocal lsn
            out = []
            for key, op, j, v in ops:
                lsn += 1
                out.append((f"0/{lsn:06X}", op, key, j, f"{tag}{v}"))
            return out
        lrows, rrows = rows(lops, "a"), rows(rops, "b")
        m.apply_batch(
            spark.createDataFrame(lrows, _L_SCHEMA) if lrows else None,
            spark.createDataFrame(rrows, _R_SCHEMA) if rrows else None,
            label=str(i),
        )
        l_st, r_st = m.left_store.read(spark), m.right_store.read(spark)
        want = {}
        if l_st is not None and r_st is not None:
            joined = (
                l_st.filter(F.col("op") != "D").select("id", "j", "a_val")
                .join(r_st.filter(F.col("op") != "D").select("j", "b_val"),
                      on="j")
            )
            want = {
                (r["id"], r["j"], r["a_val"], r["b_val"]): r["n"]
                for r in joined.groupBy("id", "j", "a_val", "b_val")
                .agg(F.count(F.lit(1)).cast("long").alias("n")).collect()
            }
        got = {
            (r["id"], r["j"], r["a_val"], r["b_val"]): r["multiplicity"]
            for r in m.read_view(spark).collect()
        }
        assert got == want, f"batch {i}"


# --- Text views: random doc changelogs == recompute --------------------------

_doc_op = st.tuples(
    st.integers(0, 4),                     # doc_id
    st.sampled_from(["I", "U", "D"]),
    st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=1, max_size=5),
)


@given(batches=st.lists(
    st.lists(_doc_op, min_size=1, max_size=4), min_size=1, max_size=3,
))
@settings(**_SETTINGS)
def test_text_views_equal_recompute_for_any_changelog(
    spark, tmp_path_factory, batches
):
    import os

    from pgcdc_spark.streaming.ivm import (
        PostingsView, TermDFView, apply_agg_view_batch,
        read_postings_view, read_term_df_view)
    from pgcdc_spark.streaming.statestore import BucketedStateStore

    tmp = tmp_path_factory.mktemp("txtprop")
    dfv, pv = TermDFView("df"), PostingsView("post")
    sd, sp = str(tmp / "d"), str(tmp / "p")
    std = BucketedStateStore(os.path.join(sd, "state"), n_buckets=4)
    stp = BucketedStateStore(os.path.join(sp, "state"), n_buckets=4)
    schema = "lsn string, op string, doc_id long, text string"

    lsn = 0
    for i, ops in enumerate(batches):
        rows = []
        for doc_id, op, toks in ops:
            lsn += 1
            rows.append((f"0/{lsn:06X}", op, doc_id, " ".join(toks)))
        b = spark.createDataFrame(rows, schema)
        apply_agg_view_batch(std, dfv, os.path.join(sd, "view_df"), b,
                             label=str(i), keys=["doc_id"])
        apply_agg_view_batch(stp, pv, os.path.join(sp, "view_post"), b,
                             label=str(i), keys=["doc_id"])

    # truth from the (shared-content) state table
    st_df = std.read(spark)
    live = {r["doc_id"]: r["text"]
            for r in st_df.filter(F.col("op") != "D").collect()}
    want_df, want_post = {}, {}
    for d, t in live.items():
        toks = t.split(" ")
        for tok in set(toks):
            want_df[tok] = want_df.get(tok, 0) + 1
            want_post[(tok, d)] = toks.count(tok)
        want_post[(" DL", d)] = len(toks)
    if live:
        want_df[" N"] = len(live)
    got_df = {r["term"]: r["df"]
              for r in read_term_df_view(spark, sd, dfv).collect()}
    got_post = {(r["term"], r["doc_id"]): r["tf"]
                for r in read_postings_view(spark, sp, pv).collect()}
    assert got_df == want_df
    assert got_post == want_post


# --- Histogram view: bucket-crossing changelogs == recompute ------------------
# The r8 drift-monitor view is AggView with the width_bucket id in the
# grouping key; the hazard shape is an UPDATE whose value crosses a
# bucket boundary (retract old bucket, add new) and under/overflow rows.

_h_op = st.tuples(
    st.integers(0, 5),                  # id (collisions force U/D paths)
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(["A", "B"]),        # grp
    st.integers(-1, 9),                 # val = raw * 100.0 -> buckets 0..9
)


@given(batches=st.lists(
    st.lists(_h_op, min_size=1, max_size=5), min_size=1, max_size=3,
))
@settings(**_SETTINGS)
def test_histogram_view_equals_recompute_for_any_changelog(
    spark, tmp_path_factory, batches
):
    import os

    from pgcdc_spark.streaming.ivm import (
        AggView, apply_agg_view_batch, read_agg_view)
    from pgcdc_spark.streaming.statestore import BucketedStateStore

    tmp = tmp_path_factory.mktemp("histprop")
    view = AggView("h", group_cols=["grp", "bucket"], sum_col="val")
    sd = str(tmp / "h")
    store = BucketedStateStore(os.path.join(sd, "state"), n_buckets=4)
    schema = "lsn string, op string, id long, grp string, val double"

    lsn = 0
    for i, ops in enumerate(batches):
        rows = []
        for vid, op, grp, raw in ops:
            lsn += 1
            rows.append((f"0/{lsn:06X}", op, vid, grp, raw * 100.0))
        b = spark.createDataFrame(rows, schema).withColumn(
            "bucket",
            F.width_bucket("val", F.lit(0.0), F.lit(500.0), F.lit(8)),
        )
        apply_agg_view_batch(store, view, os.path.join(sd, "view_h"), b,
                             label=str(i), keys=["id"])

    def bucket(v: float) -> int:  # python mirror of width_bucket(0,500,8)
        if v < 0.0:
            return 0
        if v >= 500.0:
            return 9
        return int(v * 8.0 / 500.0) + 1

    st_df = store.read(spark)
    want: dict[tuple, list] = {}
    for r in st_df.filter(F.col("op") != "D").collect():
        key = (r["grp"], bucket(r["val"]))
        agg = want.setdefault(key, [0.0, 0])
        agg[0] += r["val"]
        agg[1] += 1
    got = {
        (r["grp"], r["bucket"]): [r["sum_val"], r["n_rows"]]
        for r in read_agg_view(spark, sd, view).collect()
    }
    assert got == {k: v for k, v in want.items() if v[1] > 0}


# --- Snapshot cutover: any changelog, any cut/overlap == full replay ----------
# cdc_snapshot_cutover_state pins ONE cut/overlap position through the
# driver oracle; this generalizes the invariant: for ANY changelog and
# ANY (overlap <= cut) split, snapshot-at-cut + stream-from-overlap
# merged by the LWW upsert equals replaying the full log. The hazard
# shapes hypothesis hunts: delete-then-reinsert straddling the cut, a
# key's latest change inside the twice-delivered overlap window, keys
# whose entire history predates the overlap.

_co_op = st.tuples(
    st.integers(0, 5),                  # key
    st.sampled_from(["U", "D"]),
    st.integers(0, 3),                  # value tag
)


@given(
    ops=st.lists(_co_op, min_size=1, max_size=12),
    cut_frac=st.integers(0, 4),
    overlap_frac=st.integers(0, 4),
)
@settings(**_SETTINGS)
def test_snapshot_cutover_equals_full_replay(spark, ops, cut_frac, overlap_frac):
    from pgcdc_spark.cdc.upsert import latest_state

    rows = [
        (lsn, key, op, f"v{key}_{tag}_{lsn}")
        for lsn, (key, op, tag) in enumerate(ops)
    ]
    cut = len(rows) * cut_frac // 4
    overlap = min(len(rows) * overlap_frac // 4, cut)
    log = spark.createDataFrame(rows, "lsn long, id long, op string, val string")

    snapshot = latest_state(
        log.filter(F.col("lsn") < cut), keys=["id"], order_by=["lsn"]
    )
    stream = log.filter(F.col("lsn") >= overlap)
    got = sorted(
        (r["id"], r["lsn"], r["val"])
        for r in latest_state(
            snapshot.unionByName(stream), keys=["id"], order_by=["lsn"]
        ).collect()
    )
    want = sorted(
        (r["id"], r["lsn"], r["val"])
        for r in latest_state(log, keys=["id"], order_by=["lsn"]).collect()
    )
    assert got == want, f"cut={cut} overlap={overlap}: {got} != {want}"


# --- toast_state fold: any split/permutation == one batch pass ----------------
# The carry-order metadata (__carried_at_*) exists precisely so the
# micro-batch fold is exact under arbitrary delivery order — a state
# that stamped resolved values with its own winner order would let a
# late-arriving older-but-newer-than-original image lose wrongly. This
# generates random changelogs mixing inserts, carried updates,
# unchanged-TOAST updates, genuine-NULL assignments and deletes, splits
# them into micro-batches, PERMUTES the batches, folds, replays one
# batch, and requires equality with toast_state over the whole log.

_toast_op = st.tuples(
    st.integers(min_value=1, max_value=4),                   # key
    st.sampled_from(["I", "U", "U", "D"]),                   # op (U-heavy)
    st.sampled_from(["carried", "unchanged", "nullset"]),    # U flavour
)

_TOAST_SCHEMA = "lsn long, op string, unchanged array<string>, k long, v double"


def _toast_rows(ops):
    rows = []
    for i, (k, op, flavour) in enumerate(ops):
        lsn = i + 1
        if op == "D":
            rows.append((lsn, "D", None, k, None))
        elif op == "I" or flavour == "carried":
            rows.append((lsn, op, [], k, float(lsn * 10 + k)))
        elif flavour == "nullset":
            rows.append((lsn, "U", [], k, None))     # genuine SQL NULL
        else:
            rows.append((lsn, "U", ["v"], k, None))  # unchanged TOAST
    return rows


@given(
    ops=st.lists(_toast_op, min_size=1, max_size=14),
    cuts=st.lists(st.integers(min_value=1, max_value=13), max_size=3),
    perm_seed=st.integers(min_value=0, max_value=999),
    replay_pick=st.integers(min_value=0, max_value=99),
)
@settings(**_SETTINGS)
def test_toast_fold_any_split_equals_batch(spark, ops, cuts, perm_seed,
                                           replay_pick):
    import random

    from pgcdc_spark.cdc.upsert import merge_toast_batch, toast_state

    rows = _toast_rows(ops)
    full = spark.createDataFrame(rows, _TOAST_SCHEMA)
    truth = sorted(
        (r["k"], r["lsn"], r["op"], tuple(r["unchanged"]), r["v"])
        for r in toast_state(full, ["k"], ["lsn"], ["v"]).collect()
    )

    bounds = sorted({c for c in cuts if c < len(rows)})
    pieces, lo = [], 0
    for b in bounds + [len(rows)]:
        if rows[lo:b]:
            pieces.append(rows[lo:b])
        lo = b
    random.Random(perm_seed).shuffle(pieces)  # ARBITRARY delivery order
    state = toast_state(
        spark.createDataFrame(pieces[0], _TOAST_SCHEMA), ["k"], ["lsn"],
        ["v"], keep_deletes=True, emit_carry_meta=True,
    )
    for piece in pieces[1:]:
        state = merge_toast_batch(
            state, spark.createDataFrame(piece, _TOAST_SCHEMA),
            ["k"], ["lsn"], ["v"],
        )
    # replay one already-applied batch: must be a no-op
    state = merge_toast_batch(
        state,
        spark.createDataFrame(pieces[replay_pick % len(pieces)],
                              _TOAST_SCHEMA),
        ["k"], ["lsn"], ["v"],
    )
    folded = sorted(
        (r["k"], r["lsn"], r["op"], tuple(r["unchanged"]), r["v"])
        for r in state.filter(F.col("op") != "D")
        .select("lsn", "op", "unchanged", "k", "v").collect()
    )
    assert folded == truth


# --- pgoutput decode == a model of the wire -----------------------------------
# decode_pgoutput and route_table over the bronze frame are one byte pass
# plus one JVM typing helper, so comparing them with each other would
# check nothing. Both are compared with frames computed HERE from the
# generated values: every Postgres text rendering the typing handles
# (bool 't'/'f', date, timestamp, numeric, bytea hex) next to malformed
# text of each, genuine NULLs and unchanged-TOAST datums, in insert /
# update / key-only-old update / delete messages mixed with begin,
# commit, truncate (this table's and another's) and corrupt bytes.

_PG_COLS = [  # (name, Spark type, [(wire text, expected value)])
    ("id", "bigint", [("7", 7), ("-3", -3), ("junk", None), ("1.5", None)]),
    ("ok", "boolean", [("t", True), ("f", False), ("maybe", None)]),
    ("d", "date", [("2024-03-01", "date:2024-03-01"),
                   ("2024-13-40", None), ("someday", None)]),
    ("at", "timestamp", [("2024-03-01 10:23:54.5",
                          "ts:2024-03-01T10:23:54.500000"),
                         ("not-a-time", None)]),
    ("amt", "decimal(12,2)", [("12.34", "dec:12.34"), ("-0.50", "dec:-0.50"),
                              ("NaN-ish", None)]),
    ("blob", "binary", [("\\x0aff", b"\x0a\xff"), ("\\x", b""),
                        ("\\xzz", None), ("\\xabc", None)]),
]
_NULL, _UNCH = ("<null>", None), ("<unchanged>", None)


def _pg_value(col):
    return st.sampled_from(col[2] + [_NULL, _UNCH])


_pg_tuple = st.tuples(*[_pg_value(c) for c in _PG_COLS])
_pg_msg = st.one_of(
    st.tuples(st.sampled_from(["I", "U", "UO", "D"]), _pg_tuple),
    st.tuples(st.sampled_from(["B", "C", "T", "T_other"])),
    st.tuples(st.just("cut"), _pg_tuple, st.integers(min_value=1)),
    st.tuples(st.just("junk"), st.binary(max_size=8)),
)


def _pg_expected(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, str):
        kind, text = v.split(":", 1)
        if kind == "date":
            return datetime.date.fromisoformat(text)
        if kind == "ts":
            return datetime.datetime.fromisoformat(text)
        return Decimal(text)
    return v


@given(msgs=st.lists(_pg_msg, min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_bronze_route_equals_typed_decode(spark, msgs):
    from pgcdc_spark.cdc.pgoutput import (
        UNCHANGED_TOAST, decode_pgoutput, decode_pgoutput_generic,
        encode_begin, encode_commit, encode_delete, encode_insert,
        encode_truncate, encode_update, route_table)
    from pyspark.sql.types import (
        StructField, StructType, _parse_datatype_string)

    names = [c[0] for c in _PG_COLS]
    schema = StructType([StructField(n, _parse_datatype_string(t))
                         for n, t, _ in _PG_COLS])

    def wire(tup):
        return [UNCHANGED_TOAST if x == _UNCH else None if x == _NULL
                else x[0] for x in tup]

    def image(tup):
        return {n: None if x in (_NULL, _UNCH) else _pg_expected(x[1])
                for n, x in zip(names, tup)}

    payloads, want = [], []  # want: (lsn, tag, new, old, unchanged, routed)
    for lsn, m in enumerate(msgs, start=1):
        kind = m[0]
        if kind in ("I", "U", "UO", "D"):
            tup = m[1]
            unch = [n for n, x in zip(names, tup) if x == _UNCH]
            if kind == "I":
                buf, row = encode_insert(1, wire(tup)), (
                    "insert", image(tup), None, unch)
            elif kind == "U":
                buf, row = encode_update(1, wire(tup)), (
                    "update", image(tup), None, unch)
            elif kind == "UO":  # REPLICA IDENTITY DEFAULT: key-only old
                key = (tup[0],) + (_NULL,) * (len(names) - 1)
                buf = encode_update(1, wire(tup), old_values=wire(key),
                                    old_kind=b"K")
                row = ("update", image(tup), image(key), unch)
            else:
                buf, row = encode_delete(1, wire(tup)), (
                    "delete", None, image(tup), None)
            routed = True
        elif kind == "cut":  # a strict prefix of an insert is corrupt
            full = encode_insert(1, wire(m[1]))
            buf = full[:1 + m[2] % (len(full) - 1)]
            row, routed = ("_corrupt", None, None, None), len(buf) >= 5
        elif kind == "junk":  # no message kind starts with a NUL byte
            buf, row, routed = b"\x00" + m[1], ("_corrupt", None, None,
                                                 None), False
        else:
            buf, tag = {
                "B": (encode_begin(lsn, 0, 1), "begin"),
                "C": (encode_commit(lsn, lsn, 0), "commit"),
                "T": (encode_truncate([2, 1]), "truncate"),
                "T_other": (encode_truncate([2]), "truncate_other"),
            }[kind]
            row, routed = (tag, None, None, None), False
        payloads.append((lsn, bytearray(buf)))
        want.append((f"0/{lsn:016X}",) + row + (routed,))

    df = spark.createDataFrame(payloads, "lsn long, payload binary")
    rels = {1: names}

    def got(frame):
        def plain(img):
            if img is None:
                return None
            d = img.asDict()
            return {k: bytes(v) if isinstance(v, bytearray) else v
                    for k, v in d.items()}

        return sorted(
            (r["lsn"], r["tag"], plain(r["new"]), plain(r["old"]),
             None if r["unchanged"] is None else list(r["unchanged"]))
            for r in frame.collect()
        )

    direct = decode_pgoutput(df, schema, relations=rels, track_unchanged=True)
    assert got(direct) == sorted(w[:5] for w in want)
    routed = route_table(decode_pgoutput_generic(df, rels), 1, names, schema,
                         track_unchanged=True)
    assert got(routed) == sorted(w[:5] for w in want if w[5])
