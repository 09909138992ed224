"""Extended LLM-pipeline operators: product-quantization ANN and
incremental (new-batch-vs-corpus) dedup.

These extend the similarity/dedup families (llm_similarity.py,
llm_dedup.py) with the two remaining shapes a 100 TB training-data
pipeline runs constantly:

- ``emb_pq_adc_topk``: product quantization + asymmetric distance
  computation (ADC) — the memory-bounded ANN serving path (Jegou et al.,
  "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  Vectors are stored as m small codebook ids instead of floats (here
  m=8 codes for 64 dims: 8 bytes/vector instead of 256), and query
  scoring is a lookup-table sum — no float vector is touched at query
  time. Complements the IVF (cell-pruned) and LSH (bucket-pruned)
  variants: PQ prunes MEMORY, they prune CANDIDATES; production systems
  compose them (IVF-PQ).
- ``dedup_incremental_new_docs``: the dedup shape real ingestion runs —
  a NEW batch of documents arrives and must be checked against the
  EXISTING corpus (not all-pairs over everything). New docs gate on
  LSH bucket collisions against corpus docs, candidates verify with
  exact shingle Jaccard, and every new doc gets a keep/drop verdict
  with its best corpus match. Composes the same MinHash machinery as
  dedup_minhash_lsh / dedup_verified_pairs.

Determinism discipline (same as the IVF quantizer): the PQ codebook is
derived by a fixed rule (``vec_id % _PQ_CB_MOD == 1`` donates its
subvectors), not by k-means, so DuckDB can mirror the whole pipeline and
the driver hash-checks it bit-for-bit. Distances use the shared
sequential-fold arithmetic (functions/vectors.py) and the
``nsq(a) + nsq(b) - 2*dot(a,b)`` expansion on BOTH engines, so argmin
comparisons see bit-identical doubles.
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import fan_out, load
from ..functions.vectors import dot_fold_expr
from . import query
from .llm_dedup import (
    _MINHASH_CTES,
    _MINHASH_PAIRS_SELECT,
    minhash_candidate_pairs,
    shingle_sets,
)
from .llm_similarity import _MMR_N_CAND, _mmr_oracle, cent_rule_sql

_DIMS = 64
_N_QUERIES = 8
_TOP_K = 10

# PQ layout: m subquantizers over contiguous 8-dim subvectors.
_PQ_M = 8
_PQ_SUB = _DIMS // _PQ_M
# Codebook donors: every vector with vec_id % _PQ_CB_MOD == 1 AND
# vec_id <= _PQ_CB_MAX_ID contributes its m subvectors as codewords —
# the deterministic stand-in for per-subspace k-means. The id cap makes
# the codebook CONSTANT-SIZE (at most 16 codewords/subspace), which is
# the production PQ shape: codebooks are a fixed k (FAISS: 256) trained
# on a bounded sample, independent of corpus size. Without the cap the
# donor count grew linearly with n and the encode pass (subvectors x
# codewords) was QUADRATIC — measured 90 s at 10x scale before the fix.
# The cap value keeps every donor the driver corpora ever had (max
# donor vec_id at sf0.1 is exactly 1906), so results at sf0.001/0.01/
# 0.1 are bit-identical to previous rounds.
_PQ_CB_MOD = 127
_PQ_CB_MAX_ID = 1906
_PQ_CB_RULE_SQL = f"vec_id % {_PQ_CB_MOD} = 1 AND vec_id <= {_PQ_CB_MAX_ID}"

_PQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
subs AS (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {_PQ_SUB} + 1, (t.s + 1) * {_PQ_SUB}) AS sub
  FROM e, (SELECT UNNEST(range(0, {_PQ_M})) AS s) t
),
cb AS (
  SELECT vec_id AS cid, s, sub AS csub FROM subs WHERE {_PQ_CB_RULE_SQL}
),
dist AS (
  SELECT x.vec_id, x.s, c.cid,
         list_dot_product(x.sub, x.sub) + list_dot_product(c.csub, c.csub)
           - 2 * list_dot_product(x.sub, c.csub) AS d2
  FROM subs x JOIN cb c USING (s)
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
    FROM dist
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS qid, s, cid, d2 FROM dist WHERE vec_id < {_N_QUERIES}
),
adc AS (
  SELECT l.qid, c.vec_id,
         CAST(SUM(CAST(l.d2 AS DECIMAL(28,9))) AS DOUBLE) AS approx_dist2
  FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.cid
  WHERE l.qid <> c.vec_id
  GROUP BY l.qid, c.vec_id
)
SELECT qid, vec_id AS neighbor_id, approx_dist2, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dist2, vec_id) AS rank
  FROM adc
) WHERE rank <= {_TOP_K}
"""


def _sub_d2(a: str, b: str) -> F.Column:
    """Squared L2 between two subvector columns via the norm expansion —
    three shared sequential folds, bit-identical to the oracle's
    list_dot_product expansion (never a fused (x-y)^2 fold, which would
    round differently)."""
    return (
        dot_fold_expr(a, a) + dot_fold_expr(b, b) - 2 * dot_fold_expr(a, b)
    )


def pq_distances(emb: DataFrame, cid_col: str = "cid") -> DataFrame:
    """``(vec_id, s, <cid_col>, d2)`` — every vector's subvector scored
    against every codeword of its subspace.

    Scale shape: the codebook (k*m rows of 8 doubles) broadcasts; this is
    a map-side broadcast join, no shuffle. Shared root of the codes table
    (argmin below), the ADC lookup tables, and the IVF-PQ composition."""
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" s -> slice(CAST(embedding AS ARRAY<DOUBLE>), s * {_PQ_SUB} + 1, {_PQ_SUB}))"
            )
        ).alias("s", "sub"),
    )
    cb = subs.filter(
        (F.col("vec_id") % _PQ_CB_MOD == 1)
        & (F.col("vec_id") <= _PQ_CB_MAX_ID)
    ).select(
        F.col("vec_id").alias(cid_col), "s", F.col("sub").alias("csub")
    )
    # bounded: fixed PQ codebook
    return subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", cid_col, _sub_d2("sub", "csub").alias("d2")
    )


def pq_codes(emb: DataFrame, cid_col: str = "cid") -> DataFrame:
    """Encode every vector as m codebook ids: ``(vec_id, s, <cid_col>)``.

    One aggregate shuffle on (vec_id, s) via min(struct(d2, cid)) —
    argmin with deterministic cid tie-break and map-side partial combine.
    No float vectors survive: downstream stores 8 small ints per vector
    (the 32x memory cut that makes a 100 TB float corpus a ~3 TB serving
    index)."""
    return _pq_codes_from(pq_distances(emb, cid_col), cid_col)


def _pq_codes_from(dist: DataFrame, cid_col: str = "cid") -> DataFrame:
    return (
        dist.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", cid_col)).alias("m"))
        .select("vec_id", "s", F.col(f"m.{cid_col}").alias(cid_col))
    )


def _pq_lut(dist: DataFrame, cid_col: str = "cid") -> DataFrame:
    """Per-query ADC lookup table (broadcast side): the query rows of the
    distance table keyed for the (s, cid) probe join."""
    return dist.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "s", cid_col, "d2"
    )


@query("emb_pq_adc_topk", oracle=_PQ_ORACLE, tags=("llm", "similarity", "pq"))
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k: rank the whole corpus for each query using ONLY the
    stored codes plus a per-query lookup table.

    ADC: lut[q][s][cid] = d2(query subvector s, codeword cid); the
    approximate distance of any stored vector is the sum of its m LUT
    entries. The LUT (queries * m * k rows) broadcasts; scoring joins the
    codes table on (s, cid) — map-side — and reduces with one aggregate
    shuffle on (qid, vec_id). The decimal-cast on the m-term sum keeps
    the ranking key deterministic under Spark's unordered aggregation
    (exact decimal sum, cast back to double — the standard oracle-parity
    discipline)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    dist = pq_distances(emb)
    codes = _pq_codes_from(dist)
    lut = _pq_lut(dist)
    adc = (
        # bounded: per-query PQ lookup table
        codes.join(F.broadcast(lut), ["s", "cid"])
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(F.col("d2").cast("decimal(28,9)")).cast("double").alias("approx_dist2")
        )
    )
    w = Window.partitionBy("qid").orderBy("approx_dist2", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "approx_dist2", "rank")
    )


# --- incremental dedup: new batch vs existing corpus -------------------------
# Split rule (deterministic, oracle-mirrorable): doc_id % 10 == 0 is the
# arriving batch, the rest is the standing corpus. Verdict per new doc:
# near-dup iff its best LSH-candidate corpus match has exact shingle
# Jaccard >= _INC_THRESHOLD.

_INC_THRESHOLD = 0.5

_INC_ORACLE = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_PAIRS_SELECT}),
cross_pairs AS (
  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
         CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS old_id
  FROM pairs
  WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
),
common AS (
  SELECT p.new_id, p.old_id, COUNT(*) AS n_common
  FROM cross_pairs p
  JOIN sh a ON a.doc_id = p.new_id
  JOIN sh b ON b.doc_id = p.old_id AND b.shingle = a.shingle
  GROUP BY p.new_id, p.old_id
),
jac AS (
  SELECT p.new_id, p.old_id,
         CAST(COALESCE(c.n_common, 0) AS DOUBLE)
           / CAST(sa.n + sb.n - COALESCE(c.n_common, 0) AS DOUBLE) AS j
  FROM cross_pairs p
  LEFT JOIN common c ON c.new_id = p.new_id AND c.old_id = p.old_id
  JOIN sizes sa ON sa.doc_id = p.new_id
  JOIN sizes sb ON sb.doc_id = p.old_id
),
best AS (
  SELECT new_id, old_id, j FROM (
    SELECT new_id, old_id, j,
           ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY j DESC, old_id) AS rn
    FROM jac
  ) WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(b.j >= {_INC_THRESHOLD}, FALSE) AS is_dup,
       CASE WHEN b.j >= {_INC_THRESHOLD} THEN b.old_id END AS match_doc_id,
       CASE WHEN b.j >= {_INC_THRESHOLD} THEN b.j END AS match_jaccard
FROM documents d
LEFT JOIN best b ON b.new_id = d.doc_id
WHERE d.doc_id % 10 = 0
"""


@query("dedup_incremental_new_docs", oracle=_INC_ORACLE,
       tags=("llm", "dedup", "lsh", "incremental"))
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop verdict for each arriving doc against the standing corpus.

    Scale shape: candidate pairs come from the SAME bucketed LSH pipeline
    as dedup_minhash_lsh (never new x corpus all-pairs); only pairs that
    cross the batch/corpus boundary survive; exact Jaccard runs on the
    candidate-gated shingle sets (semi-join, so shingle arrays ship only
    for matched docs); the per-new-doc winner is an aggregate argmax
    (max(struct)) — map-side combinable, no window over a skewable
    partition. In production the corpus side's bands/shingles are
    precomputed once and stored (e.g. in the bucketed state store), so an
    arriving batch costs O(batch + collisions), not O(corpus) — exactly
    the CDC-incremental contract of streaming/statestore."""
    (docs,) = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    pairs = minhash_candidate_pairs(docs)
    cross = pairs.filter(
        (F.col("doc_a") % 10 == 0) != (F.col("doc_b") % 10 == 0)
    ).select(
        F.when(F.col("doc_a") % 10 == 0, F.col("doc_a")).otherwise(F.col("doc_b"))
        .alias("new_id"),
        F.when(F.col("doc_a") % 10 == 0, F.col("doc_b")).otherwise(F.col("doc_a"))
        .alias("old_id"),
    )
    cand_ids = (
        cross.select(F.col("new_id").alias("doc_id"))
        .union(cross.select(F.col("old_id").alias("doc_id")))
        .distinct()
    )
    sets = shingle_sets(docs.join(cand_ids, "doc_id", "left_semi"))
    sa = sets.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("shb"))
    common = F.size(F.array_intersect("sha", "shb"))
    jac = common.cast("double") / (
        F.size("sha") + F.size("shb") - common
    ).cast("double")
    best = (
        cross.join(sa, "new_id")
        .join(sb, "old_id")
        .select("new_id", "old_id", jac.alias("j"))
        .groupBy("new_id")
        .agg(F.max(F.struct(F.col("j"), (-F.col("old_id")).alias("no"),
                            F.col("old_id"))).alias("b"))
        .select("new_id", F.col("b.old_id").alias("old_id"), F.col("b.j").alias("j"))
    )
    dup = F.col("j") >= _INC_THRESHOLD
    return (
        docs.filter(is_new)
        .select("doc_id")
        .join(best, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce(dup, F.lit(False)).alias("is_dup"),
            F.when(dup, F.col("old_id")).alias("match_doc_id"),
            F.when(dup, F.col("j")).alias("match_jaccard"),
        )
    )


# --- exact substring (duplicated n-gram span) dedup --------------------------
# The third dedup granularity after document-level (dedup_exact) and
# near-doc-level (MinHash/Jaccard): SUBSTRING-level duplication — which
# token spans of each document also occur verbatim in OTHER documents
# (Lee et al., "Deduplicating Training Data Makes Language Models Better",
# ACL 2022, which used suffix arrays single-node). The distributed
# re-expression: every token k-gram position hashes once; a gram is
# "duplicated" iff it occurs in >= 2 distinct documents; each doc reports
# how many of its gram positions are covered by duplicated grams.

_SPAN_K = 3

_DUP_SPANS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
tot AS (
  SELECT doc_id, GREATEST(len(w) - {_SPAN_K - 1}, 0) AS n_grams FROM tok
),
g AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(w, i, i + {_SPAN_K - 1}), ' ')) AS gh
  FROM tok, UNNEST(range(1, len(w) - {_SPAN_K - 2})) t(i)
),
pg AS (
  SELECT doc_id, gh, COUNT(*) AS n_pos FROM g GROUP BY doc_id, gh
),
gd AS (
  SELECT gh, COUNT(*) AS n_docs FROM pg GROUP BY gh
),
dup AS (
  SELECT p.doc_id, CAST(SUM(p.n_pos) AS BIGINT) AS dup_positions
  FROM pg p JOIN gd ON gd.gh = p.gh AND gd.n_docs >= 2
  GROUP BY p.doc_id
)
SELECT t.doc_id, t.n_grams,
       COALESCE(d.dup_positions, 0) AS dup_positions,
       CASE WHEN t.n_grams > 0
            THEN CAST(COALESCE(d.dup_positions, 0) AS DOUBLE)
                   / CAST(t.n_grams AS DOUBLE)
            ELSE 0.0 END AS dup_frac
FROM tot t LEFT JOIN dup d ON d.doc_id = t.doc_id
"""


@query("dedup_dup_ngram_spans", oracle=_DUP_SPANS_ORACLE,
       tags=("llm", "dedup", "substring"))
def dedup_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring profile: how many of its token
    {k}-gram positions occur verbatim in at least one OTHER document.

    Scale shape: the only data-sized stage streams each gram through one
    md5 (never shuffling text — grams travel as 128-bit hashes). The
    per-(doc, gram) position count reduces map-side before its shuffle;
    the gram->distinct-doc count then aggregates the already-collapsed
    (doc, gram) table, so the second shuffle carries one row per distinct
    gram per doc, not per position. The duplicated-gram join is a hash
    join on the gram hash against the (typically small) n_docs >= 2
    subset. At 100 TB the published refinement is to replace the exact gd
    table with a frequency sketch / Bloom filter broadcast — the
    candidate-gating trick the MinHash pipeline above already uses; the
    exact form here is the oracle-checkable core with the same shuffle
    skeleton."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = fan_out(docs).select("doc_id", F.split("text", " ").alias("w"))
    tot = toks.select(
        "doc_id",
        F.greatest(F.size("w") - (_SPAN_K - 1), F.lit(0)).alias("n_grams"),
    )
    grams = toks.filter(F.size("w") >= _SPAN_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_SPAN_K - 1}),"
                f" i -> concat_ws(' ', slice(w, i, {_SPAN_K})))"
            )
        ).alias("gram"),
    )
    pg = (
        grams.select("doc_id", F.md5(F.col("gram").cast("binary")).alias("gh"))
        .groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("n_pos"))
    )
    gd = pg.groupBy("gh").agg(F.count(F.lit(1)).alias("n_docs"))
    # Both gd (duplicated grams) and dup (docs with dups) are
    # CORPUS-SCALED sides — at a heavy dup rate gd is O(total grams).
    # AQE's runtime estimate happily broadcasts them when the shuffle
    # bytes sit under the threshold, and the in-memory HashedRelation
    # then explodes (measured: ~1 GiB broadcast alloc + driver OOM at
    # the 100x decade, sf10 leg of scripts/scale_curve.py). Pin the
    # scale-safe shape instead: sort-merge on the gram hash / doc key,
    # which reuses gd's aggregation partitioning and never materializes
    # a corpus-sized hash table on one node.
    dup = (
        pg.join(gd.filter(F.col("n_docs") >= 2).hint("merge"), "gh")
        .groupBy("doc_id")
        .agg(F.sum("n_pos").alias("dup_positions"))
    )
    dup_pos = F.coalesce(F.col("dup_positions"), F.lit(0).cast("long"))
    return tot.join(dup.hint("merge"), "doc_id", "left").select(
        "doc_id",
        "n_grams",
        dup_pos.alias("dup_positions"),
        F.when(
            F.col("n_grams") > 0,
            dup_pos.cast("double") / F.col("n_grams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


# --- containment similarity (asymmetric near-superset detection) -------------
# Jaccard misses the quote/inclusion case: a short doc fully contained in
# a long one has tiny |A∩B|/|A∪B| but containment |A∩B|/|A| ≈ 1. The
# standard dedup pass for boilerplate/quotation detection scores BOTH
# directions on the LSH candidate pairs (Broder's containment, the
# motivation for bottom-k sketches).

_CONTAIN_THRESHOLD = 0.8

_CONTAIN_ORACLE = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_PAIRS_SELECT}),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       CAST(COALESCE(c.n_common, 0) AS DOUBLE) / CAST(sa.n AS DOUBLE)
         AS contain_a_in_b,
       CAST(COALESCE(c.n_common, 0) AS DOUBLE) / CAST(sb.n AS DOUBLE)
         AS contain_b_in_a,
       GREATEST(CAST(COALESCE(c.n_common, 0) AS DOUBLE) / CAST(sa.n AS DOUBLE),
                CAST(COALESCE(c.n_common, 0) AS DOUBLE) / CAST(sb.n AS DOUBLE))
         >= {_CONTAIN_THRESHOLD} AS near_superset
FROM pairs p
LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


@query("dedup_containment", oracle=_CONTAIN_ORACLE,
       tags=("llm", "dedup", "containment"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment on LSH candidate pairs.

    Same candidate-gated scale shape as dedup_verified_pairs (pairs are
    LSH-bounded, shingle arrays semi-join to candidates, per-row
    array_intersect); only the scoring differs — |A∩B| normalized by each
    side's own size, so a boilerplate fragment embedded in a larger doc
    is caught even when Jaccard stays tiny."""
    (docs,) = load(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs)
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = shingle_sets(docs.join(cand_ids, "doc_id", "left_semi"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    common = F.size(F.array_intersect("sha", "shb")).cast("double")
    c_ab = common / F.size("sha").cast("double")
    c_ba = common / F.size("shb").cast("double")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
            (F.greatest(c_ab, c_ba) >= _CONTAIN_THRESHOLD).alias("near_superset"),
        )
    )


# --- IVF-PQ: the composed production ANN -------------------------------------
# IVF prunes CANDIDATES (only nprobe cells are scored), PQ prunes MEMORY
# (candidates are scored from 8-byte codes via the ADC lookup table, no
# float vectors touched). Composing them is exactly how production ANN
# services run (FAISS IVFPQ); both component rules (adaptive sqrt(n)
# centroid donors, capped mod-127 codebook donors) are the deterministic
# k-means stand-ins already used by emb_ivf_ann_topk and
# emb_pq_adc_topk, so DuckDB mirrors the whole composition.

def _ivfpq_oracle(cand_join: str = "", top_k: int = _TOP_K,
                  train_where: str = "") -> str:
    """The IVF-PQ reference plan in DuckDB SQL; ``cand_join`` optionally
    narrows the candidate set (filtered ANN: a metadata predicate joined
    into cand, mirroring probe(where=...)'s pre-filter semantics);
    ``top_k`` widens the ADC cut (the re-rank query takes a C-deep
    shortlist instead of the final k); ``train_where`` restricts the
    coarse-quantizer TRAINING SET (the incremental index trains only on
    its base split — the adaptive sqrt(n) modulus must be derived from
    that split's count, exactly as the engine's
    ``ivf_centroids(base_subset)`` does)."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS cid_c, v AS cv FROM e WHERE {cent_rule_sql(train_where)}
),
asg AS (
  SELECT vec_id, cid_c FROM (
    SELECT e.vec_id, c.cid_c,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(e.v, c.cv)
          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        DESC, c.cid_c) AS rn
    FROM e, cent c
  ) WHERE rn = 1
),
probe AS (
  SELECT qid, cid_c FROM (
    SELECT q.vec_id AS qid, c.cid_c,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        list_dot_product(q.v, c.cv)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        DESC, c.cid_c) AS rn
    FROM e q, cent c WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.qid, a.vec_id
  FROM probe p JOIN asg a ON a.cid_c = p.cid_c{cand_join}
  WHERE a.vec_id <> p.qid
),
subs AS (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {_PQ_SUB} + 1, (t.s + 1) * {_PQ_SUB}) AS sub
  FROM e, (SELECT UNNEST(range(0, {_PQ_M})) AS s) t
),
cb AS (
  SELECT vec_id AS cid, s, sub AS csub FROM subs WHERE {_PQ_CB_RULE_SQL}
),
dist AS (
  SELECT x.vec_id, x.s, c.cid,
         list_dot_product(x.sub, x.sub) + list_dot_product(c.csub, c.csub)
           - 2 * list_dot_product(x.sub, c.csub) AS d2
  FROM subs x JOIN cb c USING (s)
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
    FROM dist
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS qid, s, cid, d2 FROM dist WHERE vec_id < {_N_QUERIES}
),
adc AS (
  SELECT cd.qid, cd.vec_id,
         CAST(SUM(CAST(l.d2 AS DECIMAL(28,9))) AS DOUBLE) AS approx_dist2
  FROM cand cd
  JOIN codes c ON c.vec_id = cd.vec_id
  JOIN lut l ON l.qid = cd.qid AND l.s = c.s AND l.cid = c.cid
  GROUP BY cd.qid, cd.vec_id
)
SELECT qid, vec_id AS neighbor_id, approx_dist2, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_dist2, vec_id) AS rank
  FROM adc
) WHERE rank <= {top_k}
"""


_IVFPQ_ORACLE = _ivfpq_oracle()


def _ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ ADC scoring plan, unranked: (qid, vec_id,
    approx_dist2) over the cell-pruned candidate set. Shared by the
    top-k query and the exact re-rank query (which takes a C-deep cut
    of the same scores)."""
    from .llm_similarity import ivf_centroids, nearest_cells

    from ..functions.vectors import norm_fold_expr

    (emb,) = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        norm_fold_expr("embedding", cast=True).alias("n"),
    )
    cent = ivf_centroids(base)
    asg = nearest_cells(base, cent, "vec_id", 1).select("vec_id", "cid")
    probe = nearest_cells(
        base.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "e", "n"),
        cent, "qid", 2,
    ).select("qid", "cid")
    cand = (
        # bounded: queries x nprobe cells
        asg.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    dist = pq_distances(emb, "pqcid")
    codes = _pq_codes_from(dist, "pqcid")
    lut = _pq_lut(dist, "pqcid")
    return (
        cand.join(codes, "vec_id")
        # bounded: per-query PQ lookup table
        .join(F.broadcast(lut), ["qid", "s", "pqcid"])
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(F.col("d2").cast("decimal(28,9)")).cast("double").alias("approx_dist2")
        )
    )


@query("emb_ivf_pq_topk", oracle=_IVFPQ_ORACLE, tags=("llm", "similarity", "ivf", "pq"))
def emb_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k: probe the nprobe nearest cells, score ONLY their
    members, and score them from PQ codes via the broadcast ADC table.

    Scale shape: centroids + probe list + LUT all broadcast (tiny);
    the corpus-sized tables are the cell assignments and the codes —
    both 8-16 bytes/vector, shuffled once on their join keys; the final
    reduce is one aggregate shuffle on (qid, vec_id) over the
    cell-pruned candidate set. This is the end state of the ANN family:
    candidates pruned by IVF, memory pruned by PQ."""
    adc = _ivfpq_adc(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy("approx_dist2", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "approx_dist2", "rank")
    )


# Exact re-rank (FAISS refine / two-stage retrieval): the ADC pass is
# lossy twice over (cell pruning AND 8-bit code quantization), so
# production serving widens the ADC cut to a C-deep shortlist and
# re-scores JUST those C ids against the full float vectors, restoring
# exact ordering among the survivors. C is the quality/cost dial:
# k <= C << corpus.
_RERANK_C = 30

_RERANK_ORACLE = f"""
WITH sl AS (
  SELECT qid, neighbor_id FROM ({_ivfpq_oracle(top_k=_RERANK_C)})
),
ev AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
exact AS (
  SELECT sl.qid, sl.neighbor_id,
    list_dot_product(qv.v, nv.v)
      / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(nv.v, nv.v)))
      AS cosine
  FROM sl
  JOIN ev qv ON qv.vec_id = sl.qid
  JOIN ev nv ON nv.vec_id = sl.neighbor_id
)
SELECT qid, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank
  FROM exact
) WHERE rank <= {_TOP_K}
"""


@query("emb_ann_rerank_exact", oracle=_RERANK_ORACLE,
       tags=("llm", "similarity", "ivf", "pq", "rerank"))
def emb_ann_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: IVF-PQ ADC shortlist (top-C by approximate
    distance), then exact cosine re-rank of ONLY those C candidates
    against the full float vectors — the FAISS ``IndexRefine`` serving
    shape, and the reason PQ's quantization error doesn't cap end
    quality: ADC recalls a superset cheaply, the refine stage restores
    exact order among survivors.

    Scale shape: stage 1 is the codes-only ADC plan (8 bytes/vector
    touched); stage 2 fetches float vectors for C×n_queries ids via an
    equi-join on the shortlist — at 100 TB that is the point-lookup
    into the vector store, never a corpus scan, and the exact-cosine
    fold runs on C rows per query, not the cell population. The cosine
    fold is the same sequential expression as emb_cosine_topk, so the
    doubles are bit-identical to the oracle's list_dot_product."""
    from ..functions.vectors import norm_fold_expr

    # Shortlist from the PERSISTED index artifact (same construction as
    # emb_mmr_rerank_ann): probe(nprobe=2, k=C) is bit-identical to the
    # inline ADC plan's top-C cut — identical ranking expression
    # (approx_dist2, vec_id), same oracle family, driver-hash-checked —
    # and the serving shape: a refine stage re-ranks an index probe, it
    # does not re-derive IVF-PQ from the raw corpus (r13; the inline
    # plan embedded the whole corpus->assignment->codes pipeline here).
    idx = _ann_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    probe_q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    shortlist = idx.probe(spark, probe_q, nprobe=2, k=_RERANK_C).select(
        "qid", F.col("neighbor_id").alias("vec_id")
    )
    vec = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        norm_fold_expr("embedding", cast=True).alias("n"),
    )
    q = vec.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
    )
    exact = (
        # C×n_queries ids broadcast against the corpus vector table: the
        # fetch is a hash probe of each corpus partition, never a shuffle
        # of the vectors (the point-lookup shape of a refine stage)
        # bounded: query-sized ANN shortlist
        F.broadcast(shortlist).join(vec, "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid", "vec_id",
            (dot_fold_expr("qe", "e") / (F.col("qn") * F.col("n"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


# --- MMR over the ANN shortlist: the serving composition ---------------------
# emb_mmr_rerank (queries/llm_similarity.py) is the brute-force twin —
# its corpus x queries relevance pass is what makes the oracle exact.
# THIS is the shape a serving stack runs: IVF-PQ ADC shortlist (top-C
# approximate) -> exact-cosine relevance on just those C ids (the
# emb_ann_rerank_exact refine stage) -> MMR greedy diversity over the
# top _MMR_N_CAND survivors. Relevance cost is O(C x queries) point
# lookups, pairwise-diversity cost O(pool^2) per query — nothing
# corpus-sized after the ADC stage.

_MMR_ANN_CAND_CTES = f"""sl AS (
  SELECT qid, neighbor_id FROM ({_ivfpq_oracle(top_k=_RERANK_C)})
),
relx AS (
  SELECT sl.qid, sl.neighbor_id AS vec_id,
         list_dot_product(qv.e, nv.e)
           / (sqrt(list_dot_product(qv.e, qv.e))
              * sqrt(list_dot_product(nv.e, nv.e))) AS rel
  FROM sl
  JOIN c qv ON qv.vec_id = sl.qid
  JOIN c nv ON nv.vec_id = sl.neighbor_id
),
cand AS (
  SELECT qid, vec_id, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY rel DESC, vec_id) AS rn
    FROM relx
  ) WHERE rn <= {_MMR_N_CAND}
)"""


@query("emb_mmr_rerank_ann", oracle=_mmr_oracle(_MMR_ANN_CAND_CTES),
       tags=("llm", "similarity", "retrieval", "mmr", "ivf", "pq"))
def emb_mmr_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank composed over the IVF-PQ shortlist — the
    production serving pipeline: ADC top-C shortlist from the PERSISTED
    index (probe-from-artifact ≡ the inline plan bit-for-bit — the
    invariant the probe family pins), exact cosine on the C survivors
    (point lookups into the vector store, never a corpus scan), MMR
    greedy over the top candidates via the SAME mmr_greedy unroll as
    the brute-force twin. The oracle nests the IVF-PQ SQL as the
    shortlist CTE, so the driver hash-checks the composition
    end-to-end.

    The shortlist deliberately comes from the index ARTIFACT, not the
    inline ADC plan: the greedy unroll's plan tree embeds the candidate
    subtree once per step leg, and an artifact read keeps that subtree
    a few parquet scans deep (the inline ADC pipeline there sent
    Catalyst analysis time to ~90 s)."""
    from ..functions.vectors import norm_fold_expr
    from .llm_similarity import mmr_greedy

    idx = _ann_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    probe_q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    shortlist = idx.probe(spark, probe_q, nprobe=2, k=_RERANK_C).select(
        "qid", F.col("neighbor_id").alias("vec_id")
    )
    vec = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        norm_fold_expr("embedding", cast=True).alias("n"),
    )
    q = vec.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
    )
    pool = (
        # bounded: query-sized ANN shortlist
        F.broadcast(shortlist).join(vec, "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid", "vec_id", "e", "n",
            (dot_fold_expr("qe", "e") / (F.col("qn") * F.col("n")))
            .alias("rel"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "vec_id")
    # shared(): the greedy unroll references the pool ~3x per step (the
    # pairwise legs + the not-yet-chosen filter), and HERE the pool plan
    # embeds the whole IVF-PQ ADC pipeline — without sharing, every
    # reference replays it (measured ~95 s vs ~2 s at sf0.001). Lazy
    # persist, released by the harness via cache.release_shared().
    from ..cache import shared

    cand = shared(
        pool.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _MMR_N_CAND)
        .drop("rn")
    )
    return mmr_greedy(cand)


# --- probe-from-artifact: the persisted-index serving path -------------------
# Same semantics and oracle as emb_ivf_pq_topk, but the centroids, PQ
# codes, and codebook come from a PERSISTED AnnIndex artifact
# (operators/annindex.py) built once per corpus and reused across probes
# — the missing serving half of the ANN story (VERDICT r5 item 4). The
# index is deterministic (fixed quantizer rules, exact double round-trip,
# decimal ADC sums), so probe-from-artifact is bit-identical to the
# inline plan and shares its DuckDB oracle.

# bump to invalidate cached on-disk indexes
# (v3: idmap; v4: adaptive sqrt(n) centroids + capped PQ codebook)
_ANN_FORMAT = "v4"


def _corpus_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of the embeddings table (file paths +
    sizes + mtimes): folded into the index cache key so a regenerated
    corpus at the same path rebuilds instead of silently serving stale
    neighbors."""
    import hashlib

    p = os.path.join(sf_dir, "embeddings.parquet")
    paths = []
    if os.path.isdir(p):
        for base, _dirs, files in os.walk(p):
            paths.extend(os.path.join(base, f) for f in files)
    elif os.path.exists(p):
        paths = [p]
    h = hashlib.md5(sf_dir.encode())
    for f in sorted(paths):
        st = os.stat(f)
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


_ANN_SESSION_ROOT: str | None = None
_ANN_SESSION_LOCK = threading.Lock()


def _ann_session_root() -> str:
    """One scratch root per PROCESS, removed at exit — the
    ``PGCDC_ANN_CACHE=0`` home: within a session the index still builds
    once and every probe reuses it (the serving semantics the probe
    family declares), but nothing survives the process, so a bench run
    can never inherit an index built by an earlier run (r13 verdict
    item 1 — the ANN twin of bench.py's PGCDC_IVM_CACHE=0). The lazy
    init holds a lock, so concurrent first callers share one root."""
    global _ANN_SESSION_ROOT
    with _ANN_SESSION_LOCK:
        if _ANN_SESSION_ROOT is None:
            import atexit
            import shutil
            import tempfile

            _ANN_SESSION_ROOT = tempfile.mkdtemp(prefix="pgcdc-ann-session-")
            atexit.register(shutil.rmtree, _ANN_SESSION_ROOT, True)
        return _ANN_SESSION_ROOT


def _ann_root(sf_dir: str, kind: str) -> str:
    """Per-user cache root, mode 0700, ownership-verified — the shared
    system temp dir is world-writable, so an unscoped path would let
    another local user pre-create a fingerprint dir and poison cached
    index artifacts (the same hardening as the IVM maintained-state
    cache, queries/ivm_views._maintained_dir).

    ``PGCDC_ANN_CACHE=0`` scopes the artifact to the SESSION instead
    (fresh per-process scratch root, removed at exit): bench.py sets it
    so the measured probes are served by an index the same session
    built in warm-up, never by a cross-run disk cache."""
    import tempfile

    if os.environ.get("PGCDC_ANN_CACHE", "1") == "0":
        return os.path.join(
            _ann_session_root(), f"{kind}-{_corpus_fingerprint(sf_dir)}")
    uid = os.getuid() if hasattr(os, "getuid") else 0
    parent = os.path.join(
        tempfile.gettempdir(), f"pgcdc_spark_ann_{_ANN_FORMAT}_u{uid}")
    os.makedirs(parent, mode=0o700, exist_ok=True)
    st = os.stat(parent)
    if hasattr(os, "getuid") and st.st_uid != uid:
        raise RuntimeError(
            f"ANN index cache root {parent} is owned by uid {st.st_uid}, "
            f"not {uid} — refusing to trust it")
    os.chmod(parent, 0o700)
    return os.path.join(parent, f"{kind}-{_corpus_fingerprint(sf_dir)}")


def _ann_index_for(spark: SparkSession, sf_dir: str):
    """The cached on-disk index for this corpus (build on first touch).
    Keyed by the corpus FINGERPRINT under the system temp root: the
    build is deterministic, and a regenerated corpus at the same path
    gets a fresh key (no stale serving); _ANN_FORMAT guards layout
    changes. Reuse across sessions holds only while ``PGCDC_ANN_CACHE``
    is not ``0``; with ``PGCDC_ANN_CACHE=0`` the root is scoped to this
    process (_ann_session_root), so each session builds its own."""
    from ..operators.annindex import AnnIndex

    idx = AnnIndex(_ann_root(sf_dir, "full"))
    if idx.current_version() is None:
        (emb,) = load(spark, sf_dir, "embeddings")
        # denormalize the metadata column onto the cell rows so filtered
        # probes (emb_ann_index_filtered_probe) push their predicate into
        # the pruned cells scan
        idx.build(emb, label="corpus", attrs=("label",))
    return idx


@query("emb_ann_index_probe", oracle=_IVFPQ_ORACLE,
       tags=("llm", "similarity", "ivf", "pq", "index"))
def emb_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k served from the persisted index artifact: build once
    (cached per corpus), then probe — only the probed cells' partitions
    are read (partition pruning = IVF pruning on disk), floats never
    leave the broadcast LUT. Bit-identical to emb_ivf_pq_topk by
    construction; the driver hash-checks that against the same oracle."""
    idx = _ann_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    return idx.probe(spark, queries, nprobe=2, k=_TOP_K)


# Filtered ANN: real retrieval is vector search AND a metadata predicate
# (per-source, per-date, per-label). Semantics here are PRE-FILTER: the
# predicate restricts the candidate set BEFORE ranking, so the result is
# the true top-k of the filtered corpus slice within the probed cells
# (FAISS IDSelector shape) — a post-filter of an unfiltered top-k would
# return up to k - |filtered-out| survivors and miss passing vectors
# ranked k+1..n. The predicate rides the denormalized `label` attr in the
# cell rows, so it lands inside the pruned `cid=` parquet scan
# (PushedFilters — pinned in tests/test_plans.py), never as a
# post-candidate join back to the corpus.
_ANN_FILTER_LABEL = 3


@query(
    "emb_ann_index_filtered_probe",
    oracle=_ivfpq_oracle(
        "\n  JOIN embeddings em ON em.vec_id = a.vec_id "
        f"AND em.label = {_ANN_FILTER_LABEL}"
    ),
    tags=("llm", "similarity", "ivf", "pq", "index", "filtered"),
)
def emb_ann_index_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k over the `label = 3` slice, served from the persisted
    index with the predicate pushed into the pruned cells read. The
    oracle is the same IVF-PQ rebuild SQL with the predicate joined into
    its candidate set — a green row proves the filtered serving path
    ranks exactly the filtered candidates, bit-for-bit."""
    idx = _ann_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    return idx.probe(
        spark, queries, nprobe=2, k=_TOP_K,
        where=f"label = {_ANN_FILTER_LABEL}",
    )


# --- incremental index maintenance -------------------------------------------
# The corpus is split into a BASE (indexed by the one-time build) and a
# DELTA (applied via AnnIndex.append: frozen quantizer, touched-cell-only
# rewrite). The split keeps every PQ codebook donor (vec_id % 127 == 1,
# all of which sit under the _PQ_CB_MAX_ID cap) in the base — the
# production contract that the quantizer is trained once on the initial
# corpus and additions are encoded against it (FAISS add semantics).
# Since round 10 the coarse-quantizer donor set is ADAPTIVE in the
# TRAINING-SET count (sqrt(|base|) centroids), so the oracle is the
# IVF-PQ SQL with its centroid training scoped to the same base split
# (train_where) — still a true incremental-equals-rebuild proof: the
# rebuild trains on the identical base and must serve identical probes.

_ANN_DELTA_PRED = (
    f"(vec_id % 5 = 2) AND (vec_id % 53 <> 1) AND (vec_id % {_PQ_CB_MOD} <> 1)"
)
# The oracle twin of idx.build(emb.filter(NOT delta))'s training set.
_ANN_BASE_TRAIN_WHERE = f"NOT ({_ANN_DELTA_PRED})"


def _ann_incr_index_for(spark: SparkSession, sf_dir: str):
    from ..operators.annindex import AnnIndex

    idx = AnnIndex(_ann_root(sf_dir, "incr"))
    # gate each STEP on its own applied label, not on "any version
    # committed": a crash between build and append would otherwise leave
    # a base-only index that is served forever (ADVICE r7) — append is
    # label-idempotent, so retrying a half-done bootstrap is safe
    if idx.current_version() is None:
        (emb,) = load(spark, sf_dir, "embeddings")
        # attrs on the incremental index too: appends must carry the
        # metadata column through encode -> touched-cell rewrite, so the
        # filtered probe works against a version-spanning index
        idx.build(
            emb.filter(F.expr(f"NOT ({_ANN_DELTA_PRED})")), label="base",
            attrs=("label",),
        )
    if "delta" not in idx.meta().get("applied", []):
        (emb,) = load(spark, sf_dir, "embeddings")
        idx.append(emb.filter(F.expr(_ANN_DELTA_PRED)), label="delta")
    return idx


@query("emb_ann_index_incremental",
       oracle=_ivfpq_oracle(train_where=_ANN_BASE_TRAIN_WHERE),
       tags=("llm", "similarity", "ivf", "pq", "index", "incremental"))
def emb_ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k served from an INCREMENTALLY maintained index: base
    build + AnnIndex.append of the delta (O(batch + touched cells) —
    untouched cell partitions are inherited by reference, never rewritten;
    pinned byte-identical in tests/test_operators.py). The oracle is the
    rebuild SQL with the quantizer trained on the same base split, so a
    green row proves append converges to the rebuild answer under the
    driver gate."""
    idx = _ann_incr_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    return idx.probe(spark, queries, nprobe=2, k=_TOP_K)


@query(
    "emb_ann_index_filtered_incremental",
    oracle=_ivfpq_oracle(
        "\n  JOIN embeddings em ON em.vec_id = a.vec_id "
        f"AND em.label = {_ANN_FILTER_LABEL}",
        train_where=_ANN_BASE_TRAIN_WHERE,
    ),
    tags=("llm", "similarity", "ivf", "pq", "index", "filtered", "incremental"),
)
def emb_ann_index_filtered_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered probe against the INCREMENTALLY maintained index (r8
    composition): the metadata attr rides build -> append's touched-cell
    rewrite, and the predicate still pushes into the pruned, version-
    spanning cells read. Same filtered-rebuild oracle as the full-index
    variant — a green row proves attrs survive incremental maintenance
    bit-for-bit."""
    idx = _ann_incr_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    return idx.probe(
        spark, queries, nprobe=2, k=_TOP_K,
        where=f"label = {_ANN_FILTER_LABEL}",
    )


# --- SimHash hamming-ball pairing --------------------------------------------
# From signatures to PAIRS: Manku et al. (WWW'07) block decomposition —
# hamming(a, b) <= 3 over 16 bits implies at least one of the four 4-bit
# blocks matches exactly (pigeonhole), so candidate pairs come from
# per-(block, value) buckets and only candidates pay the exact hamming
# check. With production-width 64-bit signatures the bucket key is a
# 16-bit quarter (population n/65536); the shapes are identical.

_HAM_MAX = 3
_HAM_BLOCKS = 4
_HAM_BITS = 4  # bits per block


def _ham_terms(a: str, b: str, nbits: int = 16, idiv: str = "//") -> str:
    # identical integer arithmetic on both engines: no xor/bit_count
    # builtins (DuckDB's and Spark's differ in type behavior) — a sum of
    # per-bit parity mismatches. Integer division spells `//` in DuckDB
    # and `div` in Spark SQL; the operand structure is identical.
    return " + ".join(
        f"((({a} {idiv} {1 << j}) % 2 + ({b} {idiv} {1 << j}) % 2) % 2)"
        for j in range(nbits)
    )


from .llm_dedup import _simhash_ctes  # noqa: E402  (shares the sig CTEs)

_SIMHAM_ORACLE = f"""
WITH {_simhash_ctes()},
blocks AS (
  SELECT doc_id, t.b AS b, (simhash // POWER(2, t.b * {_HAM_BITS})::BIGINT) % {1 << _HAM_BITS} AS bv
  FROM sig, (SELECT UNNEST(range(0, {_HAM_BLOCKS})) AS b) t
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM blocks x JOIN blocks y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({_ham_terms('sa.simhash', 'sb.simhash')} AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE {_ham_terms('sa.simhash', 'sb.simhash')} <= {_HAM_MAX}
"""


@query("dedup_simhash_hamming", oracle=_SIMHAM_ORACLE,
       tags=("llm", "dedup", "simhash"))
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= 3, blocked on exact
    4-bit signature blocks.

    Scale shape: signatures are ONE long per doc; blocking explodes to 4
    rows per doc and buckets on (block, value); the exact hamming check
    is integer arithmetic on the candidate pairs only. (The toy 16-bit
    width makes buckets population n/16 here; production uses 64-bit
    sigs where the same plan buckets at n/65536 — noted so the constant,
    not the shape, is read as the scale limit.)"""
    from .llm_dedup import simhash_signatures

    (docs,) = load(spark, sf_dir, "documents")
    sig = simhash_signatures(docs)
    blocks = sig.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_HAM_BLOCKS - 1}),"
                f" b -> (simhash div CAST(pow(2, b * {_HAM_BITS}) AS BIGINT)) % {1 << _HAM_BITS})"
            )
        ).alias("b", "bv"),
    )
    cand = (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.expr(_ham_terms("ha", "hb", idiv="div")).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= _HAM_MAX)
    )


# --- end-to-end keep/drop decision over near-dup clusters --------------------
# The terminal dedup artifact: per connected component of verified
# near-dups, keep the best document (longest text, tie -> smallest id)
# and mark the rest for dropping — what a training-data pipeline
# actually writes out.

from .llm_dedup import _CC_ORACLE, dedup_cc_clusters  # noqa: E402

_KEEP_BEST_ORACLE = f"""
WITH comp AS (
  SELECT doc_id, cluster_id FROM ({_CC_ORACLE})
),
ranked AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT r.doc_id, r.cluster_id,
       (r.rn = 1) AS keep,
       k.doc_id AS kept_doc_id
FROM ranked r
JOIN (SELECT cluster_id, doc_id FROM ranked WHERE rn = 1) k
  ON k.cluster_id = r.cluster_id
"""


@query("dedup_keep_best", oracle=_KEEP_BEST_ORACLE,
       tags=("llm", "dedup", "clustering"))
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: keep the
    longest doc (tie -> smallest id), map every member to its keeper.

    Composes the iterative CC operator with one join to doc metadata and
    a per-cluster argmax — an AGGREGATE (max_by over (n_chars, -doc_id)),
    not a window (r13): the aggregate gets map-side partial combine (a
    hot cluster collapses to one candidate per input partition before
    the shuffle — the same skew argument as cdc/upsert.latest_state),
    where row_number physically needs every member of a cluster in one
    task. The member->metadata join is shared (persist) because both the
    keeper aggregate and the final mapping consume it; the keeper map is
    one row per cluster (AQE broadcasts it). The keep flag is
    doc_id = kept_doc_id — identical to the old rn = 1 (the argmax is
    unique per cluster). Uses cc_components, not the cluster REPORT
    query, so the member-count aggregate+join the report adds (and this
    query immediately projected away) is gone from the plan."""
    from ..cache import shared
    from .llm_dedup import cc_components

    (docs,) = load(spark, sf_dir, "documents")
    comp = cc_components(spark, sf_dir)
    base = shared(comp.join(docs.select("doc_id", "n_chars"), "doc_id"))
    keepers = base.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
        ).alias("kept_doc_id")
    )
    return (
        base.join(keepers, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("kept_doc_id")).alias("keep"),
            "kept_doc_id",
        )
    )


# --- MinHash Jaccard estimation vs ground truth ------------------------------
# The property the whole LSH stack rests on: P[minhash_p(A) = minhash_p(B)]
# = J(A, B), so the fraction of agreeing permutations estimates Jaccard.
# This query materializes estimate, exact value, and error per candidate
# pair — the quality gauge you run when tuning banding parameters.

from .llm_dedup import _N_PERM, minhash_signatures  # noqa: E402

_EST_ORACLE = f"""
WITH {_MINHASH_CTES},
pairs AS ({_MINHASH_PAIRS_SELECT}),
agree AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_agree
  FROM pairs p
  JOIN mh a ON a.doc_id = p.doc_a
  JOIN mh b ON b.doc_id = p.doc_b AND b.perm = a.perm AND b.h = a.h
  GROUP BY p.doc_a, p.doc_b
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       CAST(COALESCE(g.n_agree, 0) AS DOUBLE) / {_N_PERM} AS jaccard_est,
       CAST(COALESCE(c.n_common, 0) AS DOUBLE)
         / CAST(sa.n + sb.n - COALESCE(c.n_common, 0) AS DOUBLE) AS jaccard_exact,
       ABS(CAST(COALESCE(g.n_agree, 0) AS DOUBLE) / {_N_PERM}
           - CAST(COALESCE(c.n_common, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(c.n_common, 0) AS DOUBLE)) AS abs_err
FROM pairs p
LEFT JOIN agree g ON g.doc_a = p.doc_a AND g.doc_b = p.doc_b
LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


@query("dedup_minhash_estimate", oracle=_EST_ORACLE,
       tags=("llm", "dedup", "minhash"))
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated vs exact Jaccard per LSH candidate pair.

    Signatures are k=8 ints per doc (columns, not rows), so the estimate
    join ships 8 longs per side; the exact value reuses the
    candidate-gated shingle machinery. The agreement count is row-local
    integer comparison after two linear joins — nothing here scales with
    anything but the candidate list."""
    (docs,) = load(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs)
    sig = minhash_signatures(docs)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{p}").alias(f"ha{p}") for p in range(_N_PERM)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{p}").alias(f"hb{p}") for p in range(_N_PERM)],
    )
    n_agree = None
    for p in range(_N_PERM):
        t = F.when(F.col(f"ha{p}") == F.col(f"hb{p}"), 1).otherwise(0)
        n_agree = t if n_agree is None else n_agree + t
    est = n_agree.cast("double") / F.lit(float(_N_PERM))

    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = shingle_sets(docs.join(cand_ids, "doc_id", "left_semi"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    common = F.size(F.array_intersect("sha", "shb")).cast("double")
    exact = common / (
        F.size("sha") + F.size("shb") - F.size(F.array_intersect("sha", "shb"))
    ).cast("double")
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            est.alias("jaccard_est"),
            exact.alias("jaccard_exact"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


# --- end-to-end training-mix pipeline ----------------------------------------
# Operator COMPOSITION under the driver gate (VERDICT r6 item 4): the
# standalone stages — quality scoring (llm_text.docs_quality_score),
# near-dup keep-best (dedup_keep_best above, itself composing the
# iterative CC operator), benchmark decontamination
# (llm_text.docs_decontam_overlap), sequence packing
# (llm_text.docs_pack_sequences' shape), stratified per-source sampling —
# chained into ONE lazy plan producing the packed training mix. The
# oracle nests the SAME component oracles as derived tables and chains
# them with identical set logic, so a hash match proves the composition,
# not just the parts. Scale shape: the gates are semi/anti joins whose
# build sides are doc-id lists (AQE broadcasts them); the only wide ops
# are the ones the components already pay (CC's bounded iteration, the
# per-source pack window, one group-by); sampling is a per-source
# WindowGroupLimit over the tiny packs table.

from .llm_text import (  # noqa: E402
    _DECONTAM_ORACLE,
    _PACK_BUDGET,
    _QUALITY_ORACLE,
    docs_decontam_overlap,
    docs_quality_score,
)

_MIX_QUOTA = 8
_MIX_MIN_QUALITY = 0.6

_TRAINING_MIX_ORACLE = f"""
WITH
q AS (
  SELECT doc_id FROM ({_QUALITY_ORACLE}) WHERE quality_score >= {_MIX_MIN_QUALITY}
),
kb AS (
  SELECT doc_id FROM ({_KEEP_BEST_ORACLE}) WHERE NOT keep
),
cont AS (
  SELECT doc_id FROM ({_DECONTAM_ORACLE}) WHERE contaminated
),
survivors AS (
  SELECT d.source, d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
  FROM documents d
  JOIN q USING (doc_id)
  WHERE d.source <> 'src0'
    AND d.doc_id NOT IN (SELECT doc_id FROM kb)
    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
),
t AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
  FROM survivors
),
packs AS (
  SELECT source,
         CAST((end_off - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
         MIN(doc_id) AS first_doc_id
  FROM t GROUP BY source, pack_id
)
SELECT source, pack_id, n_docs, pack_tokens, first_doc_id, sample_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY md5(pack_id::VARCHAR), pack_id
  ) AS sample_rank
  FROM packs
) WHERE sample_rank <= {_MIX_QUOTA}
"""


@query("training_mix_pipeline", oracle=_TRAINING_MIX_ORACLE,
       tags=("llm", "pipeline", "dedup", "sampling"))
def training_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality filter -> near-dup keep-best -> decontam -> pack ->
    stratified sample, as one composed lazy plan over the SAME component
    code paths the standalone queries run. The benchmark slice (src0)
    and its contaminated overlaps never reach packing; dropped near-dups
    are removed by cluster verdict, not hash equality; packs form over
    exactly the surviving ordered token stream."""
    (docs,) = load(spark, sf_dir, "documents")
    q = (
        docs_quality_score(spark, sf_dir)
        .filter(F.col("quality_score") >= _MIX_MIN_QUALITY)
        .select("doc_id")
    )
    kb = dedup_keep_best(spark, sf_dir).filter(~F.col("keep")).select("doc_id")
    cont = (
        docs_decontam_overlap(spark, sf_dir)
        .filter("contaminated")
        .select("doc_id")
    )
    # The three gate sets are CORPUS-SCALED (quality survivors, dropped
    # near-dups, contaminated docs all grow linearly with the corpus) yet
    # sit under the broadcast threshold at test scale — the r11
    # dup-gram hazard class, caught by the r12 AUDIT_BROADCAST flip
    # (BHJ at sf0.01 -> SMJ at sf0.1). Pin the sort-merge join: all
    # three share the doc_id key, so one exchange+sort of the doc side
    # is reused across the chain.
    survivors = (
        docs.filter(F.col("source") != "src0")
        .join(q.hint("merge"), "doc_id", "left_semi")
        .join(kb.hint("merge"), "doc_id", "left_anti")
        .join(cont.hint("merge"), "doc_id", "left_anti")
        .select(
            "source", "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packs = (
        survivors.withColumn("end_off", F.sum("n_tokens").over(w))
        .withColumn("pack_id", F.expr(f"(end_off - n_tokens) div {_PACK_BUDGET}"))
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )
    ws = Window.partitionBy("source").orderBy(
        F.md5(F.col("pack_id").cast("string").cast("binary")), F.col("pack_id")
    )
    return (
        packs.withColumn("sample_rank", F.row_number().over(ws))
        .filter(F.col("sample_rank") <= _MIX_QUOTA)
        .select("source", "pack_id", "n_docs", "pack_tokens",
                "first_doc_id", "sample_rank")
    )


def _ann_compact_index_for(spark: SparkSession, sf_dir: str):
    from ..operators.annindex import AnnIndex

    idx = AnnIndex(_ann_root(sf_dir, "cmp"))
    # per-step applied-label gates (same crash-resume reasoning as
    # _ann_incr_index_for): an interrupted bootstrap retries exactly the
    # missing steps instead of serving a half-built index forever
    if idx.current_version() is None:
        (emb,) = load(spark, sf_dir, "embeddings")
        idx.build(emb.filter(F.expr(f"NOT ({_ANN_DELTA_PRED})")), label="base")
    if "delta" not in idx.meta().get("applied", []):
        (emb,) = load(spark, sf_dir, "embeddings")
        idx.append(emb.filter(F.expr(_ANN_DELTA_PRED)), label="delta")
    if "fold" not in idx.meta().get("applied", []):
        idx.compact(spark, label="fold")
    return idx


@query("emb_ann_index_compacted",
       oracle=_ivfpq_oracle(train_where=_ANN_BASE_TRAIN_WHERE),
       tags=("llm", "similarity", "ivf", "pq", "index", "compaction"))
def emb_ann_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k served AFTER AnnIndex.compact folded the base+append
    version chain into one self-contained cell layer (codes moved, never
    recomputed). Same full-corpus rebuild oracle as the probe and
    incremental variants: a green row proves build -> append -> compact
    -> probe preserves every code bit-for-bit under the driver gate."""
    idx = _ann_compact_index_for(spark, sf_dir)
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    return idx.probe(spark, queries, nprobe=2, k=_TOP_K)


# --- index integrity / balance stats -----------------------------------------
# Serving-side health check: per-cell member counts read FROM THE INDEX
# ARTIFACT (the invlist lengths every IVF deployment monitors for
# imbalance), hash-checked against the assignment arithmetic recomputed
# from the raw corpus — equality proves the persisted cells hold exactly
# one complete encoding per corpus vector, no drops, no duplicates.

_ANN_STATS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE {cent_rule_sql()}
),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(e.v, c.cv)
          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        DESC, c.cid) AS rn
    FROM e, cent c
  ) WHERE rn = 1
)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
FROM asg GROUP BY cid
"""


@query("emb_ann_index_stats", oracle=_ANN_STATS_ORACLE,
       tags=("llm", "similarity", "ivf", "index", "diagnostics"))
def emb_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invlist lengths from the persisted index: one row per cell with
    its member count, read from the cell partitions through the cellmap
    (each vector stores _PQ_M code rows; s=0 selects one per vector).
    The oracle recomputes the assignment from the corpus — a hash match
    is an index-completeness proof under the driver gate."""
    idx = _ann_index_for(spark, sf_dir)
    m = idx.meta()
    cells = idx._read_cells(spark, m, sorted(int(c) for c in m["cellmap"]))
    return (
        cells.filter(F.col("s") == 0)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


@query("emb_ann_index_idmap_stats", oracle=_ANN_STATS_ORACLE,
       tags=("llm", "similarity", "ivf", "index", "diagnostics"))
def emb_ann_index_idmap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invlist lengths recomputed FROM THE IDMAP (the bucketed vec_id ->
    cid lookup that routes upserts/deletes, new in r8): same oracle as
    emb_ann_index_stats, so a green row is a completeness proof of the
    SECOND table maintenance keeps — every corpus vector present in
    exactly the cell the cells table holds it in. Together the two stats
    queries pin the idmap ≡ cells membership invariant under the driver
    gate."""
    idx = _ann_index_for(spark, sf_dir)
    m = idx.meta()
    imap = idx._read_idmap(spark, m, sorted(int(b) for b in m["idmap"]))
    return imap.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))


# --- hybrid retrieval: reciprocal rank fusion --------------------------------
# Production retrieval fuses a lexical ranking (BM25) with a vector
# ranking (ANN) — reciprocal rank fusion (Cormack et al., SIGIR'09):
# score(d) = sum over systems of 1/(K + rank_s(d)), K=60. Determinism:
# both input rankings are already driver-hash-checked bit-for-bit, ranks
# are integers, and the fused score is ONE addition of two IEEE
# divisions built in the same order on both engines — no decimal staging
# or rounding needed. The fusion itself is a union + two left joins on
# (qid, doc_id): broadcast-sized (queries x k plus the lexical top-k),
# O(1) shuffles regardless of corpus size — fusion cost scales with the
# CANDIDATE LISTS, never the corpus.

_RRF_K = 60


def _rrf_oracle() -> str:
    from .llm_text import _BM25_ORACLE

    return f"""
WITH ann AS (SELECT * FROM ({_ivfpq_oracle()})),
lex AS (SELECT * FROM ({_BM25_ORACLE})),
cand AS (
  SELECT qid, neighbor_id AS doc_id FROM ann
  UNION
  SELECT q.qid, l.doc_id
  FROM (SELECT DISTINCT qid FROM ann) q CROSS JOIN lex l
),
scored AS (
  SELECT c.qid, c.doc_id,
         COALESCE(1.0 / ({_RRF_K} + a.rank), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + l.rank), 0.0) AS rrf
  FROM cand c
  LEFT JOIN ann a ON a.qid = c.qid AND a.neighbor_id = c.doc_id
  LEFT JOIN lex l ON l.doc_id = c.doc_id
)
SELECT qid, doc_id, rrf, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id)
         AS rank
  FROM scored
) WHERE rank <= {_TOP_K}
"""


@query("hybrid_rrf_retrieval", oracle=_rrf_oracle(),
       tags=("llm", "retrieval", "hybrid", "composition"))
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (r8): fuse the IVF-PQ vector ranking with the
    BM25 lexical ranking by reciprocal rank fusion, per query. Composes
    two independently hash-checked registry queries into one lazy plan;
    the oracle embeds both of their SQL mirrors as CTEs plus the fusion
    arithmetic, so the driver verifies the composition end-to-end."""
    from .llm_text import docs_bm25_topk

    # NOT shared()/persisted (r13 measurement): although the fused plan
    # references the ANN ranking three times and the lexical ranking
    # twice, the duplicated subtrees plan into identical exchanges that
    # AQE reuses (ReusedExchange) — persisting them measured SLOWER
    # (3.85 -> 4.85 s median at sf0.1: materialization + cache IO without
    # removing real work), unlike emb_semantic_dedup where the duplicate
    # subplans do not share exchanges.
    # The vector ranking comes from the PERSISTED index artifact
    # (emb_ann_index_probe — bit-identical to emb_ivf_pq_topk by
    # construction, same oracle, driver-hash-checked), not the inline
    # ADC pipeline: this is the serving shape (production hybrid
    # retrieval probes an index, it does not re-derive IVF-PQ from the
    # raw corpus per query), and it keeps each of the three ANN
    # references a few pruned parquet scans deep instead of embedding
    # the whole corpus->assignment->codes pipeline (plan 2223 -> ~600
    # lines; the same adjudication as emb_mmr_rerank_ann's shortlist).
    ann = emb_ann_index_probe(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("a_rank"),
    )
    lex = docs_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("l_rank")
    )
    qids = ann.select("qid").distinct()
    cand = ann.select("qid", "doc_id").union(
        # bounded: BM25 top-k list
        qids.crossJoin(F.broadcast(lex.select("doc_id")))
    ).distinct()
    scored = (
        cand.join(ann, ["qid", "doc_id"], "left")
        .join(F.broadcast(lex), "doc_id", "left")
        .select(
            "qid", "doc_id",
            (
                F.coalesce(1.0 / (_RRF_K + F.col("a_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("l_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("qid", "doc_id", "rrf", "rank")
    )


# --- index time travel: probe the retained PRE-APPEND version -----------------
# The serving-side twin of the state store's read_asof: annindex's GC
# deliberately retains the previous tip's closure, so a probe pinned to
# the base version keeps answering from the PRE-append corpus even
# after the delta commit — the version-pinning story of a staged index
# rollout (serve v_base while v_delta bakes, flip atomically, keep
# v_base as the rollback target). The base version id is resolved from
# the CURRENT tip's manifest (meta()['centroids'] names the quantizer's
# owning version, which is the base build — no directory scraping).
# Oracle: the IVF-PQ plan with candidates restricted to base rows via
# the same cand_join hook the filtered probes use — probing an old
# version IS a candidate-set restriction, the quantizer being frozen
# makes every surviving code bit-identical. A green row proves the
# retained version leaks no delta row and lost no base row.

_ASOF_CAND_JOIN = (
    "\n  JOIN embeddings em ON em.vec_id = a.vec_id "
    f"AND NOT ((em.vec_id % 5 = 2) AND (em.vec_id % 53 <> 1) "
    f"AND (em.vec_id % {_PQ_CB_MOD} <> 1))"
)


@query("emb_ann_index_asof_probe",
       oracle=_ivfpq_oracle(_ASOF_CAND_JOIN,
                            train_where=_ANN_BASE_TRAIN_WHERE),
       tags=("llm", "similarity", "ivf", "pq", "index", "time-travel"))
def emb_ann_index_asof_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe pinned to the retained BASE version of the incrementally
    maintained index, after the delta append committed a newer tip —
    VERSION AS OF for the serving index. Queries are current (full
    corpus); only the INDEXED corpus is the pre-append one."""
    idx = _ann_incr_index_for(spark, sf_dir)
    base_version = idx.meta()["centroids"]  # quantizer owner == base build
    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    return idx.probe(spark, queries, nprobe=2, k=_TOP_K, version=base_version)


# --- filter-funnel attrition report -------------------------------------------
# The operational dashboard of every training-data pipeline: how many
# documents (and tokens) survive each filter stage, in the SAME stage
# order and with the SAME predicates the composed training_mix_pipeline
# applies — benchmark holdout, quality gate, near-dup keep-best,
# decontamination. One corpus pass: the stage flags are cumulative ANDs
# computed per doc, the report is a single aggregate (the oracle spells
# it as five UNION'd aggregates — same values). Scale shape: the flag
# joins are the components' own doc-id-sized build sides; the funnel
# adds one projection and one 1-row aggregate on top.

_FUNNEL_STAGES = ("all", "bench_holdout", "quality", "near_dup", "decontam")

_FUNNEL_ORACLE = f"""
WITH q AS (SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE})),
kb AS (SELECT doc_id, keep FROM ({_KEEP_BEST_ORACLE})),
ct AS (SELECT doc_id, contaminated FROM ({_DECONTAM_ORACLE})),
st AS (
  SELECT d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         TRUE AS s0,
         d.source <> 'src0' AS s1,
         d.source <> 'src0' AND q.quality_score >= {_MIX_MIN_QUALITY} AS s2,
         d.source <> 'src0' AND q.quality_score >= {_MIX_MIN_QUALITY}
           AND kb.keep AS s3,
         d.source <> 'src0' AND q.quality_score >= {_MIX_MIN_QUALITY}
           AND kb.keep AND NOT COALESCE(ct.contaminated, FALSE) AS s4
  FROM documents d
  JOIN q USING (doc_id)
  JOIN kb USING (doc_id)
  LEFT JOIN ct USING (doc_id)
)
{" UNION ALL ".join(
    f"SELECT {i} AS stage, '{name}' AS stage_name,"
    f" CAST(SUM(CASE WHEN s{i} THEN 1 ELSE 0 END) AS BIGINT) AS docs,"
    f" CAST(SUM(CASE WHEN s{i} THEN n_tokens ELSE 0 END) AS BIGINT)"
    f" AS tokens FROM st"
    for i, name in enumerate(_FUNNEL_STAGES))}
ORDER BY stage
"""


@query("docs_filter_funnel", oracle=_FUNNEL_ORACLE,
       tags=("llm", "text", "pipeline", "diagnostics"))
def docs_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage surviving documents and tokens through the training-mix
    filter chain (cumulative: each stage ANDs onto the previous). The
    flags come from the SAME component queries the composed pipeline
    gates on, so this report is the pipeline's attrition ledger — a
    stage whose docs column suddenly collapses is the canary every data
    team watches."""
    (docs,) = load(spark, sf_dir, "documents")
    q = docs_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    kb = dedup_keep_best(spark, sf_dir).select("doc_id", "keep")
    ct = docs_decontam_overlap(spark, sf_dir).select("doc_id", "contaminated")
    s1 = F.col("source") != "src0"
    s2 = s1 & (F.col("quality_score") >= _MIX_MIN_QUALITY)
    s3 = s2 & F.col("keep")
    s4 = s3 & ~F.coalesce(F.col("contaminated"), F.lit(False))
    st = (
        docs.select(
            "doc_id", "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        # same corpus-scaled build sides (and the same merge pins) as
        # training_mix_pipeline's gates — see the comment there
        .join(q.hint("merge"), "doc_id")
        .join(kb.hint("merge"), "doc_id")
        .join(ct.hint("merge"), "doc_id", "left")
        .select(
            "n_tokens", F.lit(True).alias("s0"), s1.alias("s1"),
            s2.alias("s2"), s3.alias("s3"), s4.alias("s4"),
        )
    )
    agg = st.agg(
        *[F.sum(F.when(F.col(f"s{i}"), 1).otherwise(0)).cast("long")
          .alias(f"d{i}") for i in range(len(_FUNNEL_STAGES))],
        *[F.sum(F.when(F.col(f"s{i}"), F.col("n_tokens")).otherwise(0))
          .cast("long").alias(f"t{i}") for i in range(len(_FUNNEL_STAGES))],
    )
    stages = ", ".join(
        f"struct({i} AS stage, '{name}' AS stage_name, d{i} AS docs,"
        f" t{i} AS tokens)"
        for i, name in enumerate(_FUNNEL_STAGES)
    )
    return (
        agg.select(F.explode(F.expr(f"array({stages})")).alias("s"))
        .select("s.stage", "s.stage_name", "s.docs", "s.tokens")
        .orderBy("stage")
    )
