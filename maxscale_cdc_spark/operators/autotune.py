"""Recall-governed LSH banding — the round-8 quality-at-scale closure.

The measured problem (llm_lsh_recall_audit, BASELINE.md): the
production 2×4 banding over 8 minhashes misses a growing share of true
near-duplicate pairs as the corpus grows — recall vs the exact
set-similarity join fell 0.980 (sf0.1) → 0.830 (sf1.0).  The
reference's delivery contract makes this worse with scale:
at-least-once replay (client.go:253-287) grows near-dup mass with
corpus size, and a FIXED banding's recall degrades exactly then.

The closure (the str_dedup_horizon_autosized pattern — measure the
knob from data, then run the production op at the measured knob):

1. `llm_banding_recall_curve` — on a deterministic hash sample,
   measure each candidate banding's recall against EXACT ground truth
   (class-level AllPairs/PPJoin prefix join — provably complete, never
   all-pairs) and its candidate-pair cost.  Configs split (a prefix
   of) a K=16 minhash signature: 2×4 (the r8 production prefix), 2×8,
   3×4, 4×3, 4×4, 5×3, 8×2 — the mid-curve points exist to meet the
   floor below 8×2's candidate mass (r8 verdict ask #4).
2. `llm_dedup_near_autotuned` — CHOOSE bi-criteria: the cheapest
   config meeting the 0.95 recall floor WITHIN the verify-cost budget
   (PRODUCTION-space bigram candidates <= 50/doc on the sample),
   degrading to max-recall-within-budget, then cheapest (integer cross-multiplied rules throughout), then
   run the class-collapsed near-dedup over the FULL corpus at the
   chosen config.  Round 9 (`chosen_banding`) propagates the same
   measured config to the whole dedup family: llm_dedup_near, the
   cluster-edge build and its consumers, llm_dedup_incremental's
   signature store, and the streaming near-dup (r8 verdict ask #1/#2).

Exactness discipline (CLAUDE.md rule 3): recall is an integer ratio
(n_caught / n_true), the floor test is pure BIGINT cross-multiply
(20·n_caught >= 19·n_true), the chooser is a total order over integers
in BOTH engines, and the one driver read is a single scalar config row
(the autosize pattern, streaming/ops.py).

Scale shape: everything before the final expansion runs over DISTINCT
shingle-set classes (llm.py's class-collapse rule — duplicate mass
never inflates banding); the sample bounds the tuning stage BY
CONSTRUCTION; ground truth uses prefix filtering (Bayardo et al.
AllPairs + PPJoin's length/positional filters) so the exact join is
candidate-bounded, not quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxscale_cdc_spark.functions.sample import (
    hash_sample,
    sql_hash_sample_expr,
)
from maxscale_cdc_spark.functions.text import (
    band_keys,
    band_pairs,
    minhash_sig,
    set_overlap,
)
from maxscale_cdc_spark.operators import banding
from maxscale_cdc_spark.operators.banding import (
    chooser_prefix_sql,  # noqa: F401 — re-exported for family oracles
)
from maxscale_cdc_spark.operators.llm import (
    _JACCARD_MIN,
    _intra_class_pairs,
    class_band_pairs,
    class_pair_jaccard,
    trigram_sets,
)
from maxscale_cdc_spark.registry import register
from maxscale_cdc_spark.session import memo, stage

# Constants + oracle-SQL builders live in operators/banding.py (a leaf
# module, so llm.py's family oracles can embed the chooser without an
# import cycle); this module keeps the Spark-side measurement lineage
# and the two registered queries.
_K16 = banding.K16
_AT_SAMPLE_PCT = banding.SAMPLE_PCT
_AUTOTUNE_CONFIGS = banding.CONFIGS
_FLOOR_NUM, _FLOOR_DEN = banding.FLOOR_NUM, banding.FLOOR_DEN
_COST_CEIL_MULT = banding.COST_CEIL_MULT
_CAND_BUDGET_PER_DOC = banding.CAND_BUDGET_PER_DOC


# ---------------------------------------------------------------------------
# K=16 trigram class signature — the shared lineage for both queries.
# Same class-collapse structure as llm.shingle_classes (bigram, K=8),
# over the SHARED staged trigram sets.
# ---------------------------------------------------------------------------


def trigram_classes16(
    spark: SparkSession,
    sf_dir: str,
    doc_filter: F.Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(doc_map, classes) over TRIGRAM shingle sets with a K=16 MinHash
    signature.  doc_map: (doc_id, ckey); classes: (ckey, rep, n_docs,
    shs, sz, m0..m15) — one row per distinct set.  The class table is
    checkpoint-staged (16 minhash transforms consumed by every band
    config and both verify sides); the unfiltered lineage is cached per
    (session, sf_dir)."""

    def build():
        base = trigram_sets(spark, sf_dir, doc_filter=doc_filter)
        keyed = base.select(
            "doc_id", "shs", F.md5(F.concat_ws("\x1f", "shs")).alias("ckey")
        )
        doc_map = keyed.select("doc_id", "ckey")
        classes = keyed.groupBy("ckey").agg(
            F.min("doc_id").alias("rep"),
            F.count("*").cast("long").alias("n_docs"),
            F.min_by("shs", "doc_id").alias("shs"),
        )
        classes = classes.select(
            "ckey",
            "rep",
            "n_docs",
            "shs",
            F.size("shs").cast("long").alias("sz"),
            *minhash_sig("shs", _K16),
        )
        # Filtered (per-query) chains materialize EAGERLY: they are not
        # family-cached, and a lazy checkpoint here is consumed by many
        # CONCURRENT AQE query stages (truth prefix join + one band join
        # per chooser config), which then race to materialize the same
        # parent — measured r15 on llm_dedup_containment_pairwise as a
        # convoy of 16-task stages blocked with runTime >> cpuTime and
        # 6.8-19.7 s attempt swings; eager build serializes the staged
        # table once (~2 s) and the consumers read cached blocks.  The
        # unfiltered family chain stays lazy (first consumer pays under
        # BENCH_COLD attribution, working rule 6).
        classes = stage(classes, eager=doc_filter is not None)
        return doc_map, classes

    if doc_filter is None:
        return memo(spark, ("trigram_classes16", sf_dir), build, cold=True)
    return build()


def _class_exact_pairs(classes: DataFrame) -> DataFrame:
    """EXACT ground truth: all cross-class pairs (ckey_a, ckey_b;
    rep_a < rep_b) with trigram Jaccard >= 0.5, via prefix filtering
    over DISTINCT classes (the llm_dedup_jaccard_prefix machinery at
    class level — completeness lemma identical; the sampled-curve
    oracle is brute-force all-pairs, so a green row proves
    completeness of this join on real data)."""
    sh = classes.select("ckey", "rep", F.explode("shs").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    toks = (
        sh.join(dfreq, "sh")
        .groupBy("ckey", "rep")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("ts"),
            F.count("*").alias("sz"),
        )
    )
    pref = toks.select(
        "ckey",
        "rep",
        "sz",
        F.expr("slice(ts, 1, sz - div(sz + 1, 2) + 1)").alias("pref"),
    )
    expl = pref.select(
        "ckey", "rep", "sz", F.posexplode("pref").alias("pos0", "p")
    ).select(
        "ckey",
        "rep",
        "sz",
        (F.col("pos0") + 1).alias("pos"),
        F.col("p.sh").alias("sh"),
    )
    a, b = expl.alias("a"), expl.alias("b")
    length_ok = (F.col("a.sz") * 2 >= F.col("b.sz")) & (
        F.col("b.sz") * 2 >= F.col("a.sz")
    )
    overlap_ub = (
        F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos"))
        + 1
    )
    alpha = F.expr("div(a.sz + b.sz + 2, 3)")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.rep") < F.col("b.rep"))
            & length_ok
            & (overlap_ub >= alpha),
        )
        .select(F.col("a.ckey").alias("ckey_a"), F.col("b.ckey").alias("ckey_b"))
        .distinct()
    )
    ver = set_overlap(cand, classes, "ckey", "ckey_a", "ckey_b")
    jac = F.col("n_common").cast("double") / (F.col("sz_sum") - F.col("n_common"))
    return ver.filter(jac >= _JACCARD_MIN).select("ckey_a", "ckey_b")


# Corpus-size-capped tuning-sample percentage (banding.CAP_DOCS): the
# ONE extra scalar read the estimator needs to stay corpus-size-flat
# (the cut-point-collect precedent).  Identical to the old fixed 40%
# at every oracle-checked scale (n ≤ 50k ⇒ pct = 40).
def tuning_sample_pct(spark: SparkSession, sf_dir: str) -> int:
    def build():
        from maxscale_cdc_spark.tables import table

        n = table(spark, sf_dir, "documents").count()
        return min(
            banding.SAMPLE_PCT, max(1, (100 * banding.CAP_DOCS + n - 1) // n)
        )

    return memo(spark, ("tuning_sample_pct", sf_dir), build, cold=True)


def _banding_curve_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-config recall/cost table on the deterministic hash sample:
    (bands, rows_per_band, k_hashes, n_true, n_caught, n_candidates,
    recall, meets_floor).  Counts are CROSS-CLASS pair counts — the
    honest banding-quality basis (intra-class pairs collide in every
    config with Jaccard exactly 1, so including them only inflates
    recall).  Staged + cached: both registered queries consume it in
    one session."""

    def build():
        _, classes = trigram_classes16(
            spark,
            sf_dir,
            doc_filter=hash_sample("doc_id", tuning_sample_pct(spark, sf_dir)),
        )
        truth = _class_exact_pairs(classes)
        # eager: consumed by one recall join PER CONFIG — concurrent
        # AQE stages raced to materialize it (the r14 convoy, still
        # measured r15 at 8.3-15.1 s attempt swings when lazy)
        truth = stage(truth, eager=True)
        n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
        # PRODUCTION-space (bigram class) lineage on the SAME sampled docs
        # — each config's candidate cost is counted where the dedup family
        # actually bands (the round-9 sf10 finding: trigram-space counts
        # under-priced the bigram verify bill by 1000× at 8×2)
        from maxscale_cdc_spark.operators.llm import shingle_classes

        bdoc_map, bclasses = shingle_classes(
            spark,
            sf_dir,
            doc_filter=hash_sample("doc_id", tuning_sample_pct(spark, sf_dir)),
        )
        n_docs = bdoc_map.agg(F.count("*").cast("long").alias("n_docs"))
        out = None
        for nb, rpb in _AUTOTUNE_CONFIGS:
            cand = class_band_pairs(classes, nb, rpb).select("ckey_a", "ckey_b")
            # consumed twice below (cost count + recall join); eager
            # for the same anti-convoy reason as `truth`
            cand = stage(cand, eager=True)
            counts = cand.agg(
                F.count("*").cast("long").alias("n_candidates")
            ).crossJoin(
                truth.join(cand, ["ckey_a", "ckey_b"]).agg(
                    F.count("*").cast("long").alias("n_caught")
                )
            ).crossJoin(
                class_band_pairs(bclasses, nb, rpb).agg(
                    F.count("*").cast("long").alias("n_cand_prod")
                )
            )
            row = counts.select(
                F.lit(nb).cast("long").alias("bands"),
                F.lit(rpb).cast("long").alias("rows_per_band"),
                F.lit(nb * rpb).cast("long").alias("k_hashes"),
                "n_caught",
                "n_candidates",
                "n_cand_prod",
            )
            out = row if out is None else out.unionByName(row)
        curve = (
            out.crossJoin(F.broadcast(n_true))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "bands",
                "rows_per_band",
                "k_hashes",
                "n_true",
                "n_caught",
                "n_candidates",
                "n_cand_prod",
                "n_docs",
                F.when(
                    F.col("n_true") > 0,
                    F.col("n_caught").cast("double") / F.col("n_true"),
                ).alias("recall"),
                (
                    F.lit(_FLOOR_DEN) * F.col("n_caught")
                    >= F.lit(_FLOOR_NUM) * F.col("n_true")
                ).alias("meets_floor"),
                (
                    F.col("n_cand_prod")
                    <= F.lit(_CAND_BUDGET_PER_DOC) * F.col("n_docs")
                ).alias("within_budget"),
            )
        )
        return stage(curve)

    return memo(spark, ("banding_curve", sf_dir), build, cold=True)


# ---------------------------------------------------------------------------
# Oracle SQL — CTE fragments shared with the whole dedup family via
# operators/banding.py.  Brute-force all-pairs ground truth in the
# oracle (implementation-independent; fine at the driver's sf0.01) vs
# the prefix-filtered join on the Spark side: the green row PROVES
# completeness, the _JP_ORACLE pattern.
# ---------------------------------------------------------------------------

_TRIGRAM_SQL = banding.TRIGRAM_SQL
_MH16_SQL = banding.MH16_SET_SQL
_cand_sql = banding.cand_sql
_sampled_curve_ctes = banding.sampled_curve_ctes
_chosen_cte = banding.chosen_cte


_CURVE_ORACLE = f"""
WITH
{banding.sample_pct_ctes('at')},
  docw AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE {sql_hash_sample_expr('doc_id', 'SELECT pct FROM at_pct')}
  ),
{_TRIGRAM_SQL},
  keyed AS (
    SELECT doc_id, shs, md5(array_to_string(shs, chr(31))) AS ckey FROM tset
  ),
{_sampled_curve_ctes('keyed', 'docw')}
SELECT c.bands, c.rows_per_band, c.k_hashes, nt.n_true, c.n_caught,
       c.n_candidates, c.n_cand_prod, c.n_docs,
       CASE WHEN nt.n_true > 0
            THEN CAST(c.n_caught AS DOUBLE) / nt.n_true END AS recall,
       {_FLOOR_DEN} * c.n_caught >= {_FLOOR_NUM} * nt.n_true AS meets_floor,
       c.n_cand_prod <= {_CAND_BUDGET_PER_DOC} * c.n_docs AS within_budget,
       (SELECT CAST(pct AS BIGINT) FROM at_pct) AS sample_pct
FROM curve c CROSS JOIN nt
"""


@register("llm_banding_recall_curve", _CURVE_ORACLE)
def llm_banding_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost per banding config on the deterministic hash sample
    (see module docstring).  The knob table a 100 TB dedup run prices
    before committing to a banding: unlike llm_lsh_tuning (cost and
    precision only), this one measures RECALL against exact ground
    truth — the quantity llm_lsh_recall_audit showed degrading with
    scale."""
    return _banding_curve_frame(spark, sf_dir).withColumn(
        "sample_pct",
        F.lit(tuning_sample_pct(spark, sf_dir)).cast("long"),
    )


def _autotuned_oracle() -> str:
    fcand_ctes = ",\n".join(
        _cand_sql("fmh", "ckey", "ckey_a", "ckey_b", nb, rpb)
        for nb, rpb in _AUTOTUNE_CONFIGS
    )
    fcand_union = "\nUNION ALL\n".join(
        f"SELECT {nb} AS bands, {rpb} AS rows_per_band, ckey_a, ckey_b "
        f"FROM cand_fmh_{nb}x{rpb}"
        for nb, rpb in _AUTOTUNE_CONFIGS
    )
    return f"""
WITH
{banding.sample_pct_ctes('at')},
  docw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
{_TRIGRAM_SQL},
  keyed AS MATERIALIZED (
    SELECT doc_id, shs, md5(array_to_string(shs, chr(31))) AS ckey FROM tset
  ),
  skeyed AS (SELECT * FROM keyed
             WHERE {sql_hash_sample_expr('doc_id', 'SELECT pct FROM at_pct')}),
  sdocw AS (SELECT * FROM docw
            WHERE {sql_hash_sample_expr('doc_id', 'SELECT pct FROM at_pct')}),
{_sampled_curve_ctes('skeyed', 'sdocw')},
{_chosen_cte()},
  fclasses AS (
    SELECT ckey, min(doc_id) AS rep, arg_min(shs, doc_id) AS shs
    FROM keyed GROUP BY ckey
  ),
  fmh AS MATERIALIZED (
    SELECT ckey, rep, shs, CAST(len(shs) AS BIGINT) AS sz, {_MH16_SQL}
    FROM fclasses
  ),
{fcand_ctes},
  fcand_all AS (
{fcand_union}
  ),
  fcand AS MATERIALIZED (
    SELECT c.ckey_a, c.ckey_b
    FROM fcand_all c JOIN chosen ch
      ON c.bands = ch.bands AND c.rows_per_band = ch.rows_per_band
  ),
  fver AS (
    SELECT f.ckey_a, f.ckey_b,
           CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_common,
           a.sz + b.sz AS sz_sum
    FROM fcand f
    JOIN fmh a ON a.ckey = f.ckey_a
    JOIN fmh b ON b.ckey = f.ckey_b
  ),
  fdup AS (
    SELECT * FROM fver
    WHERE CAST(n_common AS DOUBLE) / (sz_sum - n_common) >= {_JACCARD_MIN}
  ),
  cross_pairs AS (
    SELECT least(x.doc_id, y.doc_id) AS doc_a,
           greatest(x.doc_id, y.doc_id) AS doc_b,
           d.n_common, d.sz_sum
    FROM fdup d
    JOIN keyed x ON x.ckey = d.ckey_a
    JOIN keyed y ON y.ckey = d.ckey_b
  ),
  intra AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(len(x.shs) AS BIGINT) AS n_common,
           CAST(2 * len(x.shs) AS BIGINT) AS sz_sum
    FROM keyed x JOIN keyed y
      ON x.ckey = y.ckey AND x.doc_id < y.doc_id
  ),
  allp AS (
    SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra
  )
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sz_sum - n_common) AS jaccard,
       (SELECT CAST(bands AS BIGINT) FROM chosen) AS chosen_bands,
       (SELECT CAST(rows_per_band AS BIGINT) FROM chosen) AS chosen_rows
FROM allp
"""


# The measured config, read ONCE per (session, sf_dir) — the scalar
# every recall-governed consumer (batch near-dedup, the cluster-edge
# build, the incremental signature store, the streaming near-dup)
# bands at.  ONE driver read (the str_dedup_horizon_autosized
# pattern); the chooser is the same total integer order as the SQL
# `chosen` CTE (_chosen_cte), so both engines pick identically.
def chosen_banding(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    def build():
        curve = _banding_curve_frame(spark, sf_dir)
        meets = F.col("meets_floor")
        budget = F.col("within_budget")
        # degradation ladder mirrors banding.chosen_cte (floor+budget →
        # cheapest; else max recall WITHIN budget; else cheapest) — see
        # the sf10 finding documented there
        pick = (
            curve.orderBy(
                (meets & budget).desc(),
                budget.desc(),
                F.when(meets & budget, F.col("n_cand_prod"))
                .when(budget, -F.col("n_caught"))
                .otherwise(F.col("n_cand_prod"))
                .asc(),
                F.col("bands").asc(),
                F.col("rows_per_band").asc(),
            )
            .select("bands", "rows_per_band")
            .limit(1)
            .collect()[0]
        )
        return (int(pick["bands"]), int(pick["rows_per_band"]))

    return memo(spark, ("chosen_banding", sf_dir), build, cold=True)


@register("llm_dedup_near_autotuned", _autotuned_oracle())
def llm_dedup_near_autotuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup at the RECALL-GOVERNED banding: measure the sampled
    recall curve, choose the cheapest config meeting the 0.95 recall
    floor within the verify-cost budget (degrading to
    cheapest-meeting-floor, then max-recall — a total integer order,
    identical in both engines), run the class-collapsed trigram
    near-dedup over the full corpus at that config.  The one driver
    read is the single chosen-config row (the
    str_dedup_horizon_autosized pattern).  The oracle recomputes the
    whole decision + the dedup in SQL, so the green row certifies the
    CHOICE and the RESULT together."""
    nb, rpb = chosen_banding(spark, sf_dir)
    doc_map, classes = trigram_classes16(spark, sf_dir)
    cpairs = class_band_pairs(classes, nb, rpb)
    ver = class_pair_jaccard(cpairs, classes)
    jac_c = F.col("n_common").cast("double") / (F.col("sz_sum") - F.col("n_common"))
    dup = ver.filter(jac_c >= _JACCARD_MIN)
    ma = doc_map.select(F.col("ckey").alias("ckey_a"), F.col("doc_id").alias("da"))
    mb = doc_map.select(F.col("ckey").alias("ckey_b"), F.col("doc_id").alias("db"))
    cross = (
        dup.join(ma, "ckey_a")
        .join(mb, "ckey_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "n_common",
            "sz_sum",
        )
    )
    intra = _intra_class_pairs(doc_map, classes)
    allp = cross.unionByName(intra)
    jac = F.col("n_common").cast("double") / (F.col("sz_sum") - F.col("n_common"))
    return allp.select(
        "doc_a",
        "doc_b",
        "n_common",
        jac.alias("jaccard"),
        F.lit(nb).cast("long").alias("chosen_bands"),
        F.lit(rpb).cast("long").alias("chosen_rows"),
    )


# ---------------------------------------------------------------------------
# llm_dedup_containment_sampled — sample-bounded CONTAINMENT-truth
# certification of the banding family (r9 verdict ask #3).  The exact
# containment join (llm_dedup_containment) stops being runnable past
# ~sf1.0 (the sf3 probe blew a 9.5-minute budget — trigram prefix
# selectivity saturates, BASELINE.md round 9), which left banding
# recall UNMEASURED against asymmetric truth at scale: a short doc
# mostly contained in a long one has J « 0.5, so symmetric-Jaccard
# audits (llm_lsh_recall_audit) are structurally blind to exactly the
# pairs containment exists to find.  This op measures, on the
# corpus-size-capped deterministic hash sample (banding.CAP_DOCS — the
# r9 rule: an estimator's cost must be corpus-size-flat), the CHOSEN
# banding config's catch rate against class-level containment truth
# (C >= 0.9), split by `jacc_missed`:
#
#   jacc_missed = false → pairs ALSO visible to Jaccard (J >= 0.5):
#     catch rate should track llm_lsh_recall_audit's recall.
#   jacc_missed = true  → containment-ONLY pairs: the measured size of
#     the banding family's structural blind spot — the number that
#     decides whether a production pipeline needs a containment
#     sweeper stage in addition to LSH.
#
# Shingle space follows the registered recall audit's convention
# (trigram — the space where the truth lives); counts are CROSS-CLASS
# doc pairs reconstructed algebraically (n_a·n_b per class pair —
# intra-class pairs have containment exactly 1.0 and collide in every
# band, so including them would only inflate the rate; the
# _banding_curve_frame honesty rule).  Spark generates truth with the
# class-level small-side prefix join (complete by the pigeonhole lemma
# — llm_dedup_containment's argument one level up); the ORACLE uses
# the brute-force all-pairs class join, so the green row re-proves
# completeness on every certified corpus.
#
# Scale: every stage downstream of the sample predicate is bounded by
# the ~CAP_DOCS-doc sample BY CONSTRUCTION — the estimator stays flat
# from sf0.001 to sf10 (measured in BASELINE.md round 10).
# ---------------------------------------------------------------------------


def _containment_sampled_oracle() -> str:
    scand_chosen = """  scand_chosen AS MATERIALIZED (
    SELECT s.ckey_a, s.ckey_b FROM scand s
    JOIN chosen ch ON s.bands = ch.bands AND s.rows_per_band = ch.rows_per_band
  )"""
    return f"""
WITH {banding.chooser_prefix_sql()},
{scand_chosen},
  cnt AS (SELECT ckey, CAST(count(*) AS BIGINT) AS n_docs
          FROM at_keyed GROUP BY ckey),
  ctruth AS MATERIALIZED (
    SELECT CASE WHEN a.rep < b.rep THEN a.ckey ELSE b.ckey END AS ckey_a,
           CASE WHEN a.rep < b.rep THEN b.ckey ELSE a.ckey END AS ckey_b,
           a.ckey AS ckey_small, b.ckey AS ckey_big,
           CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_common,
           a.sz AS sz_small, a.sz + b.sz AS sz_sum
    FROM smh a JOIN smh b
      ON (a.sz < b.sz) OR (a.sz = b.sz AND a.ckey < b.ckey)
    WHERE 10 * len(list_intersect(a.shs, b.shs)) >= 9 * a.sz
  ),
  pairs AS (
    SELECT (3 * t.n_common < t.sz_sum) AS jacc_missed,
           ca.n_docs * cb.n_docs AS m,
           (c.ckey_a IS NOT NULL) AS caught
    FROM ctruth t
    JOIN cnt ca ON ca.ckey = t.ckey_small
    JOIN cnt cb ON cb.ckey = t.ckey_big
    LEFT JOIN scand_chosen c
      ON c.ckey_a = t.ckey_a AND c.ckey_b = t.ckey_b
  ),
  agg AS (
    SELECT jacc_missed,
           CAST(sum(m) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN caught THEN m ELSE 0 END), 0) AS BIGINT)
             AS n_caught
    FROM pairs GROUP BY jacc_missed
  )
SELECT jacc_missed, n_pairs, n_caught,
       CAST(n_caught AS DOUBLE) / n_pairs AS catch_rate,
       (SELECT CAST(bands AS BIGINT) FROM chosen) AS chosen_bands,
       (SELECT CAST(rows_per_band AS BIGINT) FROM chosen) AS chosen_rows,
       (SELECT CAST(pct AS BIGINT) FROM at_pct) AS sample_pct
FROM agg
"""


@register("llm_dedup_containment_sampled", _containment_sampled_oracle())
def llm_dedup_containment_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chosen-banding catch rate against class-level containment truth
    (C >= 0.9) on the capped deterministic hash sample, split by
    whether symmetric Jaccard could also see the pair (see block
    comment).  Truth via the class-level small-side prefix join
    (pigeonhole-complete); oracle truth is brute-force all-pairs."""
    pct = tuning_sample_pct(spark, sf_dir)
    nb, rpb = chosen_banding(spark, sf_dir)
    _, classes = trigram_classes16(
        spark, sf_dir, doc_filter=hash_sample("doc_id", pct)
    )
    # class-level containment truth: small-side rare-first prefix vs
    # the full big-side token index (llm_dedup_containment one level up)
    sh = classes.select("ckey", "sz", F.explode("shs").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    toks = (
        sh.join(dfreq, "sh")
        .groupBy("ckey")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("ts"),
            F.count("*").alias("sz"),
        )
    )
    pref = toks.select(
        "ckey",
        "sz",
        F.expr("slice(ts, 1, sz - div(9 * sz + 9, 10) + 1)").alias("pref"),
    )
    small = pref.select("ckey", "sz", F.explode("pref").alias("p")).select(
        "ckey", "sz", F.col("p.sh").alias("sh")
    )
    a = small.alias("a")
    b = sh.alias("b")
    role_ok = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz")) & (F.col("a.ckey") < F.col("b.ckey"))
    )
    cpairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & role_ok)
        .select(
            F.col("a.ckey").alias("ckey_small"), F.col("b.ckey").alias("ckey_big")
        )
        .distinct()
    )
    meta = classes.select("ckey", "rep", "n_docs", "shs", "sz")
    ms = meta.select(
        F.col("ckey").alias("ckey_small"),
        F.col("rep").alias("rep_s"),
        F.col("n_docs").alias("nd_s"),
        F.col("shs").alias("shs_s"),
        F.col("sz").alias("sz_s"),
    )
    mb = meta.select(
        F.col("ckey").alias("ckey_big"),
        F.col("rep").alias("rep_b"),
        F.col("n_docs").alias("nd_b"),
        F.col("shs").alias("shs_b"),
        F.col("sz").alias("sz_b"),
    )
    truth = (
        cpairs.join(ms, "ckey_small")
        .join(mb, "ckey_big")
        .select(
            "ckey_small",
            "ckey_big",
            "rep_s",
            "rep_b",
            "nd_s",
            "nd_b",
            F.size(F.array_intersect("shs_s", "shs_b")).cast("long").alias("n_common"),
            F.col("sz_s").alias("sz_small"),
            (F.col("sz_s") + F.col("sz_b")).cast("long").alias("sz_sum"),
        )
        .filter(10 * F.col("n_common") >= 9 * F.col("sz_small"))
        # canonicalize to the banding candidates' rep order
        .select(
            F.when(F.col("rep_s") < F.col("rep_b"), F.col("ckey_small"))
            .otherwise(F.col("ckey_big"))
            .alias("ckey_a"),
            F.when(F.col("rep_s") < F.col("rep_b"), F.col("ckey_big"))
            .otherwise(F.col("ckey_small"))
            .alias("ckey_b"),
            (3 * F.col("n_common") < F.col("sz_sum")).alias("jacc_missed"),
            (F.col("nd_s") * F.col("nd_b")).cast("long").alias("m"),
        )
    )
    cand = class_band_pairs(classes, nb, rpb).select("ckey_a", "ckey_b")
    agg = (
        truth.join(cand.withColumn("hit", F.lit(True)), ["ckey_a", "ckey_b"], "left")
        .groupBy("jacc_missed")
        .agg(
            F.sum("m").cast("long").alias("n_pairs"),
            F.coalesce(
                F.sum(F.when(F.col("hit"), F.col("m")).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_caught"),
        )
    )
    return agg.select(
        "jacc_missed",
        "n_pairs",
        "n_caught",
        (F.col("n_caught").cast("double") / F.col("n_pairs")).alias("catch_rate"),
        F.lit(nb).cast("long").alias("chosen_bands"),
        F.lit(rpb).cast("long").alias("chosen_rows"),
        F.lit(pct).cast("long").alias("sample_pct"),
    )


# ---------------------------------------------------------------------------
# llm_dedup_containment_pairwise — PAIR-TARGETED sampling for the
# containment blind-spot table (VERDICT r11 ask #4).  The endpoint
# hash sample keeps a cross-doc pair only when BOTH endpoints survive
# — expected in-sample pairs fall as pct², which starved the
# catch-rate denominator at scale (BASELINE r11: 1,337 → 279
# jacc_missed pairs from sf1.0 → sf10 under the 20k-doc cap).  This
# op stratifies the SAME capped tuning sample by the PAIR KEY — the
# duplication-cluster identity `doc_id % 10^8` (the derived corpora's
# copy-shift unit, tools/gen_sf1x.py; on driver corpora ids are < 10^8
# so it degenerates to the plain doc sample) — so a snippet and its
# source enter or leave the sample TOGETHER and the denominator falls
# as pct.  In production the stratification key is whatever cheap
# surrogate clusters duplicates (URL host, feed id, source shard);
# the machinery is key-agnostic (functions/sample.py over any
# expression).
#
# Second difference from llm_dedup_containment_sampled: the catch
# rate is measured at EVERY chooser config (banding.CONFIGS), not
# just the chosen one — the blind-spot claim is "banding cannot see
# containment-only pairs at ANY config", and this table states it
# per config over a stable denominator without coupling to the
# endpoint-sampled chooser's pick.  Truth/candidates/counts follow
# the sampled op exactly (class-level prefix join truth in Spark vs
# brute-force all-pairs truth in the oracle — the green row re-proves
# pigeonhole completeness; cross-class doc-pair counts n_a·n_b).
#
# Scale: bounded by the CAP_DOCS sample like the sampled op; the
# oracle embeds the all-pairs truth CTE, so certification runs at
# sf0.001–0.1 only (CLAUDE.md rule 4) and sf1.0+ measures the Spark
# estimator (BASELINE round-13 table).
# ---------------------------------------------------------------------------

_PAIR_KEY_SQL = "doc_id % 100000000"  # gen_sf1x copy-shift unit


def _containment_pairwise_oracle() -> str:
    cfg_values = ", ".join(f"({nb}, {rpb})" for nb, rpb in banding.CONFIGS)
    return f"""
WITH {banding.pair_sampled_prefix_sql(key_expr=_PAIR_KEY_SQL)},
  cnt AS (SELECT ckey, CAST(count(*) AS BIGINT) AS n_docs
          FROM at_keyed GROUP BY ckey),
  ctruth AS MATERIALIZED (
    SELECT CASE WHEN a.rep < b.rep THEN a.ckey ELSE b.ckey END AS ckey_a,
           CASE WHEN a.rep < b.rep THEN b.ckey ELSE a.ckey END AS ckey_b,
           a.ckey AS ckey_small, b.ckey AS ckey_big,
           CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_common,
           a.sz AS sz_small, a.sz + b.sz AS sz_sum
    FROM smh a JOIN smh b
      ON (a.sz < b.sz) OR (a.sz = b.sz AND a.ckey < b.ckey)
    WHERE 10 * len(list_intersect(a.shs, b.shs)) >= 9 * a.sz
  ),
  cfgs AS (SELECT * FROM (VALUES {cfg_values}) v(bands, rows_per_band)),
  pairs AS (
    SELECT cfg.bands, cfg.rows_per_band,
           (3 * t.n_common < t.sz_sum) AS jacc_missed,
           ca.n_docs * cb.n_docs AS m,
           (s.ckey_a IS NOT NULL) AS caught
    FROM ctruth t
    JOIN cnt ca ON ca.ckey = t.ckey_small
    JOIN cnt cb ON cb.ckey = t.ckey_big
    CROSS JOIN cfgs cfg
    LEFT JOIN scand s
      ON s.bands = cfg.bands AND s.rows_per_band = cfg.rows_per_band
     AND s.ckey_a = t.ckey_a AND s.ckey_b = t.ckey_b
  ),
  agg AS (
    SELECT bands, rows_per_band, jacc_missed,
           CAST(sum(m) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN caught THEN m ELSE 0 END), 0) AS BIGINT)
             AS n_caught
    FROM pairs GROUP BY 1, 2, 3
  )
SELECT CAST(bands AS BIGINT) AS bands,
       CAST(rows_per_band AS BIGINT) AS rows_per_band,
       jacc_missed, n_pairs, n_caught,
       CAST(n_caught AS DOUBLE) / n_pairs AS catch_rate,
       (SELECT CAST(pct AS BIGINT) FROM at_pct) AS sample_pct
FROM agg
"""


@register("llm_dedup_containment_pairwise", _containment_pairwise_oracle())
def llm_dedup_containment_pairwise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-config banding catch rate against class-level containment
    truth (C >= 0.9) on the PAIR-KEY-stratified tuning sample: the
    blind-spot table with a denominator that falls as pct, not pct²
    (see block comment)."""
    pct = tuning_sample_pct(spark, sf_dir)
    _, classes = trigram_classes16(
        spark,
        sf_dir,
        doc_filter=hash_sample(F.col("doc_id") % 100000000, pct),
    )
    # class-level containment truth — verbatim the sampled op's shape
    sh = classes.select("ckey", "sz", F.explode("shs").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    toks = (
        sh.join(dfreq, "sh")
        .groupBy("ckey")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("ts"),
            F.count("*").alias("sz"),
        )
    )
    pref = toks.select(
        "ckey",
        "sz",
        F.expr("slice(ts, 1, sz - div(9 * sz + 9, 10) + 1)").alias("pref"),
    )
    small = pref.select("ckey", "sz", F.explode("pref").alias("p")).select(
        "ckey", "sz", F.col("p.sh").alias("sh")
    )
    a = small.alias("a")
    b = sh.alias("b")
    role_ok = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz")) & (F.col("a.ckey") < F.col("b.ckey"))
    )
    cpairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & role_ok)
        .select(
            F.col("a.ckey").alias("ckey_small"), F.col("b.ckey").alias("ckey_big")
        )
        .distinct()
    )
    meta = classes.select("ckey", "rep", "n_docs", "shs", "sz")
    ms = meta.select(
        F.col("ckey").alias("ckey_small"),
        F.col("rep").alias("rep_s"),
        F.col("n_docs").alias("nd_s"),
        F.col("shs").alias("shs_s"),
        F.col("sz").alias("sz_s"),
    )
    mb = meta.select(
        F.col("ckey").alias("ckey_big"),
        F.col("rep").alias("rep_b"),
        F.col("n_docs").alias("nd_b"),
        F.col("shs").alias("shs_b"),
        F.col("sz").alias("sz_b"),
    )
    truth = (
        cpairs.join(ms, "ckey_small")
        .join(mb, "ckey_big")
        .select(
            "ckey_small",
            "ckey_big",
            "rep_s",
            "rep_b",
            "nd_s",
            "nd_b",
            F.size(F.array_intersect("shs_s", "shs_b"))
            .cast("long")
            .alias("n_common"),
            F.col("sz_s").alias("sz_small"),
            (F.col("sz_s") + F.col("sz_b")).cast("long").alias("sz_sum"),
        )
        .filter(10 * F.col("n_common") >= 9 * F.col("sz_small"))
        .select(
            F.when(F.col("rep_s") < F.col("rep_b"), F.col("ckey_small"))
            .otherwise(F.col("ckey_big"))
            .alias("ckey_a"),
            F.when(F.col("rep_s") < F.col("rep_b"), F.col("ckey_big"))
            .otherwise(F.col("ckey_small"))
            .alias("ckey_b"),
            (3 * F.col("n_common") < F.col("sz_sum")).alias("jacc_missed"),
            (F.col("nd_s") * F.col("nd_b")).cast("long").alias("m"),
        )
    )
    cands = None
    for nb, rpb in banding.CONFIGS:
        c = class_band_pairs(classes, nb, rpb).select(
            F.lit(nb).cast("long").alias("bands"),
            F.lit(rpb).cast("long").alias("rows_per_band"),
            "ckey_a",
            "ckey_b",
        )
        cands = c if cands is None else cands.unionByName(c)
    cfgs = spark.createDataFrame(
        [(int(nb), int(rpb)) for nb, rpb in banding.CONFIGS],
        "bands long, rows_per_band long",
    )
    joined = truth.crossJoin(F.broadcast(cfgs)).join(
        cands.withColumn("hit", F.lit(True)),
        ["bands", "rows_per_band", "ckey_a", "ckey_b"],
        "left",
    )
    agg = joined.groupBy("bands", "rows_per_band", "jacc_missed").agg(
        F.sum("m").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("hit"), F.col("m")).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_caught"),
    )
    return agg.select(
        "bands",
        "rows_per_band",
        "jacc_missed",
        "n_pairs",
        "n_caught",
        (F.col("n_caught").cast("double") / F.col("n_pairs")).alias(
            "catch_rate"
        ),
        F.lit(pct).cast("long").alias("sample_pct"),
    )


# ---------------------------------------------------------------------------
# llm_dedup_store_migrate — signature-STORE banding migration (r9
# verdict ask #5).  llm_dedup_incremental's design stores per-class
# K=16 minhash signatures at ingest; through round 8 every store was
# banded at the FIXED legacy 2×4 config, and the chooser now measures
# the config per corpus (sf1.0's 2×4 → 4×3 flip is measured,
# BASELINE.md).  A corpus that grows past a chooser breakpoint
# silently compares new-batch bands against stale-config stored bands
# — this op is the maintenance closure:
#
#   detect   stored config (the legacy 2×4 the pre-propagation stores
#            were written at) vs autotune.chosen_banding's measured
#            config → `config_drifted`.
#   migrate  re-band the store: signatures are K=16, so re-banding is
#            a PROJECTION over stored m0..m15 — no re-shingling, no
#            text scan; `n_store_classes` is the touched row count.
#   certify  batch dedup (new-vs-old + new-vs-new) under the migrated
#            store at the chosen config — the oracle recomputes BOTH
#            configs' pair sets from raw text, so the green row proves
#            re-banded-store dedup == from-scratch dedup exactly.
#   price    `n_gained` / `n_lost` = verified true pairs the chosen
#            config catches that the stale config misses, and vice
#            versa — the measured cost of NOT migrating.
#
# Counts are doc-level pairs reconstructed algebraically from the
# class-collapsed machinery (n_a·n_b; intra-new exact classes add
# their closed form in BOTH configs — identical signatures collide
# under any banding).  `n_pairs_chosen` equals the registered
# llm_dedup_incremental's row count by construction (props test).
# Scale: two band-key projections over the same staged class stores +
# two new-driven bucket joins — the store is never re-shingled.
# ---------------------------------------------------------------------------

_STORE_CFG = (2, 4)  # the pre-propagation fixed config (rounds 1-8)


def _store_migrate_oracle() -> str:
    nb_s, rpb_s = _STORE_CFG
    return f"""
WITH cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
{banding.chooser_prefix_sql()},
  docw2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
  bsets AS (
    SELECT doc_id, list_sort(list_distinct(list_transform(generate_series(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1]))) AS shs
    FROM docw2 WHERE len(w) >= 2
  ),
  mh AS MATERIALIZED (SELECT doc_id, {banding.MH16_SET_SQL} FROM bsets),
  mhs AS (SELECT * FROM mh),
{banding.cand_sql('mhs', 'doc_id', 'doc_a', 'doc_b', nb_s, rpb_s, ord_col='doc_id')},
{banding.chosen_doc_cand_ctes('mh', out_name='cand0')},
  cands AS MATERIALIZED (
    SELECT doc_a, doc_b FROM cand_mhs_{nb_s}x{rpb_s}
    WHERE doc_b > (SELECT c FROM cut)
  ),
  candc AS MATERIALIZED (
    SELECT doc_a, doc_b FROM cand0
    WHERE doc_b > (SELECT c FROM cut)
  ),
  vers AS MATERIALIZED (
    SELECT c.doc_a, c.doc_b FROM cands c
    JOIN bsets sa ON sa.doc_id = c.doc_a
    JOIN bsets sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
          / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
          >= {banding.JACCARD_MIN}
  ),
  verc AS MATERIALIZED (
    SELECT c.doc_a, c.doc_b FROM candc c
    JOIN bsets sa ON sa.doc_id = c.doc_a
    JOIN bsets sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
          / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)))
          >= {banding.JACCARD_MIN}
  ),
  store_n AS (
    SELECT CAST(count(DISTINCT md5(array_to_string(shs, chr(31)))) AS BIGINT)
      AS n_store_classes
    FROM bsets WHERE doc_id <= (SELECT c FROM cut)
  ),
  counts AS (
    SELECT
      CAST((SELECT count(*) FROM vers) AS BIGINT) AS n_pairs_stored,
      CAST((SELECT count(*) FROM verc) AS BIGINT) AS n_pairs_chosen,
      CAST((SELECT count(*) FROM verc v LEFT JOIN cands s USING (doc_a, doc_b)
            WHERE s.doc_a IS NULL) AS BIGINT) AS n_gained,
      CAST((SELECT count(*) FROM vers v LEFT JOIN candc s USING (doc_a, doc_b)
            WHERE s.doc_a IS NULL) AS BIGINT) AS n_lost
  )
SELECT CAST({nb_s} AS BIGINT) AS stored_bands,
       CAST({rpb_s} AS BIGINT) AS stored_rows,
       (SELECT CAST(bands AS BIGINT) FROM chosen) AS chosen_bands,
       (SELECT CAST(rows_per_band AS BIGINT) FROM chosen) AS chosen_rows,
       ((SELECT bands FROM chosen) <> {nb_s}
        OR (SELECT rows_per_band FROM chosen) <> {rpb_s}) AS config_drifted,
       (SELECT n_store_classes FROM store_n) AS n_store_classes,
       c.n_pairs_stored, c.n_pairs_chosen, c.n_gained, c.n_lost
FROM counts c
"""


def _store_migrate_frame(
    spark: SparkSession,
    sf_dir: str,
    stored_cfg: tuple[int, int] | None = None,
) -> DataFrame:
    """The migration decision/certification row.  `stored_cfg`
    overrides the legacy store config — the breakpoint-crossing test
    hook (a store written under ANY config must migrate to the chosen
    one with identical certified output)."""
    from maxscale_cdc_spark.operators.llm import shingle_classes

    nb_s, rpb_s = stored_cfg if stored_cfg is not None else _STORE_CFG
    nb_c, rpb_c = chosen_banding(spark, sf_dir)
    d = _doc_table(spark, sf_dir)
    cut = int(
        d.agg(F.expr("div(max(doc_id) * 4, 5)").alias("c")).collect()[0]["c"]
    )
    old_map, old_classes = shingle_classes(
        spark, sf_dir, doc_filter=F.col("doc_id") <= cut
    )
    new_map, new_classes = shingle_classes(
        spark, sf_dir, doc_filter=F.col("doc_id") > cut
    )

    def banded(classes: DataFrame, side: str, nb: int, rpb: int) -> DataFrame:
        # re-banding IS this projection: band keys derived from the
        # stored m0..m15, never from text
        return band_keys(
            classes, nb, rpb,
            F.concat(F.lit(side), "ckey").alias("skey"), "rep", "n_docs",
        )

    csets = stage(
        old_classes.select(
            F.concat(F.lit("o"), "ckey").alias("skey"), "shs", "sz"
        )
        .unionByName(
            new_classes.select(
                F.concat(F.lit("n"), "ckey").alias("skey"), "shs", "sz"
            )
        )
    )

    def cand_pairs(nb: int, rpb: int, **out: str) -> DataFrame:
        all_bands = banded(old_classes, "o", nb, rpb).unionByName(
            banded(new_classes, "n", nb, rpb)
        )
        return band_pairs(
            all_bands, banded(new_classes, "n", nb, rpb), "rep",
            skey_a="a.skey", skey_b="b.skey", **out,
        )

    def verified_pairs(nb: int, rpb: int) -> DataFrame:
        cpairs = cand_pairs(nb, rpb, n_a="a.n_docs", n_b="b.n_docs")
        npairs = (F.col("n_a") * F.col("n_b")).cast("long").alias("npairs")
        ver = set_overlap(cpairs, csets, "skey", "skey_a", "skey_b", npairs)
        jac = F.col("n_common").cast("double") / (
            F.col("sz_sum") - F.col("n_common")
        )
        return stage(
            ver.filter(jac >= _JACCARD_MIN).select("skey_a", "skey_b", "npairs")
        )

    vs = verified_pairs(nb_s, rpb_s)
    vc = verified_pairs(nb_c, rpb_c)
    # intra-new exact classes: pairs under ANY config (identical sigs)
    intra = new_classes.agg(
        F.coalesce(F.sum(F.expr("div(n_docs * (n_docs - 1), 2)")), F.lit(0))
        .cast("long")
        .alias("n_intra")
    )
    n_store = old_classes.agg(
        F.count("*").cast("long").alias("n_store_classes")
    )
    cnt_s = vs.agg(F.coalesce(F.sum("npairs"), F.lit(0)).cast("long").alias("x"))
    cnt_c = vc.agg(F.coalesce(F.sum("npairs"), F.lit(0)).cast("long").alias("y"))
    gained = (
        vc.join(cand_pairs(nb_s, rpb_s), ["skey_a", "skey_b"], "left_anti")
        .agg(F.coalesce(F.sum("npairs"), F.lit(0)).cast("long").alias("g"))
    )
    lost = (
        vs.join(cand_pairs(nb_c, rpb_c), ["skey_a", "skey_b"], "left_anti")
        .agg(F.coalesce(F.sum("npairs"), F.lit(0)).cast("long").alias("l"))
    )
    return (
        cnt_s.crossJoin(F.broadcast(cnt_c))
        .crossJoin(F.broadcast(gained))
        .crossJoin(F.broadcast(lost))
        .crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(n_store))
        .select(
            F.lit(nb_s).cast("long").alias("stored_bands"),
            F.lit(rpb_s).cast("long").alias("stored_rows"),
            F.lit(nb_c).cast("long").alias("chosen_bands"),
            F.lit(rpb_c).cast("long").alias("chosen_rows"),
            F.lit((nb_c, rpb_c) != (nb_s, rpb_s)).alias("config_drifted"),
            "n_store_classes",
            (F.col("x") + F.col("n_intra")).cast("long").alias("n_pairs_stored"),
            (F.col("y") + F.col("n_intra")).cast("long").alias("n_pairs_chosen"),
            F.col("g").alias("n_gained"),
            F.col("l").alias("n_lost"),
        )
    )


def _doc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_spark.tables import table

    return table(spark, sf_dir, "documents")


@register("llm_dedup_store_migrate", _store_migrate_oracle())
def llm_dedup_store_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-store banding migration: detect stored-vs-chosen
    config drift, re-band the K=16 store by projection, certify the
    migrated batch dedup against the from-scratch oracle, and price
    the stale-config damage (see block comment)."""
    return _store_migrate_frame(spark, sf_dir)
