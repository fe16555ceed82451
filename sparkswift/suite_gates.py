"""Self-verifying GATE twins for the rows-only (sketch/ANN/hash)
queries — VERDICT r5 "Next round" #4.

The driver's correctness protocol compares a Spark result against a
DuckDB oracle by row count + schema + value hash; a MinHash signature
or an HLL estimate has no cross-engine twin, so those queries could
only ever record ``no_oracle``. Each gate here restructures the check
so the driver CAN green it: the gate runs the approximate operator
AND its exact in-Spark twin, reduces the comparison to a tiny
deterministic verdict row (recall floor held, subset/superset law
held, estimate inside its error envelope, ...), and pairs it with an
oracle that derives the data-dependent columns (counts) straight from
the parquet tables and states the property columns as TRUE. A
hash-match now means "the property held on this dataset", not merely
"the query ran".

Verdict columns are engineered to be DETERMINISTIC: precision-1
operators (verify steps recompute the exact metric) make subset
checks exact; planted verbatim/near-verbatim twins make recall
checks exact; estimator envelopes use floors with ≥2× margin over
the measured value (floors mirror the pytest assertions, NOTES.md).

Every comparison is a DataFrame join/agg — no collect-and-compare on
the driver — so the gates themselves follow the 100 TB rules: the
verdict row is the ONLY thing that ever leaves the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from sparkswift.localdf import local_df

from sparkswift.scratch import mkscratch
from sparkswift.operators import dedup as dd
from sparkswift.operators import similarity as sim
from sparkswift.operators import text as tx
from sparkswift.operators.text import BPE_TOKEN_RE as _BPE_TOKEN_RE
from sparkswift.sources import load_table
from sparkswift.suite import _REGISTRY, register
from sparkswift.suite_llm import (
    _BENCH_THR,
    _ivf_index_path,
    _perturbed_embeddings,
)
from sparkswift.operators import sampling as sp


def _one_row_join(*dfs: DataFrame) -> DataFrame:
    """Cross-join one-row frames (each side is a single aggregate row —
    the broadcast one-row statistics-join pattern used throughout)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.crossJoin(F.broadcast(d))
    return out


def _set_compare(
    exact: DataFrame, approx: DataFrame, keys: list[str]
) -> DataFrame:
    """One-row frame: n_exact, n_hit (|approx ∩ exact|), n_extra
    (|approx \\ exact|) over the key tuple — ONE full-outer join +
    one aggregate, no driver-side set arithmetic. The single-pass
    shape matters: the old left-join + anti-join pair consumed each
    input subtree twice, re-executing whatever expensive search
    produced it (guide §2.4 — e16's exact brute-force scan ran 2× and
    its IVF search 3× in one 930-line plan). Each key appears exactly
    once per side after the dedup, so the counts are identical."""
    e = exact.select(*keys).dropDuplicates(keys)
    a = approx.select(*keys).dropDuplicates(keys)
    fo = e.withColumn("__e", F.lit(1)).join(
        a.withColumn("__a", F.lit(1)), keys, "full_outer"
    )
    return fo.agg(
        F.coalesce(F.sum("__e"), F.lit(0)).cast("bigint").alias("n_exact"),
        F.coalesce(
            F.sum(F.when(F.col("__a").isNotNull(), F.col("__e"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_hit"),
        F.coalesce(
            F.sum(F.when(F.col("__e").isNull(), F.lit(1))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_extra"),
    )


def _count_sql(inner: str, alias_extra: str) -> str:
    return f"SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, {alias_extra} FROM ({inner}) __g"


# ---------------------------------------------------------------------------
# agg2 — HLL++ approx distinct inside its error envelope. rsd=0.02;
# the gate allows 5× that (HLL++ practical error at this rsd is well
# under 10% — envelope, not a tuning target).
# ---------------------------------------------------------------------------
@register(
    "agg2_gate",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg2_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
    )
    return out.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx") - F.col("exact_parts"))
            <= 0.1 * F.col("exact_parts")
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# agg9 — approx percentile rank-error envelope: for accuracy=10000 the
# returned value's rank error is ≤ n/10000; the gate checks the value
# against the ACTUAL ranks (count of rows <,≤ the value) with a 10×
# slack, which any correct rank-sketch percentile satisfies.
# ---------------------------------------------------------------------------
_AGG9_QS = [0.5, 0.9, 0.99]


@register(
    "agg9_gate",
    """
    SELECT l_returnflag, q AS quantile, TRUE AS rank_ok
    FROM (SELECT DISTINCT l_returnflag FROM lineitem)
    CROSS JOIN (SELECT UNNEST([0.5, 0.9, 0.99]) AS q)
    """,
)
def agg9_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    ap = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", _AGG9_QS, 10_000).alias("qa")
        )
        .select(
            "l_returnflag", F.posexplode("qa").alias("pos", "val")
        )
        .select(
            "l_returnflag",
            F.element_at(
                F.array(*[F.lit(q) for q in _AGG9_QS]), F.col("pos") + 1
            ).alias("quantile"),
            "val",
        )
    )
    j = li.join(F.broadcast(ap), "l_returnflag")
    stats = j.groupBy("l_returnflag", "quantile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("l_extendedprice") <= F.col("val"), 1).otherwise(0)
        ).alias("cnt_le"),
        F.sum(
            F.when(F.col("l_extendedprice") < F.col("val"), 1).otherwise(0)
        ).alias("cnt_lt"),
    )
    slack = F.col("n") * 0.001 + 1
    target = F.col("quantile") * F.col("n")
    return stats.select(
        "l_returnflag",
        "quantile",
        (
            (F.col("cnt_lt") <= target + slack)
            & (F.col("cnt_le") >= target - slack)
        ).alias("rank_ok"),
    )


# ---------------------------------------------------------------------------
# agg11 — sketch-union law + error envelope: the union-of-partials
# estimate must land within 3% of the direct whole-group sketch's
# (identical in sparse mode; union promotion to dense HLL_8 perturbs
# the estimator slightly at larger cardinalities — measured ≤1.1% at
# sf0.01), and within 5% of the exact distinct count.
# ---------------------------------------------------------------------------
@register(
    "agg11_gate",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS union_ok, TRUE AS merge_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg11_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    partials = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    unioned = partials.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union")
    )
    direct = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est_direct"),
        F.countDistinct("o_custkey").cast("bigint").alias("exact_customers"),
    )
    return (
        direct.join(unioned, "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("est_union") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers")
            ).alias("union_ok"),
            (
                F.abs(F.col("est_union") - F.col("est_direct"))
                <= 0.03 * F.col("est_direct")
            ).alias("merge_ok"),
        )
    )


# ---------------------------------------------------------------------------
# d3 — MinHash-LSH vs the exact inverted-index operator: the verify
# step makes emitted pairs a SUBSET of the exact pairs (precision 1,
# checked exactly), and banding at 16×4 gives recall ≈0.99 at j=0.8
# (floor 0.8, mirrors pytest).
# ---------------------------------------------------------------------------
def _pairs_gate(
    exact: DataFrame, approx: DataFrame, floor: float
) -> DataFrame:
    cmp = _set_compare(exact, approx, ["id_a", "id_b"])
    return cmp.select(
        "n_exact",
        (F.col("n_extra") == 0).alias("subset_ok"),
        (F.col("n_hit") >= floor * F.col("n_exact")).alias("recall_ok"),
    )


@register(
    "d3_gate",
    _count_sql(
        # wrapped d2 oracle, resolved at import time (d2 registers first)
        "__D2_ORACLE__",
        "TRUE AS subset_ok, TRUE AS recall_ok",
    ),
)
def d3_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.8)
    approx = dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=3, num_hashes=64, bands=16, verify_threshold=0.8
    )
    return _pairs_gate(exact, approx, 0.8)


# ---------------------------------------------------------------------------
# d4 — SimHash pigeonhole completeness on planted verbatim copies:
# a verbatim copy has Hamming distance 0, and the (max_hamming+1)-block
# pigeonhole candidate generation is COMPLETE for distance ≤
# max_hamming, so every planted pair MUST be emitted — deterministic,
# not probabilistic.
# ---------------------------------------------------------------------------
@register(
    "d4_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, TRUE AS all_planted_found
    FROM documents
    """,
)
def d4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(100000))
    )
    pairs = dd.simhash_pairs(doubled, "text", "doc_id", max_hamming=3)
    planted = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
    )
    found = planted.join(pairs, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_found")
    )
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    return _one_row_join(total, found).select(
        "n_planted", (F.col("n_found") == F.col("n_planted")).alias("all_planted_found")
    )


# ---------------------------------------------------------------------------
# d6 — SRP-LSH embedding near-dup vs the exact blocked-GEMM twin:
# exact-cosine verification ⇒ subset; recall floor 0.9 (pytest).
# ---------------------------------------------------------------------------
@register(
    "d6_gate",
    _count_sql("__NEARDUP_ORACLE__", "TRUE AS subset_ok, TRUE AS recall_ok"),
)
def d6_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    pert = _perturbed_embeddings(spark, sf_dir)
    exact = sim.cosine_neardup_blocked(pert, threshold=0.99)
    approx = sim.cosine_neardup_lsh(pert, threshold=0.99, bits=32, bands=8)
    return _pairs_gate(exact, approx, 0.9)


# ---------------------------------------------------------------------------
# d8 — pipeline survivors must be a SUPERSET of the exact pipeline's
# (MinHash candidates ⊆ exact pairs ⇒ components only split, and the
# min-id survivor of a component stays the min of its sub-component).
# ---------------------------------------------------------------------------
@register(
    "d8_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_survivors, TRUE AS superset_ok
    FROM (__D7_ORACLE__) __g WHERE is_survivor
    """,
)
def d8_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact_pairs = dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.8)
    exact_surv = (
        dd.near_dedup(docs, exact_pairs, "doc_id")
        .filter("is_survivor")
        .select("doc_id")
    )
    lsh_pairs = dd.minhash_lsh_pairs(docs, "text", "doc_id", verify_threshold=0.8)
    lsh_surv = (
        dd.near_dedup(docs, lsh_pairs, "doc_id")
        .filter("is_survivor")
        .select("doc_id")
    )
    missing = exact_surv.join(lsh_surv, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_missing")
    )
    total = exact_surv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_survivors")
    )
    return _one_row_join(total, missing).select(
        "n_exact_survivors", (F.col("n_missing") == 0).alias("superset_ok")
    )


# ---------------------------------------------------------------------------
# d12 — SemDeDup laws: victims are always a subset of the exact
# operator's dominated set (clustering only REMOVES candidate pairs),
# and every planted TRUE near-dup (1e-4 jitter, cos ≈ 1 — the regime
# the operator is FOR; see test_semdedup_planted_twins_all_caught)
# must drop. k-means cannot separate almost-identical points.
# ---------------------------------------------------------------------------
@register(
    "d12_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
           TRUE AS victims_subset_ok, TRUE AS planted_dropped_ok
    FROM embeddings WHERE vec_id % 2 = 0
    """,
)
def d12_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    e = F.col("embedding")
    twins = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1) + F.lit(1e-4)), F.slice(e, 2, 63)
        ).alias("embedding"),
    )
    pert = emb.unionByName(twins)
    out = sim.semdedup(pert, threshold=0.99, n_clusters=16)
    victims = out.filter(~F.col("keep")).select("vec_id")
    exact = sim.cosine_neardup_blocked(pert, threshold=0.99)
    dominated = exact.select(F.col("id_b").alias("vec_id")).distinct()
    bad_victims = victims.join(dominated, "vec_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_bad")
    )
    planted = twins.select("vec_id")
    n_planted = planted.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    planted_kept = planted.join(victims, "vec_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    return _one_row_join(n_planted, bad_victims, planted_kept).select(
        "n_planted",
        (F.col("n_bad") == 0).alias("victims_subset_ok"),
        (F.col("n_kept") == 0).alias("planted_dropped_ok"),
    )


# ---------------------------------------------------------------------------
# d14 — incremental near-dup store: a verbatim re-crawl of a seeded
# doc that SURVIVED batch 1 has the exact shingle set of its stored
# original ⇒ identical MinHash signature ⇒ identical band keys ⇒
# store hit GUARANTEED (deterministic, the operator's contract). The
# law is restricted to survivors because it is structural only for
# them: a seeded doc eliminated via a transitive near-dup chain
# (A~B~C, only C stored, A agrees < sig_threshold with C) leaves no
# stored signature matching A's re-crawl — fixture-dependent, not a
# bug. n_recrawls still counts ALL re-crawls (oracle-checkable).
# ---------------------------------------------------------------------------
@register(
    "d14_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_recrawls, TRUE AS all_recrawls_hit
    FROM documents
    WHERE doc_id <= (SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT)
                     FROM documents)
    """,
)
def d14_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg((F.max("doc_id") / 2).cast("long").alias("m")).collect()[0].m
    store = "nd_gate_" + uuid.uuid4().hex[:12]
    first = docs.filter(F.col("doc_id") <= mid)
    second = docs.filter(F.col("doc_id") > mid)
    seed = dd.neardup_incremental(
        first, store, update_store=True, bucketed=True, num_buckets=16
    )
    # re-crawl ids of seeded docs whose original IS in the store
    stored = seed.filter(F.col("survived") == 1).select(
        (F.col("doc_id") + 100000).alias("doc_id")
    )
    batch2 = second.select("doc_id", "text").unionByName(
        first.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    out = dd.neardup_incremental(
        batch2, store, update_store=False, bucketed=True, num_buckets=16
    )
    spark.sql(f"DROP TABLE IF EXISTS {store}_buckets")
    spark.sql(f"DROP TABLE IF EXISTS {store}_sigs")
    recrawls = out.filter(F.col("doc_id") >= 100000)  # doc_ids start at 0
    n = recrawls.agg(F.count(F.lit(1)).cast("bigint").alias("n_recrawls"))
    # store_hit is an INT flag (0/1), not boolean; law over survivors only
    miss = recrawls.join(stored, "doc_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("store_hit") == 0, 1).otherwise(0)), F.lit(0)
        ).alias("n_miss")
    )
    return _one_row_join(n, miss).select(
        "n_recrawls", (F.col("n_miss") == 0).alias("all_recrawls_hit")
    )


# ---------------------------------------------------------------------------
# d16 — persisted SemDeDup store: a verbatim RE-ADD of a seed vector
# whose original survived the build is assigned to the same frozen
# center (deterministic argmin, the store never re-trains) and scores
# cosine EXACTLY 1 against its stored quantized twin on the shared
# integer grid ⇒ store_hit GUARANTEED. Law restricted to stored
# survivors (structural; a seed eliminated within the build leaves no
# stored vector — same reasoning as d14's). n_readds counts ALL
# re-adds — oracle-checkable. threshold=0.35 matches d12's
# fixture-spectrum tuning so drops genuinely occur in the build.
# ---------------------------------------------------------------------------
@register(
    "d16_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_readds, TRUE AS all_readds_hit
    FROM embeddings WHERE vec_id % 2 = 0
    """,
)
def d16_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    store = "sd_gate_" + uuid.uuid4().hex[:12]
    first = emb.filter(F.col("vec_id") % 2 == 0)
    try:
        seed = sim.semdedup_store_build(
            first, store, threshold=0.35, n_clusters=16
        )
        stored = seed.filter(F.col("keep")).select(
            (F.col("vec_id") + 100000).alias("vec_id")
        )
        readd = first.select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        out = sim.semdedup_add(
            readd, store, threshold=0.35, update_store=False
        )
        n = out.agg(F.count(F.lit(1)).cast("bigint").alias("n_readds"))
        miss = out.join(stored, "vec_id").agg(
            F.coalesce(
                F.sum(F.when(F.col("store_hit") == 0, 1).otherwise(0)),
                F.lit(0),
            ).alias("n_miss")
        )
        return _one_row_join(n, miss).select(
            "n_readds", (F.col("n_miss") == 0).alias("all_readds_hit")
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store}_centers")
        spark.sql(f"DROP TABLE IF EXISTS {store}_vecs")


# ---------------------------------------------------------------------------
# Cosine top-k recall gates — e2 LSH / e3 IVF / e5 PQ / e6 IVFPQ and
# the persisted e4/e7 variants, all against the exact e1 twin computed
# in the same plan. Floors mirror the pytest assertions (NOTES.md
# sweeps): LSH 0.5, IVF 0.8, PQ 0.85, IVFPQ 0.75. The PQ-family
# gates run the documented QUALITY configuration (train_size=2000,
# refine=8; +nprobe=12 for IVFPQ) rather than the bench-speed
# defaults: 12-byte codes lose separation as a uniform-random corpus
# grows (sf0.1 recall at defaults: PQ 0.83, IVFPQ 0.72 — below
# floor), and re-ranking more ADC candidates is exactly the knob the
# operator documents for that; with it the floors hold with margin at
# every fixture scale (sf0.1: PQ 0.927, IVFPQ 0.891 — measured r6).
# ---------------------------------------------------------------------------
_TOPK_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE label = 0
"""


def _topk_gate(
    spark: SparkSession, sf_dir: str, approx: DataFrame, floor: float
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = sim.cosine_topk(emb, queries, k=5)
    cmp = _set_compare(exact, approx, ["query_id", "corpus_id"])
    n_q = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return _one_row_join(n_q, cmp).select(
        "n_queries",
        (F.col("n_hit") >= floor * F.col("n_exact")).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# e14_gate — IVF RANGE search vs the exact e13 twin: the threshold
# filters the EXACT integer cosine of probed candidates, so the
# approximation can only MISS (unprobed lists), never invent —
# subset_ok pins precision 1 as a hard law; recall floor 0.7 (≥2×
# margin under the measured 0.909 at sf0.01 / 1.0 at sf0.001,
# nlist=16 nprobe=8, θ=0.40 — the e13 threshold).
# ---------------------------------------------------------------------------
@register(
    "e14_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS subset_ok, TRUE AS recall_ok
    FROM embeddings WHERE label = 0
    """,
)
def e14_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = sim.cosine_range_search(emb, queries, threshold=0.40)
    approx = sim.cosine_range_search_ivf(
        emb, queries, threshold=0.40, nlist=16, nprobe=8
    )
    cmp = _set_compare(exact, approx, ["query_id", "corpus_id"])
    n_q = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return _one_row_join(n_q, cmp).select(
        "n_queries",
        (F.col("n_extra") == 0).alias("subset_ok"),
        (F.col("n_hit") >= 0.7 * F.col("n_exact")).alias("recall_ok"),
    )


@register("e2_gate", _TOPK_ORACLE)
def e2_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    approx = sim.cosine_topk_lsh(
        emb, k=5, bits=48, bands=12, query_filter=(F.col("label") == 0)
    )
    return _topk_gate(spark, sf_dir, approx, 0.8)


@register("e3_gate", _TOPK_ORACLE)
def e3_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    approx = sim.cosine_topk_ivf(emb, queries, k=5, nlist=16, nprobe=8)
    return _topk_gate(spark, sf_dir, approx, 0.8)


@register("e5_gate", _TOPK_ORACLE)
def e5_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    approx = sim.cosine_topk_pq(emb, queries, k=5, train_size=2000, refine=8)
    return _topk_gate(spark, sf_dir, approx, 0.85)


@register("e6_gate", _TOPK_ORACLE)
def e6_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    approx = sim.cosine_topk_ivfpq(
        emb, queries, k=5, train_size=2000, nprobe=12, refine=8
    )
    return _topk_gate(spark, sf_dir, approx, 0.75)


# ---------------------------------------------------------------------------
# e4/e7 — persisted-index gates: same recall contract as their
# in-session twins, exercised through the on-disk index (build once
# into the params-fingerprinted cache, partition-pruned probe reads).
# ---------------------------------------------------------------------------
@register("e4_gate", _TOPK_ORACLE)
def e4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    idx = _ivf_index_path(sf_dir, "ivf", "nlist16_v1")
    if not os.path.isdir(os.path.join(idx, "corpus")):
        sim.ivf_build(emb, idx, nlist=16)
    approx = sim.ivf_search(spark, idx, queries, k=5, nprobe=8)
    return _topk_gate(spark, sf_dir, approx, 0.8)


@register("e7_gate", _TOPK_ORACLE)
def e7_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    idx = _ivf_index_path(sf_dir, "ivfpq", "nlist16_ts2000_v1")
    if not os.path.isdir(os.path.join(idx, "codes")):
        sim.ivfpq_build(emb, idx, nlist=16, train_size=2000)
    approx = sim.ivfpq_search(spark, idx, queries, emb, k=5, nprobe=12, refine=8)
    return _topk_gate(spark, sf_dir, approx, 0.75)


# ---------------------------------------------------------------------------
# g1 — PageRank invariants: node count matches the graph (DuckDB
# re-derives it from the same join), ranks are a probability
# distribution (Σ=1 within float tolerance, all positive).
# ---------------------------------------------------------------------------
@register(
    "g1_gate",
    """
    WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    nodes AS (SELECT c AS n FROM pairs UNION SELECT s FROM pairs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           TRUE AS sum_ok, TRUE AS all_positive,
           CAST(5 AS INT) AS iters_run
    FROM nodes
    """,
)
def g1_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # tol=1e-12 exercises the convergence-probe path (one L1-delta
    # one-row aggregate per iteration) WITHOUT changing the answer:
    # the delta contracts at ~damping^n from O(1), so after 5
    # iterations it is far above 1e-12 and no early exit can fire —
    # iters_run == max_iter is the deterministic oracle for that.
    stats: dict = {}
    ranks = pagerank(
        edges, max_iter=5, assume_distinct=True, symmetric=True,
        tol=1e-12, stats=stats,
    )
    return ranks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.abs(F.sum("rank") - 1.0) < 1e-9).alias("sum_ok"),
        (F.min("rank") > 0.0).alias("all_positive"),
    ).withColumn("iters_run", F.lit(stats["iters"]).cast("int"))


# ---------------------------------------------------------------------------
# p5 — Bloom decontamination's defining guarantee: ZERO false
# negatives vs the exact broadcast-set operator (every truly
# contaminated doc is flagged; FPs are the tunable trade).
# ---------------------------------------------------------------------------
@register(
    "p5_gate",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_contaminated, TRUE AS fn_zero "
    "FROM (__P3_ORACLE__) __g WHERE contaminated",
)
def p5_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = sp.hash_bucket_hex("doc_id", seed=1)
    bench = docs.filter(bucket < F.lit(_BENCH_THR))
    train = docs.filter(bucket >= F.lit(_BENCH_THR))
    exact = (
        dd.decontaminate(train, bench, "text", "doc_id", k=3)
        .filter("contaminated")
        .select("doc_id")
    )
    bloom = (
        dd.decontaminate_bloom(train, bench, "text", "doc_id", k=3)
        .filter("contaminated")
        .select("doc_id")
    )
    fn = exact.join(bloom, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_fn")
    )
    total = exact.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_contaminated")
    )
    return _one_row_join(total, fn).select(
        "n_exact_contaminated", (F.col("n_fn") == 0).alias("fn_zero")
    )


# ---------------------------------------------------------------------------
# p16 — GK-sketch global bins on a HIGH-CARDINALITY column (near-
# unique values, so tie distortion is nil): bin boundaries monotone by
# construction; populations balanced to sketch accuracy (1e-4·n rank
# error per boundary; gate allows 1%·n + 16).
# ---------------------------------------------------------------------------
@register(
    "p16_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(4 AS BIGINT) AS n_bins, TRUE AS balance_ok
    FROM lineitem
    """,
)
def p16_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = sp.quantile_bins_global(li, "l_extendedprice", 4)
    per_bin = out.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    tot = out.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    verdict = _one_row_join(
        per_bin.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.max("cnt").alias("mx"),
            F.min("cnt").alias("mn"),
        ),
        tot,
    )
    slack = F.col("n_rows") * 0.01 + 16
    quarter = F.col("n_rows") / 4.0
    return verdict.select(
        "n_rows",
        "n_bins",
        (
            (F.col("mx") <= quarter + slack) & (F.col("mn") >= quarter - slack)
        ).alias("balance_ok"),
    )


# ---------------------------------------------------------------------------
# st10 — streaming near-dup ≡ batch twin: the SET of surviving
# signature keys is deterministic regardless of arrival order, so the
# streamed result must equal `select distinct sig_key` over the same
# rows computed in batch.
# ---------------------------------------------------------------------------
@register(
    "st10_gate",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS stream_eq_batch "
    "FROM documents",
)
def st10_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.streaming.ops import (
        run_stream_to_batch,
        stream_neardup,
        table_stream,
    )

    src = table_stream(spark, sf_dir, "documents")
    streamed = run_stream_to_batch(
        stream_neardup(src, "text", k=3, num_hashes=8).select("sig_key"),
        mode="append",
    ).select("sig_key")
    docs = load_table(spark, sf_dir, "documents")
    batch = (
        stream_neardup(docs, "text", k=3, num_hashes=8)
        .select("sig_key")
        .distinct()
    )
    cmp = _set_compare(batch, streamed, ["sig_key"])
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return _one_row_join(n_docs, cmp).select(
        "n_docs",
        (
            (F.col("n_hit") == F.col("n_exact")) & (F.col("n_extra") == 0)
        ).alias("stream_eq_batch"),
    )


# ---------------------------------------------------------------------------
# t16 — trained-BPE laws, checked per document over the whole corpus:
# word-boundary tokenization bounds (n_words ≤ n_bpe_tokens ≤
# non-space chars) and merge monotonicity (more merges never increase
# the token count).
# ---------------------------------------------------------------------------
@register(
    "t16_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS bounds_ok, TRUE AS monotone_ok
    FROM documents
    """,
)
def t16_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = tx.bpe_train(docs, num_merges=100)
    full = tx.bpe_encode_count(docs, merges)
    half = tx.bpe_encode_count(docs, merges[:50]).select(
        F.col("doc_id"), F.col("n_bpe_tokens").alias("n_half")
    )
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace(F.coalesce("text", F.lit("")), r"\s", "")).alias(
            "n_chars"
        ),
    )
    j = full.join(half, "doc_id").join(chars, "doc_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("n_bpe_tokens") < F.col("n_words"))
                        | (F.col("n_bpe_tokens") > F.col("n_chars")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            == 0
        ).alias("bounds_ok"),
        (
            F.coalesce(
                F.sum(
                    F.when(F.col("n_bpe_tokens") > F.col("n_half"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            == 0
        ).alias("monotone_ok"),
    )


# ---------------------------------------------------------------------------
# agg16 — Misra-Gries heavy hitters under MANUFACTURED skew (3 hot
# keys at ~10% of all rows over a ~2000-key uniform tail; natural
# TPC-H keys are uniform, so without the remap the guarantee is
# vacuous). The MG guarantees hold under ANY partition layout, so the
# verdict row is deterministic even though the raw estimates are not:
# every item with true frequency > n/(k+1) must appear, and every
# reported estimate must satisfy est ≤ true ≤ est + n/(k+1).
# ---------------------------------------------------------------------------
_AGG16_K = 64


@register(
    "agg16_heavy_hitters_gate",
    f"""
    WITH sk AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN l_orderkey % 3
                            ELSE 1000000 + l_partkey END AS key
                FROM lineitem),
    c AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt FROM sk GROUP BY key),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c)
    SELECT n.n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c, n
             WHERE cnt > CAST(n.n_rows AS DOUBLE) / {_AGG16_K + 1})
             AS n_true_heavy,
           TRUE AS all_heavy_present, TRUE AS est_within_bound
    FROM n
    """,
)
def agg16_heavy_hitters_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.profile import heavy_hitters

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 3, F.col("l_orderkey") % 3)
        .otherwise(F.lit(1000000) + F.col("l_partkey"))
        .alias("key")
    )
    cand = heavy_hitters(li, "key", k=_AGG16_K)
    exact = li.groupBy(F.col("key").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    n_df = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    bound = F.col("n_rows").cast("double") / (_AGG16_K + 1)
    heavy = exact.crossJoin(F.broadcast(n_df)).filter(F.col("true_cnt") > bound)
    n_heavy = heavy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_heavy")
    )
    heavy_missing = heavy.join(cand, "item", "left_anti").agg(
        F.count(F.lit(1)).alias("n_missing")
    )
    est_bad = (
        cand.join(exact, "item")
        .crossJoin(F.broadcast(n_df))
        .filter(
            (F.col("est") > F.col("true_cnt"))
            | (F.col("true_cnt") - F.col("est") > bound)
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    return _one_row_join(n_df, n_heavy, heavy_missing, est_bad).select(
        "n_rows",
        "n_true_heavy",
        (F.col("n_missing") == 0).alias("all_heavy_present"),
        (F.col("n_bad") == 0).alias("est_within_bound"),
    )


# ---------------------------------------------------------------------------
# d2 under manufactured SKEW — the LLM-path sibling of j11: ~30% of
# docs get a verbatim boilerplate sentence appended (a "hot shingle"
# set present in 150+ documents), which without the posting cap would
# explode the inverted-index join (150²/2 pairs PER hot shingle).
# ngram_jaccard_pairs' max_posting drops the flood; the gate proves
# the two sides of that trade deterministically: (a) planted verbatim
# re-crawls of NON-hot docs (disjoint id stripe, so their shingle
# sets contain no capped shingle — fixture organic max posting ≤ 25
# at every SF, far under the n/10 cap) are all still found at
# jaccard 1, and (b) the cap actually engaged (max posting over the
# skewed corpus exceeds it). Cap scales with |docs| so the gate holds
# at sf0.001/0.01/0.1 alike.
# ---------------------------------------------------------------------------
@register(
    "d2_skew_gate",
    """
    SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 5)
                AS BIGINT) AS n_planted,
           CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 10 < 3)
                AS BIGINT) AS n_hot_docs,
           TRUE AS cap_engaged,
           TRUE AS all_planted_found
    """,
)
def d2_skew_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hot = (" zqx boilerplate footer kwv appears verbatim jpt on every "
           "crawled qgd page of wbn this corpus")
    skewed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 < 3, F.concat(F.col("text"), F.lit(hot))
        ).otherwise(F.col("text")),
    )
    planted = skewed.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = skewed.unionByName(planted)
    cap = max(32, docs.count() // 10)
    pairs = dd.ngram_jaccard_pairs(corpus, threshold=0.8, max_posting=cap)
    want = skewed.filter(F.col("doc_id") % 10 == 5).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1000000).alias("id_b"),
    )
    missing = want.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_missing"))
    n_planted = want.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    n_hot = skewed.filter(F.col("doc_id") % 10 < 3).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hot_docs")
    )
    max_posting = (
        corpus.select(F.explode(dd.hashed_shingles("text", 3)).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("max_c"))
    )
    return _one_row_join(n_planted, n_hot, missing, max_posting).select(
        "n_planted",
        "n_hot_docs",
        (F.col("max_c") > cap).alias("cap_engaged"),
        (F.col("n_missing") == 0).alias("all_planted_found"),
    )


# ---------------------------------------------------------------------------
# d11 skew — fuzzy_join how='best' under a corpus-hot entity: the
# right table is every left doc's VERBATIM twin (+500000) plus a hot
# FILLER stripe (~30% of docs, +1000000) all sharing one boilerplate
# footer, so one shingle family lands on 3·n/10 right postings — well
# over the n/10 cap. Laws: (a) the cap ENGAGES (raw max posting >
# cap), and (b) argmax recall survives it — every UNIQUE-TEXT left
# doc's best match is its twin. Structural, not tuned: the verbatim
# twin scores jaccard EXACTLY 1, strictly above any non-identical
# candidate, and the dropped hot shingles live only in filler docs,
# so the cap cannot touch a twin's intersection. The unique-text
# restriction exists because an exact-duplicate left doc ties at 1.0
# with its dup's twin (tie-break id, not a recall failure).
# ---------------------------------------------------------------------------
@register(
    "d11_skew_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
           CAST(COUNT(*) FILTER (doc_id % 10 < 3) AS BIGINT) AS n_hot_fill,
           CAST((SELECT COUNT(*) FROM (SELECT text FROM documents
                 GROUP BY text HAVING COUNT(*) = 1) u) AS BIGINT) AS n_unique,
           TRUE AS cap_engaged,
           TRUE AS all_best_is_twin
    FROM documents
    """,
)
def d11_skew_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hot = (" zqx boilerplate footer kwv appears verbatim jpt on every "
           "crawled qgd page of wbn this corpus")
    twins = docs.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    filler = docs.filter(F.col("doc_id") % 10 < 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(hot)).alias("text"),
    )
    right = twins.unionByName(filler)
    cap = max(32, docs.count() // 10)
    best = dd.fuzzy_join(
        docs, right, threshold=0.8, max_posting=cap, how="best"
    ).localCheckpoint()

    uniq = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("id_l"), F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 1)
        .select("id_l")
    )
    n_unique = uniq.agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    # law (b): every unique-text left doc's best row exists and is its twin
    bad = (
        uniq.join(best, "id_l", "left")
        .filter(
            F.col("id_r").isNull() | (F.col("id_r") != F.col("id_l") + 500000)
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    # law (a): the raw right-side posting spectrum exceeds the cap
    max_posting = (
        right.select(F.explode(dd.hashed_shingles("text", 3)).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("max_c"))
    )
    n_left = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_left"))
    n_hot = filler.agg(F.count(F.lit(1)).cast("bigint").alias("n_hot_fill"))
    v = _one_row_join(n_left, n_hot, n_unique, bad, max_posting)
    return v.select(
        "n_left",
        "n_hot_fill",
        "n_unique",
        (F.col("max_c") > cap).alias("cap_engaged"),
        (F.col("n_bad") == 0).alias("all_best_is_twin"),
    )


# ---------------------------------------------------------------------------
# O4 groupby-apply under ONE GIANT GROUP — the skew reality check for
# the Arrow applyInPandas path: a CASE remap lands ~50% of lineitem in
# a single group (one task materializes it as one pandas frame — the
# operator's documented memory model), with a full SQL oracle, not a
# property gate: both engines evaluate the identical remap and the
# decimal-exact group stats must hash-match.
# ---------------------------------------------------------------------------
@register(
    "o4_skew_giant_group",
    """
    SELECT CASE WHEN l_suppkey % 10 < 5 THEN -1
                ELSE l_suppkey % 10 END AS skew_key,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_qty,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1
    """,
)
def o4_skew_giant_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    import decimal

    import pandas as pd
    from sparkswift.operators.groupby import groupby_apply

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "skew_key",
        F.when(F.col("l_suppkey") % 10 < 5, F.lit(-1))
        .otherwise(F.col("l_suppkey") % 10)
        .cast("bigint"),
    )

    def stats(g: pd.DataFrame) -> pd.DataFrame:
        q = g["l_quantity"]
        exact = sum(decimal.Decimal(str(round(v, 4))) for v in q)
        return pd.DataFrame(
            {
                "mean_qty": [round(float(exact) / len(q), 6)],
                "min_qty": [float(q.min())],
                "max_qty": [float(q.max())],
                "n": [int(len(q))],
            }
        )

    return groupby_apply(
        li,
        ["skew_key"],
        stats,
        subset=["l_quantity"],
        schema=(
            "skew_key bigint, mean_qty double, min_qty double, "
            "max_qty double, n bigint"
        ),
    )


# ---------------------------------------------------------------------------
# p22 — document-preserving FFD bin packing (pack_bins): the laws are
# SQL-certifiable because every one reduces to counts. every-doc-
# exactly-once (input count == output rows == output distinct ids),
# no non-oversize bin over budget (overweight count == 0), the greedy
# half-full law (≤ 1 half-empty bin per packer → excess == 0), and
# the bin-count envelope LB ≤ bins_ok ≤ 2·total/budget + n_packers
# in exact integer arithmetic. total_len / n_oversize are re-derived
# by the oracle from the same regex token count the engine uses —
# budget and tokenizer regex are INTERPOLATED from the shared
# constants (not re-typed) so editing either cannot silently
# desynchronize oracle and engine.
# ---------------------------------------------------------------------------
_P22_BUDGET, _P22_PACKERS = 512, 8


@register(
    "p22_gate",
    f"""
    WITH l AS (
      SELECT CAST(len(regexp_extract_all(text,
                 '{_BPE_TOKEN_RE}')) AS BIGINT) AS n
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_packed,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(n) AS BIGINT) AS total_len,
           CAST(COUNT(*) FILTER (n > {_P22_BUDGET}) AS BIGINT) AS n_oversize,
           CAST(0 AS BIGINT) AS overweight_bins,
           CAST(0 AS BIGINT) AS half_empty_excess,
           TRUE AS bins_bounded
    FROM l
    """,
)
def p22_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.packing import pack_bins

    docs = load_table(spark, sf_dir, "documents")
    out = pack_bins(
        docs, budget=_P22_BUDGET, n_packers=_P22_PACKERS
    ).localCheckpoint()

    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    totals = out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_packed"),
        F.countDistinct("doc_id").cast("bigint").alias("n_unique"),
        F.sum("doc_len").cast("bigint").alias("total_len"),
        F.sum(F.col("oversize").cast("bigint")).alias("n_oversize"),
    )
    bins = out.groupBy("packer", "bin_id").agg(
        F.sum("doc_len").alias("load"),
        F.max("oversize").alias("os"),
    )
    binstats = bins.agg(
        F.sum(
            ((F.col("os") == 0) & (F.col("load") > _P22_BUDGET)).cast("bigint")
        ).alias("overweight_bins"),
        F.sum(((F.col("os") == 0) & (F.col("load") <= _P22_BUDGET)).cast("bigint")).alias(
            "n_bins_ok"
        ),
        F.sum(
            F.when(F.col("os") == 0, F.col("load")).otherwise(F.lit(0))
        ).cast("bigint").alias("total_ok"),
    )
    half_per_packer = (
        bins.filter((F.col("os") == 0) & (F.col("load") * 2 <= _P22_BUDGET))
        .groupBy("packer")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias("half_empty_excess")
        )
    )
    v = _one_row_join(n_docs, totals, binstats, half_per_packer)
    return v.select(
        "n_docs",
        "n_packed",
        "n_unique",
        "total_len",
        "n_oversize",
        "overweight_bins",
        "half_empty_excess",
        (
            (F.col("n_bins_ok") * _P22_BUDGET >= F.col("total_ok"))
            & (
                F.col("n_bins_ok") * _P22_BUDGET
                <= F.col("total_ok") * 2 + _P22_PACKERS * _P22_BUDGET
            )
        ).alias("bins_bounded"),
    )



# ---------------------------------------------------------------------------
# d15 — ExactSubstr dedup laws via planted sentinels: a 30-token
# sentinel paragraph (tokens that exist nowhere in the fixture) is
# appended to every doc on the id stripe doc_id % 50 == 3, the
# corpus runs substring_dedup(window=20), and the verdict certifies:
# the GLOBALLY-FIRST planted doc is the only one whose output
# contains any sentinel (first-wins + zero leakage — the pure-para
# windows of every later copy cover its whole span), token counts
# conserve exactly, and every doc with zero drops reassembles to the
# identity. Sentinels make the laws hash-collision-free.
# ---------------------------------------------------------------------------
_D15_WINDOW = 20
_D15_PARA = " ".join(f"sdxtok{i}" for i in range(30))


@register(
    "d15_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (doc_id % 50 = 3) AS BIGINT) AS n_planted,
           CAST(1 AS BIGINT) AS docs_with_sentinels,
           CAST(1 AS BIGINT) AS para_keepers,
           TRUE AS conservation_ok,
           TRUE AS untouched_identity_ok
    FROM documents
    """,
)
def d15_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 50 == 3,
            F.concat_ws(" ", F.col("text"), F.lit(_D15_PARA)),
        ).otherwise(F.col("text")),
    )
    out = dd.substring_dedup(
        planted, window=_D15_WINDOW
    ).localCheckpoint()

    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    n_planted = planted.filter(F.col("doc_id") % 50 == 3).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_planted")
    )
    sentinels = out.agg(
        F.sum(F.col("clean_text").contains("sdxtok").cast("bigint")).alias(
            "docs_with_sentinels"
        ),
        F.sum(F.col("clean_text").contains(_D15_PARA).cast("bigint")).alias(
            "para_keepers"
        ),
    )
    conserve = (
        out.join(planted.select("doc_id", "text"), "doc_id")
        .agg(
            F.sum(
                (
                    F.size(_tokens(F.coalesce(F.col("text"), F.lit(""))))
                    != F.col("n_tokens_kept") + F.col("n_tokens_dropped")
                ).cast("bigint")
            ).alias("n_bad_counts"),
            F.sum(
                (
                    (F.col("n_tokens_dropped") == 0)
                    & (
                        F.col("clean_text")
                        != F.array_join(
                            _tokens(F.coalesce(F.col("text"), F.lit(""))), " "
                        )
                    )
                ).cast("bigint")
            ).alias("n_bad_identity"),
        )
    )
    v = _one_row_join(n_docs, n_planted, sentinels, conserve)
    return v.select(
        "n_docs",
        "n_planted",
        "docs_with_sentinels",
        "para_keepers",
        (F.col("n_bad_counts") == 0).alias("conservation_ok"),
        (F.col("n_bad_identity") == 0).alias("untouched_identity_ok"),
    )



# ---------------------------------------------------------------------------
# p23 — training-ready token shards: the laws certify the WHOLE
# pipeline (BPE-encode → FFD token bins → Megatron .bin/.idx write →
# bytes readback). exactly_once: every doc appears in exactly one bin
# across all shards (boundaries sidecar) AND the manifest's doc total
# agrees. conservation: Σ shard n_tokens equals an independent
# Σ bpe_encode_ids n_bpe_tokens. readback: per-shard (bins, token
# count, token-id SUM) re-derived from the WRITTEN .bin/.idx bytes
# matches the manifest — the binary layout itself is certified, not
# just the bookkeeping. boundaries: offsets arrays align with doc
# lists and start at 0. All laws reduce to joins/aggs → one verdict
# row; nothing corpus-sized leaves the cluster.
# ---------------------------------------------------------------------------
@register(
    "p23_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(4 AS BIGINT) AS n_shards,
           TRUE AS exactly_once_ok,
           TRUE AS conservation_ok,
           TRUE AS readback_ok,
           TRUE AS boundaries_ok
    FROM documents
    """,
)
def p23_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.packing import pack_token_bins
    from sparkswift.sources.writers import read_token_shards, write_token_shards

    docs = load_table(spark, sf_dir, "documents")
    merges = tx.bpe_train(docs, num_merges=100)
    bins = pack_token_bins(docs, merges, budget=512, n_packers=8)
    path = mkscratch("p23_gate_")
    man = write_token_shards(bins, path, n_shards=4)

    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    bounds = spark.read.parquet(f"{path}/boundaries")
    uniq = bounds.select(F.explode("doc_ids").alias("d")).agg(
        F.countDistinct("d").alias("n_uniq"),
        F.count(F.lit(1)).alias("n_total"),
    )
    man_tot = man.agg(
        F.sum("n_docs").alias("m_docs"),
        F.sum("n_tokens").alias("m_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
    )
    enc_tot = tx.bpe_encode_ids(docs, merges).agg(
        F.sum("n_bpe_tokens").alias("e_tokens")
    )
    rb = read_token_shards(spark, path).groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("r_bins"),
        F.sum("n_tokens").alias("r_tokens"),
        F.sum("token_sum").alias("r_sum"),
    )
    bad_shards = (
        man.join(rb, "shard", "full")
        .filter(
            F.col("n_bins").isNull()
            | F.col("r_bins").isNull()
            | (F.col("n_bins") != F.col("r_bins"))
            | (F.col("n_tokens") != F.col("r_tokens"))
            | (F.col("token_sum") != F.col("r_sum"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad_shards"))
    )
    bad_bounds = bounds.filter(
        (F.size("doc_offsets") != F.size("doc_ids"))
        | (F.element_at("doc_offsets", 1) != 0)
    ).agg(F.count(F.lit(1)).alias("n_bad_bounds"))
    v = _one_row_join(n_docs, uniq, man_tot, enc_tot, bad_shards, bad_bounds)
    return v.select(
        "n_docs",
        "n_shards",
        (
            (F.col("n_uniq") == F.col("n_docs"))
            & (F.col("n_total") == F.col("n_docs"))
            & (F.col("m_docs") == F.col("n_docs"))
        ).alias("exactly_once_ok"),
        (F.col("m_tokens") == F.col("e_tokens")).alias("conservation_ok"),
        (F.col("n_bad_shards") == 0).alias("readback_ok"),
        (F.col("n_bad_bounds") == 0).alias("boundaries_ok"),
    )


# ---------------------------------------------------------------------------
# p31_gate — SFT export laws (VERDICT r11 #6). The engine path
# (render -> encode+mask -> FFD pack -> Megatron shards + .msk
# sidecar) is checked against an INDEPENDENT per-position expectation
# built from bpe_encode_ids over the exploded turns + native array
# ops: expected ids = prefix(role) ++ content ++ suffix per turn,
# expected mask = 0-runs around an assistant-only 1-run. Laws:
# (1) assistant_only_ok — per-POSITION equality of both the id
#     stream and the mask stream for every conversation;
# (2) conservation_ok — written manifest totals (n_tokens, mask_sum
#     from the .msk-backed write) equal the independent expectation's
#     totals, and unmasked == assistant content tokens exactly;
# (3) alignment_ok — per bin: |mask| == |ids| == bin_load, offsets
#     start at 0 and pair 1:1 with doc_ids;
# (4) readback_ok — re-decoding the .bin/.idx/.msk BYTES reproduces
#     the manifest per shard (bins, tokens, token_sum, mask_sum).
# ---------------------------------------------------------------------------
@register(
    "p31_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_convs,
           CAST(4 AS BIGINT) AS n_shards,
           TRUE AS assistant_only_ok,
           TRUE AS conservation_ok,
           TRUE AS alignment_ok,
           TRUE AS readback_ok
    FROM documents
    """,
)
def p31_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.packing import (
        SFT_BOS,
        SFT_EOS,
        sft_encode_masks,
        sft_pack_bins,
    )
    from sparkswift.sources.writers import (
        read_token_shards,
        write_token_shards,
    )
    from sparkswift.suite_llm import _p31_conversations

    docs = load_table(spark, sf_dir, "documents")
    merges = tx.bpe_train(docs, num_merges=100)
    convs = _p31_conversations(docs)

    enc = sft_encode_masks(convs, merges)
    bins = sft_pack_bins(convs, merges, budget=512, n_packers=8)
    path = mkscratch("p31_gate_")
    man = write_token_shards(bins, path, n_shards=4, mask_col="loss_mask")

    # --- independent per-turn expectation ---
    t = convs.select(
        "conv_id", F.posexplode("turns").alias("pos", "t")
    ).select(
        "conv_id",
        "pos",
        F.col("t.role").alias("role"),
        F.coalesce(F.col("t.content"), F.lit("")).alias("content"),
    )
    enc_c = tx.bpe_encode_ids(
        t.select((F.col("conv_id") * 8 + F.col("pos")).alias("tid"), "content"),
        merges,
        text_col="content",
        id_col="tid",
    ).select("tid", F.col("token_ids").alias("c_ids"))
    frame = local_df(
        spark,
        [(r, f"{SFT_BOS} {r}") for r in ("system", "user", "assistant")]
        + [("__eos__", SFT_EOS)],
        "role string, text string",
    )
    # bpe_encode_ids keeps only (id, n, ids) — give each template row
    # a deterministic id (crc32 of the role; distinct here) and join
    # the role back by it
    frame_ids = (
        tx.bpe_encode_ids(
            frame.withColumn("doc_id", F.crc32("role")), merges
        )
        .join(frame.withColumn("doc_id", F.crc32("role")), "doc_id")
        .select("role", F.col("token_ids").alias("p_ids"))
    )
    eos_ids = frame_ids.filter(F.col("role") == "__eos__").select(
        F.col("p_ids").alias("e_ids")
    )
    pre = frame_ids.filter(F.col("role") != "__eos__")
    texp = (
        t.join(
            enc_c,
            (F.col("conv_id") * 8 + F.col("pos")) == F.col("tid"),
        )
        .join(F.broadcast(pre), "role")
        .crossJoin(F.broadcast(eos_ids))
        .select(
            "conv_id",
            "pos",
            F.concat("p_ids", "c_ids", "e_ids").alias("t_ids"),
            F.concat(
                F.array_repeat(F.lit(0), F.size("p_ids")),
                F.array_repeat(
                    F.when(F.col("role") == "assistant", 1).otherwise(0),
                    F.size("c_ids"),
                ),
                F.array_repeat(F.lit(0), F.size("e_ids")),
            ).alias("t_mask"),
            F.when(F.col("role") == "assistant", F.size("c_ids"))
            .otherwise(0)
            .alias("n_asst"),
        )
    )
    cexp = texp.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "t_ids", "t_mask"))
        ).alias("__t"),
        F.sum("n_asst").cast("bigint").alias("e_unmasked"),
    ).select(
        "conv_id",
        F.flatten(F.transform("__t", lambda s: s["t_ids"])).alias("e_ids"),
        F.flatten(F.transform("__t", lambda s: s["t_mask"])).alias(
            "e_mask"
        ),
        "e_unmasked",
    )

    # law 1: per-position equality, every conversation
    bad_pos = (
        enc.join(cexp, enc.conv_id == cexp.conv_id)
        .filter(
            (F.col("token_ids") != F.col("e_ids"))
            | (F.col("loss_mask") != F.col("e_mask"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad_pos"))
    )
    # law 2: conservation — written totals == independent totals
    exp_tot = cexp.agg(
        F.sum(F.size("e_ids")).cast("bigint").alias("e_tokens"),
        F.sum("e_unmasked").cast("bigint").alias("e_unm"),
    )
    man_tot = man.agg(
        F.sum("n_tokens").alias("m_tokens"),
        F.sum("mask_sum").alias("m_masked"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
    )
    # law 3: per-bin alignment
    bad_bins = bins.filter(
        (F.size("loss_mask") != F.size("token_ids"))
        | (F.size("token_ids") != F.col("bin_load"))
        | (F.size("doc_offsets") != F.size("doc_ids"))
        | (F.element_at("doc_offsets", 1) != 0)
    ).agg(F.count(F.lit(1)).alias("n_bad_bins"))
    # law 4: byte readback == manifest, per shard
    rb = read_token_shards(spark, path, masks=True).groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("r_bins"),
        F.sum("n_tokens").alias("r_tokens"),
        F.sum("token_sum").alias("r_sum"),
        F.sum("mask_sum").alias("r_masked"),
    )
    bad_shards = (
        man.join(rb, "shard", "full")
        .filter(
            F.col("n_bins").isNull()
            | F.col("r_bins").isNull()
            | (F.col("n_bins") != F.col("r_bins"))
            | (F.col("n_tokens") != F.col("r_tokens"))
            | (F.col("token_sum") != F.col("r_sum"))
            | (F.col("mask_sum") != F.col("r_masked"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad_shards"))
    )
    n_convs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_convs"))
    v = _one_row_join(
        n_convs, bad_pos, exp_tot, man_tot, bad_bins, bad_shards
    )
    return v.select(
        "n_convs",
        "n_shards",
        (F.col("n_bad_pos") == 0).alias("assistant_only_ok"),
        (
            (F.col("m_tokens") == F.col("e_tokens"))
            & (F.col("m_masked") == F.col("e_unm"))
        ).alias("conservation_ok"),
        (F.col("n_bad_bins") == 0).alias("alignment_ok"),
        (F.col("n_bad_shards") == 0).alias("readback_ok"),
    )


# ---------------------------------------------------------------------------
# Resolve the oracle placeholders that wrap other queries' registered
# oracles (registration order guarantees they exist: suite_relational
# and suite_llm import before this module).
# ---------------------------------------------------------------------------
def _resolve_placeholder(gate: str, placeholder: str, source: str) -> None:
    fn, sql = _REGISTRY[gate]
    inner = _REGISTRY[source][1]
    assert inner is not None, source
    _REGISTRY[gate] = (fn, sql.replace(placeholder, inner))


_resolve_placeholder("d3_gate", "__D2_ORACLE__", "d2_ngram_jaccard")
_resolve_placeholder("d6_gate", "__NEARDUP_ORACLE__", "d5_embedding_neardup")
_resolve_placeholder("d8_gate", "__D7_ORACLE__", "d7_dedup_clusters")
_resolve_placeholder("p5_gate", "__P3_ORACLE__", "p3_decontaminate")


# ---------------------------------------------------------------------------
# e8_gate — PCA fit/project laws on the REAL fixture. The Gramian is
# exact-oracled by e8_pca_gram; this gate certifies the driver-side
# fit and the native-expression projection: (a) components
# orthonormal (max |QQᵀ − I| < 1e-9), (b) eigenvalues descending and
# non-negative (≥ −1e-9 numerical floor), (c) the DISTRIBUTED
# variance of each projected coordinate matches its eigenvalue
# within the QUANTIZATION budget (the spectral-decomposition
# identity — ties the projection expressions back to the fit): each
# covariance entry absorbs ≤ 0.5/1e6 per-row quantization error, so
# eigenvalues may drift ≤ d·0.5e-6 = 3.2e-5 from the unquantized
# projection variance — the law uses 5e-4 absolute, a ~15× margin
# that is still 100× tighter than the smallest fixture eigenvalue,
# (d) top-k variance never exceeds total variance (+ the same
# budget). n_vecs anchors the oracle to the table. Laws are
# float-tolerance booleans, but the inputs are exact integer Gramian
# sums, so the verdict is layout-deterministic.
# ---------------------------------------------------------------------------
_E8_K = 8


@register(
    "e8_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           TRUE AS orthonormal, TRUE AS eig_sorted,
           TRUE AS var_matches_eig, TRUE AS var_bounded
    FROM embeddings
    """,
)
def e8_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from sparkswift.operators.pca import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    comps, stats = pca_fit(emb, "embedding", dim=64, k=_E8_K)
    q = np.asarray(comps)
    orth = bool(np.abs(q @ q.T - np.eye(_E8_K)).max() < 1e-9)
    vals = stats["eigvals"]
    eig_sorted = bool(
        all(vals[r] >= vals[r + 1] for r in range(len(vals) - 1))
        and vals[-1] >= -1e-9
    )
    proj = pca_project(emb, "embedding", comps, mean=stats["mean"])
    var_row = proj.agg(
        *[
            F.avg(F.col(f"pc{r + 1}") * F.col(f"pc{r + 1}")).alias(f"m2_{r}")
            for r in range(_E8_K)
        ],
        *[F.avg(f"pc{r + 1}").alias(f"m1_{r}") for r in range(_E8_K)],
    ).collect()[0]
    var_ok, bounded = True, True
    topk_var = 0.0
    for r in range(_E8_K):
        v = var_row[f"m2_{r}"] - var_row[f"m1_{r}"] ** 2
        topk_var += v
        if abs(v - vals[r]) > 5e-4:  # quantization budget, see header
            var_ok = False
    if topk_var > stats["total_var"] + 5e-4:
        bounded = False
    return local_df(
        spark,
        [(stats["n"], orth, eig_sorted, var_ok, bounded)],
        "n_vecs bigint, orthonormal boolean, eig_sorted boolean,"
        " var_matches_eig boolean, var_bounded boolean",
    )


# ---------------------------------------------------------------------------
# e10_gate — two laws. (a) recall floor on the REAL fixture (the e5
# contract through the OPQ path; the fixture is isotropic by
# construction, so rotation is provably a no-op there). (b) the OPQ
# CLAIM itself — recall(OPQ) > recall(plain PQ) at the same budget —
# on a deterministic ANISOTROPIC corpus synthesized from id
# arithmetic (the mm6 synth-payload discipline: component j of vector
# i is an md5-uniform of (i, j) scaled by a 300× geometric decay; no
# RNG, no driver data, layout-invariant). Natural contiguous-dim PQ
# slicing concentrates 300×-decayed variance in subspace 0; OPQ's
# eigen-allocation balances it — measured at this construction:
# PQ 0.49 / OPQ 0.96 recall@5, far past seed noise. The margin law
# requires a ≥0.15·n_exact absolute hit gap AND an 0.8 OPQ floor.
# ---------------------------------------------------------------------------
@register(
    "e10_gate",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
           TRUE AS opq_beats_pq
    FROM embeddings WHERE label = 0
    """,
)
def e10_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    approx = sim.cosine_topk_opq(emb, queries, k=5, train_size=2000, refine=8)
    fixture_gate = _topk_gate(spark, sf_dir, approx, 0.85)

    # (b) anisotropic synth: SF-independent (spark.range), exact same
    # budget for both routes
    n, d, m = 1200, 32, 8
    scales = np.geomspace(30.0, 0.1, d)
    comps = []
    for j in range(d):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("e10aniso"),
                        F.col("vec_id").cast("string"),
                        F.lit(str(j)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        u = h / F.lit(float(16**8))
        comps.append(((u - F.lit(0.5)) * F.lit(float(scales[j]))).cast("float"))
    vecs = (
        spark.range(n)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", F.array(*comps).alias("embedding"))
        .localCheckpoint()  # one synth pass; both routes + exact reuse it
    )
    synth_q = vecs.filter(F.col("vec_id") < 60)
    exact = (
        sim.cosine_topk(vecs, synth_q, k=5)
        .select("query_id", "corpus_id")
        .localCheckpoint()
    )
    n_exact = exact.count()

    def hits(a: DataFrame) -> int:
        return (
            a.select("query_id", "corpus_id")
            .join(exact, ["query_id", "corpus_id"], "left_semi")
            .count()
        )

    kw = dict(k=5, m=m, ksub=32, train_size=1000, refine=2)
    h_pq = hits(sim.cosine_topk_pq(vecs, synth_q, **kw))
    h_opq = hits(sim.cosine_topk_opq(vecs, synth_q, dim=d, **kw))
    opq_beats = (h_opq >= h_pq + 0.15 * n_exact) and (h_opq >= 0.8 * n_exact)
    return fixture_gate.select(
        "n_queries", "recall_ok", F.lit(bool(opq_beats)).alias("opq_beats_pq")
    )


@register("e11_gate", _TOPK_ORACLE)
def e11_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    approx = sim.cosine_topk_sq(emb, queries, k=5, refine=2)
    return _topk_gate(spark, sf_dir, approx, 0.95)


# ---------------------------------------------------------------------------
# e16 — FILTERED vector search at the IVF SCALE PATH (e15's pattern
# over ONE shared index: the quantizer and list assignment see the
# full corpus, the metadata predicate applies to candidates inside
# the probed lists before ranking — one index serves every
# predicate, no distance computed for excluded vectors, k never
# short). Verdict frame directly (the r13 registry discipline for
# sketch ops): a HARD filter law (zero emitted neighbors outside the
# predicate — the filter can never leak) + recall floor 0.8 vs the
# exact filtered search at nprobe=12 (measured 0.986 sf0.001 / 0.98
# sf0.01; the filter halves probed-list candidates, so the same
# recall needs more probes than e3's unfiltered nprobe=8 — the
# documented filtered-ANN effect).
# ---------------------------------------------------------------------------
@register(
    "e16_filtered_topk_ivf",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS filter_ok, TRUE AS recall_ok
    FROM embeddings WHERE label = 0
    """,
)
def e16_filtered_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = sim.cosine_topk(emb.filter(F.col("label") == 1), queries, k=5)
    approx = sim.cosine_topk_ivf(
        emb, queries, k=5, nprobe=12, corpus_filter=F.col("label") == 1
    )
    leaked = (
        approx.join(
            emb.select(F.col("vec_id").alias("corpus_id"), "label"),
            "corpus_id",
        )
        .filter(F.col("label") != 1)
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    cmp = _set_compare(exact, approx, ["query_id", "corpus_id"])
    n_q = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return _one_row_join(n_q, cmp, leaked).select(
        "n_queries",
        (F.col("n_leaked") == 0).alias("filter_ok"),
        (F.col("n_hit") >= 0.8 * F.col("n_exact")).alias("recall_ok"),
    )


def measured_ann_recalls(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """MEASURED recall per ANN variant at the gates' own parameters —
    the NUMBER, not the pass/fail verdict (VERDICT r13 #9: record it
    per round in BENCH_DETAIL so a silent drift — e.g. a codebook
    seed change — is visible before it trips a floor). One shared
    exact top-k serves every variant; each recall is
    |approx ∩ exact| / |exact| over (query_id, corpus_id) pairs.
    e16's denominator is the exact FILTERED search (its own law)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("label") == 0)
    exact = (
        sim.cosine_topk(emb, queries, k=5)
        .select("query_id", "corpus_id")
        .localCheckpoint()
    )
    n_exact = exact.count()
    variants: dict[str, object] = {
        "e2_lsh": lambda: sim.cosine_topk_lsh(
            emb, k=5, bits=48, bands=12, query_filter=(F.col("label") == 0)
        ),
        "e3_ivf": lambda: sim.cosine_topk_ivf(
            emb, queries, k=5, nlist=16, nprobe=8
        ),
        "e5_pq": lambda: sim.cosine_topk_pq(
            emb, queries, k=5, train_size=2000, refine=8
        ),
        "e6_ivfpq": lambda: sim.cosine_topk_ivfpq(
            emb, queries, k=5, train_size=2000, nprobe=12, refine=8
        ),
        "e10_opq": lambda: sim.cosine_topk_opq(
            emb, queries, k=5, train_size=2000, refine=8
        ),
        "e11_sq": lambda: sim.cosine_topk_sq(emb, queries, k=5, refine=2),
    }
    out: dict[str, float] = {}
    for name, make in variants.items():
        approx = make().select("query_id", "corpus_id")
        hit = approx.join(
            exact, ["query_id", "corpus_id"], "left_semi"
        ).count()
        # degenerate/empty fixture -> 0.0, never ZeroDivisionError
        out[name] = round(hit / n_exact, 4) if n_exact else 0.0
    # e16: filtered search — exact twin restricted to the predicate
    exact_f = (
        sim.cosine_topk(emb.filter(F.col("label") == 1), queries, k=5)
        .select("query_id", "corpus_id")
        .localCheckpoint()
    )
    n_exact_f = exact_f.count()
    approx_f = sim.cosine_topk_ivf(
        emb, queries, k=5, nprobe=12, corpus_filter=F.col("label") == 1
    ).select("query_id", "corpus_id")
    hit_f = approx_f.join(
        exact_f, ["query_id", "corpus_id"], "left_semi"
    ).count()
    out["e16_filtered_ivf"] = (
        round(hit_f / n_exact_f, 4) if n_exact_f else 0.0
    )
    return out


# ---------------------------------------------------------------------------
# t26 — TRAINED char-n-gram language ID (the model-based rung above
# t2's heuristic; VERDICT r14 "What's missing #2"). The public
# pattern (fastText/CLD-class lang-id = a linear model over hashed
# character n-gram features) re-expressed with the engine's exact-
# integer training machinery: the language signal is PLANTED
# engine-reproducibly (articles swapped per the fixture's lang
# column — regexp expressions the oracle re-derives verbatim), weak
# labels come from the certified t2 stopword vote over the planted
# text (NOT from the lang column — honest weak supervision), and the
# probe trains in closed form from ONE quantized-Gramian pass
# (pca_gram: per-row products floored to integer micro-units, summed
# as BIGINT — bit-identical under any layout; the driver solves C
# ridge systems of size K+1). Cross-engine-EXACT facts: n_docs,
# n_trained and weak==planted agreement (the oracle re-runs synth +
# vote in SQL). Verdict booleans the oracle cannot re-derive:
# probe recovery ≥ 95% of weak labels (measured 100% at sf0.001/
# sf0.01, 98.6% at sf0.1 — the floor is the law, K=512 the sizing),
# and layout invariance (two trainings under different partitionings
# must produce byte-identical integer Gramians). t2 stays the cheap
# route; this is the trained route. Scale shape: one feature pass
# (Arrow-vectorized, map-side), one Gramian pass per training,
# driver state O(K²) — corpus-free.
# ---------------------------------------------------------------------------
def _t26_synth_sql() -> str:
    from sparkswift.operators.text import LANGID_ARTICLES

    whens = "".join(
        "WHEN '{l}' THEN regexp_replace(regexp_replace("
        "coalesce(text, ''), '\\bthe\\b', '{x}', 'g'), "
        "'\\ba\\b', '{y}', 'g') ".format(l=lang, x=x, y=y)
        for lang, (x, y) in sorted(LANGID_ARTICLES.items())
    )
    return f"CASE lang {whens}ELSE coalesce(text, '') END"


def _t26_oracle() -> str:
    from sparkswift.suite_llm import _lang_vote_sql

    toks = r"list_filter(string_split_regex(trim(txt), '\s+'), x -> x <> '')"
    return f"""
    WITH s AS (SELECT doc_id, lang, {_t26_synth_sql()} AS txt
               FROM documents),
    t AS (SELECT doc_id, lang, {toks} AS toks FROM s),
    v AS (SELECT doc_id, lang,
                 {_lang_vote_sql('de')} AS v_de, {_lang_vote_sql('en')} AS v_en,
                 {_lang_vote_sql('es')} AS v_es, {_lang_vote_sql('fr')} AS v_fr,
                 {_lang_vote_sql('zh')} AS v_zh
          FROM t),
    m AS (SELECT *, greatest(v_de, v_en, v_es, v_fr, v_zh) AS mx FROM v),
    w AS (SELECT doc_id, lang,
                 CASE WHEN mx <= 0 THEN 'und'
                      WHEN v_de = mx THEN 'de'
                      WHEN v_en = mx THEN 'en'
                      WHEN v_es = mx THEN 'es'
                      WHEN v_fr = mx THEN 'fr'
                      ELSE 'zh' END AS weak
          FROM m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN weak <> 'und' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_trained,
           CAST(SUM(CASE WHEN weak <> 'und' AND weak = lang
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_weak_eq_planted,
           TRUE AS probe_recovery_ok,
           TRUE AS layout_invariant
    FROM w
    """


@register("t26_langid_trained_gate", _t26_oracle())
def t26_langid_trained_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    langs = sorted(tx.STOPWORDS)
    # spread BEFORE the per-row-heavy Arrow chain: the documents
    # fixture is one parquet file -> ONE scan partition, and
    # mapInPandas preserves partitioning — synth + lang_id + the
    # char-n-gram feature pass and the downstream Gramian all ran as
    # single tasks (measured: feat 6.0 s, train1 8.7 s on one core;
    # guide §2.3 — parallelism follows the scan unless you spread)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    synth = tx.synth_langid_text(docs)
    weak = tx.lang_id(synth, "txt", "weak")
    feat = tx.langid_features(
        weak, "txt", extra_cols=("lang", "weak")
    ).localCheckpoint()  # one feature pass feeds train x2 + score
    trainable = feat.filter(F.col("weak") != "und")
    # the two trainings are independent jobs over the same checkpointed
    # features — overlap them (guide §2.6) instead of paying two full
    # sequential Gramian passes; results are integer-exact and
    # layout-deterministic, so concurrency cannot change either key
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut1 = pool.submit(tx.train_langid_probe, trainable, langs)
        # layout-invariance certificate: integer Gramians must match
        # under a DIFFERENT layout. Hash-by-doc_id at full width is as
        # different from the round-robin layout as repartition(7) was,
        # but keeps the twin's per-task work equal to the first
        # training's — the 7-partition twin was a 4.6× straggler that
        # alone set t26's wall time (guide §2.5)
        fut2 = pool.submit(
            tx.train_langid_probe,
            trainable.repartition(
                spark.sparkContext.defaultParallelism, F.col("doc_id")
            ),
            langs,
        )
        w1, key1 = fut1.result()
        _, key2 = fut2.result()
    scored = tx.score_langid_probe(
        feat, w1, langs, extra_cols=("lang", "weak")
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("weak") != "und").cast("bigint"))
        .cast("bigint")
        .alias("n_trained"),
        F.sum(
            ((F.col("weak") != "und") & (F.col("weak") == F.col("lang")))
            .cast("bigint")
        ).cast("bigint").alias("n_weak_eq_planted"),
        F.sum(
            (
                (F.col("weak") != "und")
                & (F.col("lang_pred") == F.col("weak"))
            ).cast("bigint")
        ).cast("bigint").alias("n_recovered"),
    )
    return agg.select(
        "n_docs",
        "n_trained",
        "n_weak_eq_planted",
        (
            F.col("n_recovered")
            >= F.ceil(F.col("n_trained") * F.lit(0.95))
        ).alias("probe_recovery_ok"),
        F.lit(key1 == key2).alias("layout_invariant"),
    )
