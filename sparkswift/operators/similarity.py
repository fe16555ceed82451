"""Embedding similarity search (north-star extension; fixture:
embeddings.parquet, array<float> dim 64).

Determinism design: embeddings are quantized to integer grids
(round(x·10⁶) as long) so dot products and norms are *exact integer
arithmetic* — associative, partition-order independent, identical in
any engine. The final cosine is a single double expression over those
integers. This removes every float-summation-order hazard from the
correctness path at zero cost (the quantization error ~1e-6 is far
below any meaningful similarity resolution).

Scale design:
* brute-force top-k: broadcast the (small) query set; one pass over
  the corpus, per-partition top-k via window rank — never a global
  sort of n×q pairs.
* LSH-bucketed: sign-random-projection signatures (deterministic
  hash-derived hyperplanes) → band join, the same shuffle-only shape
  as MinHash; probes only same-bucket candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from sparkswift.localdf import local_df
from sparkswift.operators.spread import prepart, spread

QUANT = 1_000_000

# hyperplane matrices for SRP signatures, keyed by (bits, dim, seed);
# generated from a fixed-seed PCG64 so every executor (and every run)
# derives the identical matrix — no RNG state crosses the wire
_HYPERPLANES: dict[tuple[int, int, int], np.ndarray] = {}


def _hyperplanes(bits: int, dim: int, seed: int) -> np.ndarray:
    key = (bits, dim, seed)
    if key not in _HYPERPLANES:
        rng = np.random.Generator(np.random.PCG64(seed))
        _HYPERPLANES[key] = rng.choice([-1.0, 1.0], size=(bits, dim))
    return _HYPERPLANES[key]


def _to_matrix(s: pd.Series) -> np.ndarray:
    """Embedding payload → dense float64 matrix, with a CLEAR error on
    null or ragged-length vectors (np.asarray would otherwise build an
    object array and the task would die with an opaque TypeError deep
    in BLAS)."""
    m = np.asarray(s.tolist(), dtype=object)
    try:
        out = np.asarray(s.tolist(), dtype=np.float64)
    except (TypeError, ValueError):
        out = None
    if out is None or out.ndim != 2:
        lens = {None if v is None else len(v) for v in m}
        raise ValueError(
            f"null or ragged embedding vectors (lengths seen: {lens}); "
            "pre-filter with df.filter(col.isNotNull() & (F.size(col) == dim))"
        )
    return out


def srp_signature_batched(vec: Column, bits: int = 32, seed: int = 0) -> Column:
    """Sign-random-projection signature as ONE Arrow-batched matmul:
    sig bit j = sign(v · h_j), all bits at once via (batch × dim) @
    (dim × bits) in numpy/BLAS.

    This replaces the pure-expression :func:`srp_signature` in the hot
    path: 32 bits × 64 dims as Catalyst expressions is a ~2k-node tree
    per row — whole-stage codegen chokes on it (~5 s for 2k rows,
    compile time not data time). A compute-dense vectorized kernel is
    the case where a Pandas UDF BEATS native expressions."""
    if bits > 62:
        raise ValueError("bits must fit in a signed long")

    @F.pandas_udf("long")
    def sig(s: pd.Series) -> pd.Series:
        m = _to_matrix(s)
        h = _hyperplanes(bits, m.shape[1], seed)
        p = (m @ h.T) >= 0
        weights = 1 << np.arange(bits, dtype=np.uint64)
        return pd.Series((p.astype(np.uint64) * weights).sum(axis=1).astype(np.int64))

    return sig(vec)


# atomic index publish — shared store-lifecycle contract
from sparkswift.sources.store import staged_publish as _staged_dir  # noqa: E402


def _exact_rerank_scored(
    corpus: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact integer-grid re-rank scoring of a bounded candidate set
    (same arithmetic as cosine_topk → emitted cos_sim is
    engine-exact). Runs on the spread corpus scan with the
    (queries × k·refine) candidate set broadcast, so the quantize +
    integer-cosine work follows the corpus partitioning at any
    scale."""
    cvec = spread(corpus.select(F.col(id_col), F.col(vec_col)), "light").select(
        F.col(id_col).alias("corpus_id"), quantize(vec_col).alias("cv")
    ).withColumn("cn", norm2_long(F.col("cv")))
    qvec = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv")
    ).withColumn("qn", norm2_long(F.col("qv")))
    return cvec.join(F.broadcast(cands), "corpus_id").join(
        F.broadcast(qvec), "query_id"
    ).select(
        "query_id",
        "corpus_id",
        cosine(
            dot_long(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ).alias("cos_sim"),
    )


def quantize(col: str | Column, scale: int = QUANT) -> Column:
    """array<float> → array<long> on a 1/scale grid (exact integer
    domain for all downstream arithmetic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))


def dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def norm2_long(a: Column) -> Column:
    return dot_long(a, a)


def cosine(dot: Column, n2a: Column, n2b: Column) -> Column:
    """cos = dot / (‖a‖·‖b‖) as one double expression over exact ints."""
    return dot.cast("double") / (
        F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k
    most similar corpus vectors (excluding itself).

    Plan shape: corpus quantized once; queries quantized and
    **broadcast**; a single map-side nested-loop join computes all
    pairs; rank window partitioned by query id takes top-k. At 100 TB
    corpus × small query set this is one scan, no corpus shuffle
    before the (tiny) rank exchange.
    """
    c = spread(corpus.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col).alias("corpus_id"), quantize(vec_col).alias("cv")
    ).withColumn("cn", norm2_long(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv")
    ).withColumn("qn", norm2_long(F.col("qv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("corpus_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "corpus_id",
        cosine(dot_long(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine RANGE search (the FAISS ``range_search`` contract,
    vs :func:`cosine_topk`'s k-NN): for each query vector, EVERY
    corpus vector (excluding itself) with cosine ≥ ``threshold`` —
    the right primitive when the answer set size is data-dependent
    (dedup candidate generation, recall-complete retrieval), where a
    fixed k either truncates or pads.

    Same plan shape as cosine_topk: corpus quantized once, queries
    quantized and **broadcast**, one map-side nested-loop scoring
    pass — but NO rank window at all: the threshold is a scan-stage
    filter, so at 100 TB this is one corpus scan with zero shuffles.
    Cosine values are the e1 discipline (integer micro-unit dot /
    long norms, one double division — bit-identical cross-engine), so
    thresholding is deterministic.

    Returns ``(query_id, corpus_id, cos_sim)``.
    """
    c = spread(corpus.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col).alias("corpus_id"), quantize(vec_col).alias("cv")
    ).withColumn("cn", norm2_long(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv")
    ).withColumn("qn", norm2_long(F.col("qv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("corpus_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "corpus_id",
        cosine(
            dot_long(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ).alias("cos_sim"),
    )
    return scored.filter(F.col("cos_sim") >= F.lit(float(threshold)))


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k0: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    — the standard hybrid-retrieval combiner: given n ranked lists,
    score(d) = Σ_i 1/(k0 + rank_i(d)) over the lists containing d,
    with the canonical k0 = 60. Fuses rankings whose raw scores are
    incomparable (BM25 vs cosine) using only the rank integers.

    Determinism (the t12/bm25 discipline): floating addition is
    order-sensitive, so each list's contribution is pivoted into its
    OWN column (a MIN over a group where the list holds at most one
    rank per id) and the columns are added left-to-right in the
    caller-given list order — any engine evaluating the same
    parenthesization reproduces the fused score bit-for-bit. An id a
    list does not contain contributes exactly 0.0 from that list.

    Output: (id, rrf_score, n_lists, rnk) — n_lists = how many input
    lists contained the id; rnk = fused rank (ties broken by id);
    top_k rows via TakeOrdered (no global sort exchange).

    Scale: the inputs are top-N lists, so the union is ≤ n·N rows
    REGARDLESS of corpus size — one tiny hash aggregation, nothing
    corpus-shaped moves. A duplicate id within one list keeps its
    best (minimum) rank.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    parts = [
        r.select(
            F.col(id_col),
            F.lit(i).alias("__src"),
            F.col(rank_col).cast("bigint").alias("__rnk"),
        )
        for i, r in enumerate(rankings)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    piv = u.groupBy(id_col).agg(
        *[
            F.min(F.when(F.col("__src") == i, F.col("__rnk"))).alias(f"__r_{i}")
            for i in range(len(parts))
        ]
    )

    def contrib(i: int) -> Column:
        return F.when(
            F.col(f"__r_{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"__r_{i}").cast("double")),
        ).otherwise(F.lit(0.0))

    total = contrib(0)
    for i in range(1, len(parts)):
        total = total + contrib(i)
    n_lists = F.col("__r_0").isNotNull().cast("int")
    for i in range(1, len(parts)):
        n_lists = n_lists + F.col(f"__r_{i}").isNotNull().cast("int")
    scored = piv.select(
        F.col(id_col),
        total.alias("rrf_score"),
        n_lists.cast("int").alias("n_lists"),
    ).orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(top_k)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-dup: every pair (id_a < id_b) with
    cosine ≥ threshold, over the integer-quantized grid (engine-exact).

    O(n²) pairs — this is the correctness baseline and oracle twin.
    The 100 TB path is :func:`cosine_neardup_lsh`, which prunes the
    pair space to same-LSH-bucket candidates first.
    """
    base = (
        spread(df.select(F.col(id_col), F.col(vec_col)), "light")
        .select(F.col(id_col).alias("id"), quantize(vec_col).alias("v"))
        .withColumn("n2", norm2_long(F.col("v")))
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n2").alias("na")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n2").alias("nb")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        cosine(dot_long(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")).alias(
            "cos_sim"
        ),
    ).filter(F.col("cos_sim") >= threshold)


def cosine_neardup_blocked(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup as a DISTRIBUTED block-pair
    GEMM — no driver materialization anywhere in the plan.

    Shape: rows hash into ``n_blocks`` blocks; each block is packed
    into one (ids, matrix) row via collect_list; a tiny B×B upper-
    triangular grid of (blk_a, blk_b) ids is equi-joined back to the
    packed blocks (two hash joins — the big side never touches the
    driver); each of the B(B+1)/2 grid tasks computes its block-pair
    similarity tile in a single BLAS matmul and emits only pairs above
    threshold.

    Bit-identical to :func:`cosine_neardup_pairs`: on the 1e-6
    quantized grid every dot product and norm is < 2^53, so float64
    GEMM is EXACT integer arithmetic, and the final cosine is the same
    one-division double expression the SQL oracle computes.

    Scale envelope: shuffle volume is O(B × corpus) (each block ships
    to ~B tile tasks) and one tile (two blocks) must fit a task's
    memory — pick B ≈ corpus_bytes / executor_task_budget. Exact
    all-pairs is inherently O(n²) compute; beyond ~10⁷ vectors use
    :func:`cosine_neardup_lsh` (candidate pruning) instead.
    """
    import pyspark.sql.types as T

    if n_blocks is None:
        n_blocks = min(16, df.sparkSession.sparkContext.defaultParallelism)

    base = spread(df.select(F.col(id_col), F.col(vec_col)), "light").select(
        F.col(id_col).alias("id"),
        quantize(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    packed = base.groupBy("blk").agg(
        F.collect_list("id").alias("ids"), F.collect_list("v").alias("vs")
    )
    blks = packed.select("blk")
    # tiny B×B upper-triangular grid (ids only), then two EQUI-joins to
    # re-attach the packed matrices — broadcast the grid, shuffle the blocks
    grid = (
        blks.select(F.col("blk").alias("blk_a"))
        .crossJoin(blks.select(F.col("blk").alias("blk_b")))
        .filter(F.col("blk_a") <= F.col("blk_b"))
    )
    work = (
        F.broadcast(grid)
        .join(
            packed.select(
                F.col("blk").alias("blk_a"),
                F.col("ids").alias("ids_a"),
                F.col("vs").alias("vs_a"),
            ),
            "blk_a",
        )
        .join(
            packed.select(
                F.col("blk").alias("blk_b"),
                F.col("ids").alias("ids_b"),
                F.col("vs").alias("vs_b"),
            ),
            "blk_b",
        )
        # one tile per task: the GEMM below is the unit of work
        .repartition(F.col("blk_a"), F.col("blk_b"))
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def tile(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                l_ids = np.asarray(row.ids_a, dtype=np.int64)
                r_ids = np.asarray(row.ids_b, dtype=np.int64)
                l_m = _to_matrix(pd.Series(list(row.vs_a)))
                r_m = _to_matrix(pd.Series(list(row.vs_b)))
                l_norms = np.sqrt((l_m * l_m).sum(axis=1))
                r_norms = np.sqrt((r_m * r_m).sum(axis=1))
                cos = (l_m @ r_m.T) / (l_norms[:, None] * r_norms[None, :])
                if row.blk_a == row.blk_b:
                    # diagonal tile holds each pair twice ((x,y) and
                    # (y,x)) — keep the strict upper triangle by id
                    mask = (cos >= threshold) & (l_ids[:, None] < r_ids[None, :])
                else:
                    # off-diagonal tiles hold each pair once
                    mask = cos >= threshold
                ii, jj = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "id_a": np.minimum(l_ids[ii], r_ids[jj]),
                        "id_b": np.maximum(l_ids[ii], r_ids[jj]),
                        "cos_sim": cos[ii, jj],
                    }
                )

    return work.mapInPandas(tile, out_schema)


def _band_keys(sig: Column, bits: int, bands: int) -> Column:
    """Explodeable array of (band, key) structs from a packed signature."""
    bb = bits // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(sig, b * bb).bitwiseAND(F.lit((1 << bb) - 1)).alias("key"),
            )
            for b in range(bands)
        ]
    )


def cosine_neardup_lsh(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Approximate embedding-cosine near-dup: candidates = pairs
    sharing ≥1 SRP signature band (same shuffle-only shape as MinHash
    LSH — a groupBy-key join, no driver state, no n² blowup), then the
    exact integer cosine filter. Recall < 1 by design; measured against
    :func:`cosine_neardup_pairs` in tests."""
    base = (
        spread(df.select(F.col(id_col), F.col(vec_col)), "light")
        .select(F.col(id_col).alias("id"), quantize(vec_col).alias("v"))
        .withColumn("n2", norm2_long(F.col("v")))
        .withColumn("sig", srp_signature_batched(F.col("v"), bits))
    )
    banded = base.select(
        "id", F.explode(_band_keys(F.col("sig"), bits, bands)).alias("bk")
    ).select("id", "bk.band", "bk.key")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n2").alias("na")
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n2").alias("nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(dot_long(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 8,
    seed: int = 42,
    max_iter: int = 8,
    range_threshold: float | None = None,
    corpus_filter=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer
    partitions the corpus into ``nlist`` lists; each query probes only
    its ``nprobe`` nearest lists, then exact integer cosine + rank.
    With ``range_threshold`` set, the rank window is replaced by the
    threshold filter (range mode — use :func:`cosine_range_search_ivf`).

    ``nprobe=8`` default: smallest swept value reaching recall ≥ 0.9
    vs the exact operator on the uniform-random fixture (nlist=16,
    k=5 — sweep recorded in NOTES.md and asserted in
    tests/test_llm_ops.py::test_ivf_nprobe_recall_curve; sf0.001 and
    sf0.01 agree within 0.02). Uniform-random vectors are IVF's worst
    case — real clustered corpora reach the same recall at smaller
    nprobe/nlist ratios, so tune per corpus against a recall target,
    not a fixed constant.

    The 100 TB shape: the index build (one k-means fit + one
    assignment pass) is amortized across all queries; the search
    touches ~nprobe/nlist of the corpus via an equi-join on list_id —
    a plain hash shuffle, no n×q blowup. In production the assigned
    corpus would be written bucketed by list_id so probes are
    shuffle-free reads.

    ``corpus_filter`` (a boolean Column over the corpus' columns)
    implements FILTERED vector search over ONE shared index (the e15
    pattern at the IVF scale path): the quantizer and list assignment
    see the full corpus — one index serves every predicate — and the
    filter applies to candidates inside the probed lists, before
    ranking, so no distance is computed for excluded vectors and k
    never comes back short the way filter-after-top-k does.

    Recall < 1 by design (ANN); measured against the exact operator in
    tests. Uniform-random vectors are IVF's worst case — real
    embedding corpora cluster far better than the fixture does.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    keep = (
        corpus.select(F.col(id_col), F.col(vec_col), F.lit(True).alias("__keep"))
        if corpus_filter is None
        else corpus.select(
            F.col(id_col), F.col(vec_col), corpus_filter.alias("__keep")
        )
    )
    c = spread(keep, "light").withColumn(
        "fv", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    # a coarse quantizer doesn't need convergence — after kmeans|| init
    # the training cost moves <1% past ~5 iterations (A/B in NOTES.md)
    # while each extra iteration is a full corpus pass
    model = KMeans(
        k=nlist, seed=seed, maxIter=max_iter, featuresCol="fv", predictionCol="list_id"
    ).fit(c)
    assigned = (
        model.transform(c)
        .filter(F.col("__keep"))  # post-assignment: one shared index
        .select(
            F.col(id_col).alias("corpus_id"),
            quantize(vec_col).alias("cv"),
            F.col("list_id"),
        )
        .withColumn("cn", norm2_long(F.col("cv")))
    )

    centers = np.stack(model.clusterCenters())  # (nlist, dim) — tiny

    @F.pandas_udf("array<int>")
    def probe_lists(s: pd.Series) -> pd.Series:
        m = _to_matrix(s)
        # nearest centers by euclidean distance, all queries at once
        d2 = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1)[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(vec_col).alias("qv"),
        probe_lists(F.col(vec_col)).alias("probes"),
    ).withColumn("qn", norm2_long(F.col("qv")))
    probed = q.select(
        "query_id", "qv", "qn", F.explode("probes").alias("list_id")
    )
    cand = assigned.join(probed, "list_id").filter(
        F.col("corpus_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "corpus_id",
        cosine(dot_long(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")).alias(
            "cos_sim"
        ),
    )
    if range_threshold is not None:
        # range mode (FAISS range_search over an IVF index — e14):
        # probed candidates filtered by the exact integer cosine, no
        # rank window; recall < 1 only through unprobed lists, and
        # every emitted pair is EXACT (precision 1 — the scored
        # cosine is the true cosine, not an approximation)
        return scored.filter(
            F.col("cos_sim") >= F.lit(float(range_threshold))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def cosine_range_search_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 8,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF-bucketed cosine RANGE search — the scale path of
    :func:`cosine_range_search` exactly as :func:`cosine_topk_ivf` is
    e1's: each query probes its ``nprobe`` nearest lists and the
    threshold filters the EXACT integer cosine of the candidates, so
    precision is 1 by construction and recall is bounded only by
    unprobed lists (measured vs the exact operator in the e14 gate
    and pytest). No rank window; the probe equi-join on list_id is
    the single shuffle."""
    return cosine_topk_ivf(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        nlist=nlist,
        nprobe=nprobe,
        seed=seed,
        max_iter=max_iter,
        range_threshold=threshold,
    )


def ivf_build(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 8,
) -> None:
    """Persist an IVF index: k-means coarse quantizer, then the corpus
    — quantized vectors + norms precomputed — written hive-partitioned
    by ``list_id`` (`<path>/corpus/list_id=N/…`), centers to
    `<path>/centers`.

    The scale story: the k-means fit + assignment + quantization pass
    runs ONCE; every later search scans only the probed ``list_id``
    directories (partition pruning — the directories for unprobed
    lists are never listed or opened), with vectors already in
    integer-cosine form. This is the batch analog of loading a FAISS
    IVF index instead of re-indexing per query set.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from sparkswift.sources.writers import write_table

    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), "light").withColumn(
        "fv", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=nlist, seed=seed, maxIter=max_iter, featuresCol="fv", predictionCol="list_id"
    ).fit(c)
    assigned = (
        model.transform(c)
        .select(
            F.col(id_col).alias("corpus_id"),
            quantize(vec_col).alias("cv"),
            F.col("list_id"),
        )
        .withColumn("cn", norm2_long(F.col("cv")))
    )
    centers = model.clusterCenters()
    spark = corpus.sparkSession
    cdf = local_df(
        spark,
        [(i, [float(x) for x in v]) for i, v in enumerate(centers)],
        "list_id int, center array<double>",
    )
    with _staged_dir(spark, path) as tmp:
        write_table(assigned, f"{tmp}/corpus", partition_by=["list_id"])
        write_table(cdf.coalesce(1), f"{tmp}/centers")


def ivf_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVF index
    (:func:`ivf_build`) WITHOUT re-clustering — standard IVF append
    semantics (FAISS ``index.add``): each new vector is assigned to
    its nearest EXISTING center (same euclidean rule the k-means fit
    used), quantized, and appended to that ``list_id`` partition.
    Searches pick the rows up immediately; the quantizer drifts only
    if the new data's distribution does, in which case rebuild.

    Scale: centers are nlist-bounded (one tiny read), assignment is
    one vectorized pandas_udf pass over the new batch, and the append
    touches only the partitions the batch lands in.
    """
    import numpy as np

    rows = spark.read.parquet(f"{path}/centers").orderBy("list_id").collect()
    centers = np.asarray([r.center for r in rows], dtype=np.float64)

    @F.pandas_udf("int")
    def nearest_center(s: pd.Series) -> pd.Series:
        m = _to_matrix(s)
        d2 = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    assigned = (
        spread(new_vectors.select(F.col(id_col), F.col(vec_col)), "light")
        .select(
            F.col(id_col).alias("corpus_id"),
            quantize(vec_col).alias("cv"),
            nearest_center(F.col(vec_col)).alias("list_id"),
        )
        .withColumn("cn", norm2_long(F.col("cv")))
    )
    assigned.write.mode("append").partitionBy("list_id").parquet(f"{path}/corpus")


def ivf_rebalance(
    spark,
    path: str,
    max_list_size: int,
    seed: int = 42,
) -> int:
    """Split oversized IVF lists in a persisted index — the
    maintenance pass after many :func:`ivf_add` batches have piled
    onto hot lists (an oversized list = a probe that scans too much).

    Each list over ``max_list_size`` is 2-means-split IN PLACE: half
    its rows keep the old ``list_id``, half move to a fresh one, and
    both centers are updated — so searches immediately probe the
    tighter lists. Returns the number of lists split.

    Scale shape: the per-list row counts and the centers table are
    nlist-bounded reads; each split touches ONLY that list's partition
    (partition-pruned read, localCheckpoint to break lineage, dynamic
    partition overwrite writes just the two affected ``list_id``
    directories). Nothing else in the corpus is read or rewritten.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_path = f"{path}/corpus"
    counts = {
        r.list_id: r["count"]
        for r in spark.read.parquet(corpus_path).groupBy("list_id").count().collect()
    }
    rows = spark.read.parquet(f"{path}/centers").orderBy("list_id").collect()
    centers: dict[int, list[float]] = {r.list_id: list(r.center) for r in rows}
    oversized = sorted(l for l, n in counts.items() if n > max_list_size)
    if not oversized:
        return 0
    next_id = max(centers) + 1

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for lid in oversized:
            part = (
                spark.read.parquet(corpus_path)
                .filter(F.col("list_id") == lid)
                .localCheckpoint()  # materialize before overwriting source
            )
            feats = part.withColumn(
                "fv", array_to_vector(F.col("cv").cast("array<double>"))
            )
            model = KMeans(
                k=2, seed=seed, maxIter=8, featuresCol="fv", predictionCol="sub"
            ).fit(feats)
            out = (
                model.transform(feats)
                .select(
                    "corpus_id",
                    "cv",
                    "cn",
                    F.when(F.col("sub") == 0, F.lit(lid))
                    .otherwise(F.lit(next_id))
                    .alias("list_id"),
                )
            )
            out.write.mode("overwrite").partitionBy("list_id").parquet(corpus_path)
            c0, c1 = model.clusterCenters()
            # centers live in ORIGINAL embedding space; cv is quantized
            centers[lid] = [float(x) / QUANT for x in c0]
            centers[next_id] = [float(x) / QUANT for x in c1]
            next_id += 1
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    cdf = local_df(
        spark, sorted(centers.items()), "list_id int, center array<double>"
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centers")
    return len(oversized)


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
) -> DataFrame:
    """Search a persisted IVF index (:func:`ivf_build`).

    ``nprobe=8`` default justified by the same recall sweep as
    :func:`cosine_topk_ivf` (identical probe semantics).

    Probe assignment happens driver-side-cheap: centers are a tiny
    table, the per-query nearest-``nprobe`` lists come from one
    vectorized pandas_udf pass over the queries. The union of probed
    lists becomes a static ``isin`` filter on the corpus scan —
    Catalyst turns it into PartitionFilters, so unprobed ``list_id=N``
    directories are skipped at file-listing time. Per-query matching
    stays an equi-join on ``list_id``.
    """
    import numpy as np

    rows = spark.read.parquet(f"{path}/centers").orderBy("list_id").collect()
    centers = np.asarray([r.center for r in rows], dtype=np.float64)
    nprobe = min(nprobe, len(centers))

    @F.pandas_udf("array<int>")
    def probe_lists(s: pd.Series) -> pd.Series:
        m = _to_matrix(s)
        d2 = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1)[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            quantize(vec_col).alias("qv"),
            probe_lists(F.col(vec_col)).alias("probes"),
        )
        .withColumn("qn", norm2_long(F.col("qv")))
        .localCheckpoint()  # probes computed once, reused below
    )
    probed_lists = sorted(
        r.l for r in q.select(F.explode("probes").alias("l")).distinct().collect()
    )
    probed = q.select("query_id", "qv", "qn", F.explode("probes").alias("list_id"))

    assigned = spark.read.parquet(f"{path}/corpus").filter(
        F.col("list_id").isin(probed_lists)
    )
    cand = assigned.join(probed, "list_id").filter(
        F.col("corpus_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "corpus_id",
        cosine(dot_long(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def srp_signature(vec: Column, bits: int = 16, dim: int = 64) -> Column:
    """Sign-random-projection signature: bit j = sign(v · h_j) where
    hyperplane h_j components are deterministic pseudo-random ±1
    derived from xxhash64(j, i) — no RNG state, reproducible on any
    cluster."""
    def bit(j: int) -> Column:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: F.when(
                    F.xxhash64(F.lit(j), i).bitwiseAND(F.lit(1)) == 1, x
                ).otherwise(-x),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
            F.lit(0).cast("long")
        )

    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig.bitwiseXOR(bit(j))
    return sig


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 32,
    bands: int = 8,
    query_filter: Column | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = pairs sharing ≥1 signature band
    (bits/bands bits each), then exact integer cosine on candidates
    only. Same output schema as cosine_topk; recall < 1 by design —
    benchmarked against the exact operator in tests.

    The corpus signature frame is ``localCheckpoint``-ed: quantize +
    norm + SRP signature run ONCE, and the four lazy consumers (band
    explode + vector re-attach, per side) read materialized blocks
    instead of re-deriving the projection chain — Catalyst has no
    common-subtree reuse across join branches, so without this the
    signature compute ran up to 4×.

    ``query_filter`` covers the queries-are-a-subset-of-corpus shape
    (e.g. score new docs against the whole collection): the query side
    is derived from the already-materialized corpus signatures by
    filter + rename — zero recompute — instead of passing an
    overlapping ``queries`` frame that would re-signature the subset.
    """
    bb = bits // bands
    if (queries is None) == (query_filter is None):
        raise ValueError("pass exactly one of queries= or query_filter=")

    def sigs(df: DataFrame, prefix: str, flag: Column | None = None) -> DataFrame:
        extra = [flag.alias("__is_q")] if flag is not None else []
        return spread(df.select(F.col(id_col), F.col(vec_col), *extra), "light").select(
            F.col(id_col).alias(f"{prefix}_id"),
            quantize(vec_col).alias(f"{prefix}v"),
            *(["__is_q"] if flag is not None else []),
        ).withColumn(f"{prefix}n", norm2_long(F.col(f"{prefix}v"))).withColumn(
            "sig", srp_signature_batched(F.col(f"{prefix}v"), bits)
        )

    def banded(base: DataFrame, prefix: str) -> DataFrame:
        # band join + pair dedup on BARE IDS; vectors re-attach after
        return base.select(
            f"{prefix}_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright(F.col("sig"), b * bb)
                            .bitwiseAND(F.lit((1 << bb) - 1))
                            .alias("key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(
            f"{prefix}_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )

    if query_filter is not None:
        cs = sigs(corpus, "corpus", flag=query_filter).localCheckpoint()
        qemb = (
            cs.filter(F.col("__is_q"))
            .select(
                F.col("corpus_id").alias("query_id"),
                F.col("corpusv").alias("queryv"),
                F.col("corpusn").alias("queryn"),
                "sig",
            )
        )
        cs = cs.drop("__is_q")
    else:
        cs = sigs(corpus, "corpus").localCheckpoint()
        qemb = sigs(queries, "query").localCheckpoint()
    cand_ids = (
        banded(cs, "corpus")
        .join(banded(qemb, "query"), ["band", "key"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    cand = cand_ids.join(
        qemb.select("query_id", "queryv", "queryn"), "query_id"
    ).join(cs.select("corpus_id", "corpusv", "corpusn"), "corpus_id")
    scored = cand.select(
        "query_id",
        "corpus_id",
        cosine(
            dot_long(F.col("queryv"), F.col("corpusv")), F.col("queryn"), F.col("corpusn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then
    within each cluster drop every vector that has a LOWER-ID
    near-duplicate at cosine ≥ ``threshold``. Clustering bounds the
    quadratic: candidate pairs exist only inside a cluster, so the
    pair count is Σ|c|² instead of n² — the paper's reason for
    clustering first. Keep-lowest-id replaces the paper's random
    keeper so reruns are deterministic.

    Returns every input id with its ``list_id`` (cluster) and a
    ``keep`` flag — callers filter ``keep`` for survivors or join the
    flag back to the document table.

    Plan shape: one k-means fit (nlist-bounded driver state) + one
    assignment pass; the intra-cluster pair generation is a hash
    self-equi-join ON THE CLUSTER ID over integer-quantized vectors
    (exact cosine, same grid as d5/e1); "has an earlier neighbor" is a
    left-semi join. At 100 TB the knob is ``n_clusters``: pick it so
    the biggest cluster's pairs fit a task (the paper runs 50k
    clusters at web scale — cluster size, not corpus size, is the
    cost). A skewed giant cluster behaves like any skewed equi-join —
    AQE splits it, or raise ``n_clusters`` / pre-salt. The exact
    un-clustered twin for recall measurement is
    :func:`cosine_neardup_pairs` / :func:`cosine_neardup_blocked`.
    """
    # sampled coarse trainer (the IVF-family design, NOTES r5/r6):
    # seeded driver Lloyd on a bounded deterministic sample in
    # NORMALIZED space (SemDeDup clusters normalized embeddings —
    # cosine geometry), then ONE distributed assignment pass — no
    # full-corpus k-means iterations. At 100 TB the trainer cost is
    # constant; assignment is the only corpus-sized work.
    c = spread(df.select(F.col(id_col), F.col(vec_col)), "light")
    centers = coarse_train(
        c,
        n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        iters=max_iter,
    )
    assigned = (
        assign_lists(c, centers, vec_col=vec_col)
        .select(F.col(id_col).alias("id"), "list_id", quantize(vec_col).alias("v"))
        .withColumn("n2", norm2_long(F.col("v")))
        .localCheckpoint()  # assignment computed once, reused 3×
    )
    return _semdedup_batch_flags(assigned, threshold).select(
        F.col("id").alias(id_col),
        "list_id",
        F.col("is_survivor").alias("keep"),
    )


def _semdedup_batch_flags(
    assigned: DataFrame, threshold: float
) -> DataFrame:
    """Within-batch SemDeDup keep flags over an ``(id, list_id, v,
    n2)`` frame: drop every vector with a LOWER-ID near-dup in the
    same cluster (the deterministic keeper rule). One cluster-keyed
    self-join, exact integer cosine."""
    a = assigned.select(
        "list_id", F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n2").alias("na"),
    )
    b = assigned.select(
        "list_id", F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n2").alias("nb"),
    )
    dup = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine(dot_long(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return assigned.join(
        dup.withColumn("__dup", F.lit(True)), "id", "left"
    ).withColumn("is_survivor", F.coalesce(~F.col("__dup"), F.lit(True)))


def _semdedup_store(spark, store: str, num_buckets: int = 16):
    """The SemDeDup store through the shared lifecycle contract
    (sources/store.py): frozen centers are the tiny MARKER member
    (written last — its existence certifies a complete build), the
    survivor vectors are the list_id-bucketed data member (every
    probe join reads shuffle-free forever)."""
    from sparkswift.sources.store import Member, Store

    return Store(
        spark,
        store,
        [
            Member("centers", tiny=True),
            Member("vecs", bucket_cols=("list_id",), sort_cols=("list_id", "id")),
        ],
        catalog=True,
        num_buckets=num_buckets,
        label="semdedup store",
    )


def semdedup_store_build(
    df: DataFrame,
    store: str,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    num_buckets: int = 16,
) -> DataFrame:
    """Build a PERSISTED SemDeDup store from a seed corpus — the d14
    treatment for :func:`semdedup`, which otherwise re-clusters and
    re-pairs the whole corpus every run. ``<store>_centers`` freezes
    the k-means geometry (tiny catalog table); ``<store>_vecs`` keeps
    every SURVIVOR's integer-quantized vector + norm as a catalog
    table BUCKETED on ``list_id`` — so every later
    :func:`semdedup_add` probe joins the ever-growing store
    shuffle-free (only the new batch hashes into the bucket layout,
    and appends land pre-bucketed, preserving the property forever).

    Size ``num_buckets`` to the EVENTUAL store; at 10¹⁰ vectors use
    thousands so one bucket's vectors stay in task-memory range.

    Returns the seed decisions ``(id_col, list_id, keep)`` (same
    shape as :func:`semdedup`).
    """
    spark = df.sparkSession
    st = _semdedup_store(spark, store, num_buckets)
    if st.exists():
        raise ValueError(f"semdedup store '{store}' already exists")
    c = spread(df.select(F.col(id_col), F.col(vec_col)), "light")
    centers = coarse_train(
        c, n_clusters, id_col=id_col, vec_col=vec_col, seed=seed, iters=max_iter
    )
    assigned = (
        assign_lists(c, centers, vec_col=vec_col)
        .select(
            F.col(id_col).alias("id"), "list_id", quantize(vec_col).alias("v")
        )
        .withColumn("n2", norm2_long(F.col("v")))
        .localCheckpoint()
    )
    flagged = _semdedup_batch_flags(assigned, threshold).localCheckpoint()
    cdf = local_df(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(centers)],
        "list_id int, center array<double>",
    )
    # write_members orders vecs FIRST, centers (tiny marker) LAST:
    # centers' existence marks a complete pair, and the paired check
    # raises on any torn state between.
    st.write_members(
        {
            "vecs": flagged.filter("is_survivor").select(
                "id", "list_id", "v", "n2"
            ),
            "centers": cdf,
        }
    )
    return flagged.select(
        F.col("id").alias(id_col), "list_id", F.col("is_survivor").alias("keep")
    )


def semdedup_add(
    new_vectors: DataFrame,
    store: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    update_store: bool = True,
    num_buckets: int = 16,
) -> DataFrame:
    """Incremental SemDeDup against a persisted store — the
    embedding-side analog of :func:`~sparkswift.operators.dedup.
    neardup_incremental`'s crawl loop: a new batch is dropped when a
    semantic near-dup (cosine ≥ ``threshold``) exists IN THE CORPUS,
    without re-clustering or re-reading corpus embeddings.

    Semantics (FAISS-add style, frozen geometry): batch vectors are
    assigned to the nearest EXISTING center (deterministic — the
    quantizer never drifts mid-store, so a verbatim re-add of a
    stored survivor lands in its cluster and scores cosine EXACTLY 1
    on the shared integer grid → store hit guaranteed, the d16 gate
    law); within-batch keep is lower-id-wins per cluster; survivors
    append to ``<store>_vecs`` pre-bucketed.

    Plan shape: centers are an nlist-bounded read; the store side of
    the probe join reads SHUFFLE-FREE forever (bucketed on list_id);
    candidate pairs exist only within a cluster. Rebalance knob: if
    the data distribution drifts, rebuild the store — same contract
    as FAISS ``add`` vs re-train.

    Returns ``(id_col, list_id, in_batch_survivor, store_hit,
    survived)`` (0/1 ints) for every batch vector.
    """
    spark = new_vectors.sparkSession
    st = _semdedup_store(spark, store, num_buckets)
    if not st.exists():
        raise ValueError(
            f"semdedup store '{store}' does not exist — run "
            "semdedup_store_build first"
        )
    rows = st.read("centers").orderBy("list_id").collect()
    centers = np.asarray([r.center for r in rows], dtype=np.float64)
    assigned = (
        assign_lists(
            spread(new_vectors.select(F.col(id_col), F.col(vec_col)), "light"),
            centers,
            vec_col=vec_col,
        )
        .select(
            F.col(id_col).alias("id"), "list_id", quantize(vec_col).alias("v")
        )
        .withColumn("n2", norm2_long(F.col("v")))
        .localCheckpoint()
    )
    in_batch = _semdedup_batch_flags(assigned, threshold)
    store_vecs = st.read("vecs").select(
        "list_id",
        F.col("id").alias("sid"),
        F.col("v").alias("sv"),
        F.col("n2").alias("sn"),
    )
    hits = (
        assigned.join(store_vecs, "list_id")
        .filter(
            cosine(dot_long(F.col("v"), F.col("sv")), F.col("n2"), F.col("sn"))
            >= threshold
        )
        .select("id")
        .distinct()
        .withColumn("store_hit", F.lit(1))
    )
    out = (
        in_batch.select("id", "list_id", "is_survivor")
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "list_id",
            F.col("is_survivor").cast("int").alias("in_batch_survivor"),
            F.coalesce(F.col("store_hit"), F.lit(0)).alias("store_hit"),
            (F.col("is_survivor") & (F.coalesce(F.col("store_hit"), F.lit(0)) == 0))
            .cast("int")
            .alias("survived"),
        )
        .localCheckpoint()  # pin decisions before the store mutates
    )
    if update_store:
        winners = out.filter(F.col("survived") == 1).select(
            F.col(id_col).alias("id")
        )
        st.append(
            "vecs",
            assigned.join(winners, "id").select("id", "list_id", "v", "n2"),
        )
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the third leg of the FAISS ANN triad
# (flat/e1, LSH/e2, IVF/e3-e4). The vector is split into m subvectors,
# each quantized to one of ksub per-subspace centroids; a vector
# becomes m small codes (m·log2(ksub) bits, e.g. 64 dims → 8 bytes at
# m=8/ksub=256 vs 256 bytes raw). Search scans CODES, not vectors:
# per query, an m×ksub lookup table of subvector dot products turns
# each corpus vector's score into m table gathers (ADC — asymmetric
# distance computation, Jégou et al. 2011, public).
# ---------------------------------------------------------------------------


def _pq_kmeans_1d(sub: np.ndarray, ksub: int, seed: int, iters: int) -> np.ndarray:
    """Seeded Lloyd k-means for ONE subspace of the training sample —
    runs on the driver over a bounded sample (the FAISS training
    pattern). Deterministic: seeded init, fixed iteration count,
    empty clusters re-seeded from the farthest points."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sub.shape[0]
    if n < ksub:
        raise ValueError(f"training sample ({n}) smaller than ksub ({ksub})")
    centers = sub[rng.choice(n, size=ksub, replace=False)].copy()
    for _ in range(iters):
        d = ((sub[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(ksub):
            mask = assign == j
            if mask.any():
                centers[j] = sub[mask].mean(axis=0)
            else:  # re-seed dead centroid at the current worst-fit point
                centers[j] = sub[d.min(axis=1).argmax()]
    return centers


def train_sample(
    corpus: DataFrame,
    train_size: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """One bounded deterministic sample read (lowest ``train_size``
    ids, TakeOrdered — no full sort) shared by the PQ and coarse
    trainers, so a composed build collects it once."""
    pdf = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(train_size)
        .toPandas()
    )
    return _to_matrix(pdf[vec_col])


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 32,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 20,
    sample_x: np.ndarray | None = None,
    rotate: np.ndarray | None = None,
) -> np.ndarray:
    """Train per-subspace codebooks on a bounded deterministic sample
    (lowest ``train_size`` ids — stable under partitioning and corpus
    growth-by-append-of-larger-ids). Vectors are unit-normalized first
    so inner product == cosine downstream. Returns codebooks of shape
    ``(m, ksub, dim // m)`` — a few KB, shipped to executors inside
    the UDF closure.

    Scale: training reads ``train_size`` rows ONCE (TakeOrdered — no
    full sort); everything sized by the corpus happens distributed in
    :func:`pq_encode` / :func:`cosine_topk_pq`.
    """
    x = (
        train_sample(corpus, train_size, id_col=id_col, vec_col=vec_col)
        if sample_x is None
        else sample_x
    )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    x = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-12)
    if rotate is not None:
        x = x @ rotate.T  # orthogonal → unit norms preserved
    dsub = dim // m
    return np.stack(
        [
            _pq_kmeans_1d(x[:, j * dsub : (j + 1) * dsub], ksub, seed + j, iters)
            for j in range(m)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    rotate: np.ndarray | None = None,
) -> DataFrame:
    """Encode every corpus vector to its m nearest-centroid codes —
    one Arrow-batched numpy kernel (batch × ksub distance matrix per
    subspace), fully distributed, no shuffle. Returns
    ``(corpus_id, codes array<int>, *keep_cols)``."""
    m, ksub, dsub = codebooks.shape
    cb = codebooks  # closure-captured; a few KB

    rot = rotate  # closure-captured; d×d float64, a few KB

    @F.pandas_udf("array<int>")
    def enc(s: pd.Series) -> pd.Series:
        x = _to_matrix(s)
        x = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-12)
        if rot is not None:
            x = x @ rot.T
        codes = np.empty((x.shape[0], m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            # ||s - c||² = ||s||² - 2 s·c + ||c||²; ||s||² constant per row
            d = -2.0 * (sub @ cb[j].T) + (cb[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    cols = [F.col(id_col), F.col(vec_col), *(F.col(c) for c in keep_cols)]
    return spread(corpus.select(*cols), "light").select(
        F.col(id_col).alias("corpus_id"),
        enc(F.col(vec_col)).alias("codes"),
        *(F.col(c) for c in keep_cols),
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    m: int = 16,
    ksub: int = 64,
    train_size: int = 2048,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    rotate: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k via PQ codes + ADC scan + exact
    re-ranking. Same output shape as :func:`cosine_topk`
    (``query_id, corpus_id, rnk, cos_sim``); recall vs the exact
    operator is asserted in tests. Defaults chosen by sweep on the
    uniform-random fixture (ANN's worst case — see NOTES.md):
    m=16/ksub=64/refine=4 → recall@5 0.92 (refine=8 → 0.98) with
    12-byte codes (21× smaller than the raw float32 vector).

    Plan shape (the 100 TB story):

    1. train: one bounded-sample read (driver, FAISS pattern);
    2. encode: one distributed scan → codes (32× smaller than raw);
    3. ADC scan: ONE pass over codes; per Arrow batch the score matrix
       is m gathers into the broadcast (nq × m × ksub) LUT; each
       PARTITION emits only its local top-(k·refine) per query — the
       shuffle that follows carries `partitions × nq × k·refine`
       rows, never the corpus;
    4. refine: the tiny candidate set joins back to exact quantized
       vectors (hash join on corpus_id, candidate side broadcast-able)
       and is re-ranked with the exact integer-grid cosine — so
       emitted `cos_sim` values are EXACT for the survivors, and the
       only approximation is which candidates made the list.
    """
    codebooks = pq_train(
        corpus,
        m=m,
        ksub=ksub,
        train_size=train_size,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        rotate=rotate,
    )
    _, _, dsub = codebooks.shape
    codes = pq_encode(
        corpus, codebooks, id_col=id_col, vec_col=vec_col, rotate=rotate
    )

    qpd = queries.select(F.col(id_col), F.col(vec_col)).orderBy(id_col).toPandas()
    qx = _to_matrix(qpd[vec_col])
    qx = qx / np.linalg.norm(qx, axis=1, keepdims=True).clip(min=1e-12)
    if rotate is not None:
        # rotation is applied IN CODE SPACE only: the ADC scan ranks
        # rotated-space products (cos-invariant under an orthogonal
        # R), while the refine step re-ranks survivors on the
        # ORIGINAL integer-grid vectors — same metric, exact output
        qx = qx @ rotate.T
    qids = qpd[id_col].to_numpy(dtype=np.int64)
    nq = len(qids)
    # LUT[q, j, c] = q_subvec_j · centroid_{j,c}  — cosine contribution
    lut = np.einsum(
        "qjd,jcd->qjc",
        qx.reshape(nq, codebooks.shape[0], dsub),
        codebooks,
    ).astype(np.float64)
    kr = k * refine

    def adc_scan(batches):
        # per-partition running top-kr per query: scores accumulated
        # across batches, reduced once at the end — bounded memory
        best_ids: list[np.ndarray] = []
        best_scores: list[np.ndarray] = []
        for pdf in batches:
            cid = pdf["corpus_id"].to_numpy(dtype=np.int64)
            c = np.asarray(pdf["codes"].tolist(), dtype=np.int64)  # (b, m)
            # scores[q, b] = Σ_j LUT[q, j, codes[b, j]]
            s = lut[:, np.arange(c.shape[1])[None, :], c].sum(axis=2)
            mask = cid[None, :] != qids[:, None]  # drop self-matches
            s = np.where(mask, s, -np.inf)
            if s.shape[1] > kr:
                idx = np.argpartition(-s, kr - 1, axis=1)[:, :kr]
            else:
                idx = np.tile(np.arange(s.shape[1]), (nq, 1))
            best_ids.append(cid[idx])
            best_scores.append(np.take_along_axis(s, idx, axis=1))
        if not best_ids:
            return
        ids = np.concatenate(best_ids, axis=1)
        sc = np.concatenate(best_scores, axis=1)
        if ids.shape[1] > kr:
            idx = np.argpartition(-sc, kr - 1, axis=1)[:, :kr]
            ids = np.take_along_axis(ids, idx, axis=1)
            sc = np.take_along_axis(sc, idx, axis=1)
        keep = np.isfinite(sc)
        qcol = np.repeat(qids, ids.shape[1]).reshape(nq, -1)
        yield pd.DataFrame(
            {
                "query_id": qcol[keep],
                "corpus_id": ids[keep],
                "adc_score": sc[keep],
            }
        )

    cands = codes.mapInPandas(
        adc_scan, "query_id long, corpus_id long, adc_score double"
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("corpus_id")
    )
    cands = (
        cands.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= kr)
        .select("query_id", "corpus_id")
    )

    # exact integer-grid re-rank of the candidate set (same arithmetic
    # as cosine_topk → emitted cos_sim is engine-exact)
    scored = _exact_rerank_scored(corpus, queries, cands, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    nlist: int = 16,
    nprobe: int = 8,
    m: int = 16,
    ksub: int = 64,
    train_size: int = 2048,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVFPQ — the composed 100 TB ANN design (the FAISS `IVFx,PQy`
    index): an IVF coarse quantizer prunes WHICH rows are scanned
    (~nprobe/nlist of the corpus) and PQ codes shrink WHAT is scanned
    (12-byte codes vs 256-byte raw vectors), so a probe reads
    nprobe/nlist × 1/21 of the raw bytes. Encoding is non-residual
    (scores approximate q·x directly, FAISS ``by_residual=False``) —
    that keeps one global codebook valid for every list, which is what
    lets :func:`ivf_add`-style appends skip retraining.

    Search plan: (1) probes and per-query LUTs are driver-computed
    from the bounded query set; (2) the tiny (query_id, list_id) probe
    table broadcast-joins the codes — the ONLY corpus-sized motion,
    and a hash join on an equi-key, not a crossJoin; (3) one
    ``applyInPandas`` per query group reduces its probed candidates to
    top-(k·refine) by ADC gathers; (4) the surviving candidate set is
    re-ranked with the exact integer-grid cosine (emitted ``cos_sim``
    is exact; only candidate CHOICE is approximate). Recall vs the
    exact operator is pytest-asserted.

    Output shape matches :func:`cosine_topk`:
    ``(query_id, corpus_id, rnk, cos_sim)``.
    """
    sx = train_sample(corpus, train_size, id_col=id_col, vec_col=vec_col)
    centers = coarse_train(
        corpus,
        nlist,
        train_size=train_size,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        iters=max_iter,
        sample_x=sx,
    )
    assigned = assign_lists(
        spread(corpus.select(F.col(id_col), F.col(vec_col)), "light"), centers,
        vec_col=vec_col,
    )

    codebooks = pq_train(
        corpus,
        m=m,
        ksub=ksub,
        train_size=train_size,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        sample_x=sx,
    )
    dsub = codebooks.shape[2]
    codes = pq_encode(
        assigned, codebooks, id_col=id_col, vec_col=vec_col, keep_cols=("list_id",)
    )

    qpd = queries.select(F.col(id_col), F.col(vec_col)).orderBy(id_col).toPandas()
    qx = _to_matrix(qpd[vec_col])
    qxn = qx / np.linalg.norm(qx, axis=1, keepdims=True).clip(min=1e-12)
    qids = qpd[id_col].to_numpy(dtype=np.int64)
    lut = np.einsum(
        "qjd,jcd->qjc", qxn.reshape(len(qids), m, dsub), codebooks
    ).astype(np.float64)
    qrow = {int(qid): i for i, qid in enumerate(qids)}
    d2 = ((qxn[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    probe_idx = np.argsort(d2, axis=1)[:, :nprobe]
    probes = local_df(
        corpus.sparkSession,
        [
            (int(qid), int(lid))
            for qid, row in zip(qids, probe_idx)
            for lid in row
        ],
        "query_id long, list_id int",
    )
    kr = k * refine

    def adc_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        row = lut[qrow[qid]]  # (m, ksub)
        cmat = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
        s = row[np.arange(m)[None, :], cmat].sum(axis=1)
        cid = pdf["corpus_id"].to_numpy(dtype=np.int64)
        s = np.where(cid != qid, s, -np.inf)
        order = np.argsort(-s)[:kr]
        order = order[np.isfinite(s[order])]
        return pd.DataFrame({"query_id": qid, "corpus_id": cid[order]})

    cand = (
        prepart(codes.join(F.broadcast(probes), "list_id"), ["query_id"])
        .groupBy("query_id")
        .applyInPandas(adc_topk, "query_id long, corpus_id long")
    )

    # exact re-rank runs ON the spread corpus scan with the bounded
    # (queries × k·refine) candidate set broadcast — the quantize +
    # integer-cosine work parallelizes across the corpus partitioning
    # instead of collapsing into one AQE-coalesced join task
    scored = _exact_rerank_scored(corpus, queries, cand, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def ivfpq_build(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    m: int = 16,
    ksub: int = 64,
    train_size: int = 2048,
    seed: int = 42,
    max_iter: int = 8,
) -> None:
    """Persist an IVFPQ index — the compressed sibling of
    :func:`ivf_build`: the corpus is stored as 12-byte PQ CODES
    hive-partitioned by ``list_id`` (`<path>/codes/list_id=N/…`),
    coarse centers to `<path>/centers`, PQ codebooks to
    `<path>/codebooks`. A probe therefore reads nprobe/nlist of the
    ROWS at ~1/21 of the BYTES — at 10¹⁰ vectors the probe scan is
    ~120 GB of codes instead of 2.5 TB of floats. Raw vectors are NOT
    stored (FAISS IVFPQ semantics); exact re-ranking at search time
    joins back to the live corpus table.

    Non-residual encoding (one global codebook, valid for every list)
    keeps ``ivf_add``-style appends retrain-free: encode the new batch
    with the saved codebooks, assign to nearest saved center, append
    to that partition.
    """
    from sparkswift.sources.writers import write_table

    sx = train_sample(corpus, train_size, id_col=id_col, vec_col=vec_col)
    centers_np = coarse_train(
        corpus,
        nlist,
        train_size=train_size,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        iters=max_iter,
        sample_x=sx,
    )
    assigned = assign_lists(
        spread(corpus.select(F.col(id_col), F.col(vec_col)), "light"), centers_np,
        vec_col=vec_col,
    )
    codebooks = pq_train(
        corpus,
        m=m,
        ksub=ksub,
        train_size=train_size,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        sample_x=sx,
    )
    codes = pq_encode(
        assigned, codebooks, id_col=id_col, vec_col=vec_col, keep_cols=("list_id",)
    )
    spark = corpus.sparkSession
    cdf = local_df(
        spark,
        [(i, [float(x) for x in v]) for i, v in enumerate(centers_np)],
        "list_id int, center array<double>",
    )
    mm, kk, dsub = codebooks.shape
    cbdf = local_df(
        spark,
        [
            (j, c_i, [float(x) for x in codebooks[j, c_i]])
            for j in range(mm)
            for c_i in range(kk)
        ],
        "subspace int, code int, centroid array<double>",
    )
    with _staged_dir(spark, path) as tmp:
        write_table(codes, f"{tmp}/codes", partition_by=["list_id"])
        write_table(cdf.coalesce(1), f"{tmp}/centers")
        write_table(cbdf.coalesce(1), f"{tmp}/codebooks")


def ivfpq_search(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
    refine: int = 4,
) -> DataFrame:
    """Search a persisted IVFPQ index. The codes scan carries a
    ``list_id`` partition filter (only probed directories are listed/
    opened — plan-asserted in tests) and each probed row costs m
    int-gathers into the query's LUT; the top-(k·refine) survivors
    per query re-rank with the exact integer-grid cosine against the
    LIVE corpus table (``corpus`` — the index stores no raw vectors).

    Same output shape as :func:`cosine_topk`.
    """
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.subspace for r in cb_rows)
    ksub = 1 + max(r.code for r in cb_rows)
    dsub = len(cb_rows[0].centroid)
    codebooks = np.empty((m, ksub, dsub))
    for r in cb_rows:
        codebooks[r.subspace, r.code] = r.centroid
    centers = np.stack(
        [
            np.asarray(r.center)
            for r in spark.read.parquet(f"{path}/centers").orderBy("list_id").collect()
        ]
    )

    qpd = queries.select(F.col(id_col), F.col(vec_col)).orderBy(id_col).toPandas()
    qx = _to_matrix(qpd[vec_col])
    qxn = qx / np.linalg.norm(qx, axis=1, keepdims=True).clip(min=1e-12)
    qids = qpd[id_col].to_numpy(dtype=np.int64)
    lut = np.einsum(
        "qjd,jcd->qjc", qxn.reshape(len(qids), m, dsub), codebooks
    ).astype(np.float64)
    qrow = {int(qid): i for i, qid in enumerate(qids)}
    d2 = ((qxn[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    probe_idx = np.argsort(d2, axis=1)[:, :nprobe]
    probed_lists = sorted({int(l) for row in probe_idx for l in row})
    probes = local_df(
        spark,
        [
            (int(qid), int(lid))
            for qid, row in zip(qids, probe_idx)
            for lid in row
        ],
        "query_id long, list_id int",
    )
    kr = k * refine

    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("list_id").isin(probed_lists)  # partition pruning
    )

    def adc_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        row = lut[qrow[qid]]
        cmat = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
        s = row[np.arange(m)[None, :], cmat].sum(axis=1)
        cid = pdf["corpus_id"].to_numpy(dtype=np.int64)
        s = np.where(cid != qid, s, -np.inf)
        order = np.argsort(-s)[:kr]
        order = order[np.isfinite(s[order])]
        return pd.DataFrame({"query_id": qid, "corpus_id": cid[order]})

    cand = (
        prepart(codes.join(F.broadcast(probes), "list_id"), ["query_id"])
        .groupBy("query_id")
        .applyInPandas(adc_topk, "query_id long, corpus_id long")
    )

    # exact re-rank runs ON the spread corpus scan with the bounded
    # (queries × k·refine) candidate set broadcast — the quantize +
    # integer-cosine work parallelizes across the corpus partitioning
    # instead of collapsing into one AQE-coalesced join task
    scored = _exact_rerank_scored(corpus, queries, cand, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )


def ivfpq_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVFPQ index
    (:func:`ivfpq_build`) without retraining — this is exactly why
    the index encodes NON-residual: one global codebook stays valid
    for every list, so an append is (a) nearest-EXISTING-center
    assignment, (b) PQ encode with the SAVED codebooks, (c) append to
    the landed ``list_id`` partitions. Searches pick the rows up
    immediately; rebuild only on real distribution drift.

    Scale: centers + codebooks are tiny bounded reads; the encode is
    one Arrow-batched pass over the new batch; only landed partitions
    are touched.
    """
    rows = spark.read.parquet(f"{path}/centers").orderBy("list_id").collect()
    centers = np.asarray([r.center for r in rows], dtype=np.float64)
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.subspace for r in cb_rows)
    ksub = 1 + max(r.code for r in cb_rows)
    dsub = len(cb_rows[0].centroid)
    codebooks = np.empty((m, ksub, dsub))
    for r in cb_rows:
        codebooks[r.subspace, r.code] = r.centroid

    @F.pandas_udf("int")
    def nearest_center(s: pd.Series) -> pd.Series:
        x = _to_matrix(s)
        x = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-12)
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    assigned = spread(new_vectors.select(F.col(id_col), F.col(vec_col)), "light").select(
        F.col(id_col), F.col(vec_col), nearest_center(F.col(vec_col)).alias("list_id")
    )
    codes = pq_encode(
        assigned, codebooks, id_col=id_col, vec_col=vec_col, keep_cols=("list_id",)
    )
    codes.write.mode("append").partitionBy("list_id").parquet(f"{path}/codes")


def coarse_train(
    corpus: DataFrame,
    nlist: int,
    *,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 10,
    sample_x: np.ndarray | None = None,
) -> np.ndarray:
    """Train an IVF coarse quantizer on a bounded deterministic sample
    (lowest ``train_size`` ids), driver-side seeded Lloyd — the FAISS
    pattern: at 10¹⁰ vectors nobody fits k-means on the full corpus;
    the quantizer trains on ~10⁵ samples and ASSIGNMENT is the
    distributed pass. Returns ``(nlist, dim)`` centers.

    (The Spark ML ``KMeans`` route in :func:`cosine_topk_ivf` /
    :func:`ivf_build` fits on the full corpus — correct too, but pays
    8 full passes; A/B at sf0.1 the sampled trainer cut the IVFPQ
    search 6.9 s → see NOTES.md.)
    """
    x = (
        train_sample(corpus, train_size, id_col=id_col, vec_col=vec_col)
        if sample_x is None
        else sample_x
    )
    # normalized space: cosine search probes with normalized queries,
    # PQ codes encode normalized vectors, and rebalance reconstructs
    # normalized points — one consistent geometry throughout the
    # IVFPQ family
    x = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-12)
    return _pq_kmeans_1d(x, nlist, seed, iters)


def assign_lists(
    df: DataFrame,
    centers: np.ndarray,
    *,
    vec_col: str = "embedding",
    output_col: str = "list_id",
) -> DataFrame:
    """Nearest-center assignment as one Arrow-batched pass (the
    distributed half of the sampled-quantizer design)."""
    c = centers

    @F.pandas_udf("int")
    def nearest(s: pd.Series) -> pd.Series:
        x = _to_matrix(s)
        x = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-12)
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return df.withColumn(output_col, nearest(F.col(vec_col)))


def ivfpq_rebalance(
    spark,
    path: str,
    max_list_size: int,
    seed: int = 42,
) -> int:
    """Split oversized lists in a persisted IVFPQ index — the
    :func:`ivf_rebalance` analog for an index that stores NO raw
    vectors: cluster geometry is recovered by PQ RECONSTRUCTION
    (x̂ = concat_j codebook[j][code_j] — the FAISS ``reconstruct``
    path; reconstruction error is exactly the quantization error the
    search already tolerates). Each list over ``max_list_size`` is
    2-means-split on the reconstructed points; half keeps the old
    ``list_id``, half moves to a fresh one, and both centers update so
    probes immediately see the tighter lists. Codes are unchanged —
    non-residual encoding means membership moves, bytes don't.

    Scale: per split this reads ONE list partition (pruned), runs a
    driver Lloyd on its reconstructions (bounded by the list size that
    triggered the split), and dynamically overwrites two partitions.
    Returns the number of lists split.
    """
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.subspace for r in cb_rows)
    ksub = 1 + max(r.code for r in cb_rows)
    dsub = len(cb_rows[0].centroid)
    codebooks = np.empty((m, ksub, dsub))
    for r in cb_rows:
        codebooks[r.subspace, r.code] = r.centroid
    centers: dict[int, list[float]] = {
        r.list_id: list(r.center)
        for r in spark.read.parquet(f"{path}/centers").collect()
    }
    counts = {
        r.list_id: r["count"]
        for r in spark.read.parquet(f"{path}/codes").groupBy("list_id").count().collect()
    }
    oversized = sorted(l for l, n in counts.items() if n > max_list_size)
    if not oversized:
        return 0
    next_id = max(centers) + 1

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for lid in oversized:
            part = (
                spark.read.parquet(f"{path}/codes")
                .filter(F.col("list_id") == lid)
                .select("corpus_id", "codes")
                .toPandas()
            )
            cmat = np.asarray(part["codes"].tolist(), dtype=np.int64)
            # PQ reconstruction: gather each subspace's centroid
            recon = codebooks[np.arange(m)[None, :], cmat].reshape(len(part), -1)
            sub_centers = _pq_kmeans_1d(recon, 2, seed, iters=8)
            d = ((recon[:, None, :] - sub_centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            out = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "corpus_id": part["corpus_id"],
                        "codes": part["codes"],
                        "list_id": np.where(assign == 0, lid, next_id).astype(
                            "int32"
                        ),
                    }
                )
            )
            # reconstructed points are unit-normalized-space vectors;
            # centers live in the ORIGINAL embedding space for probe
            # distance — the reconstruction approximates that space up
            # to the normalization the encoder applied, which is the
            # same space probe LUTs use, so the split centers are
            # consistent with search-side probing
            centers[lid] = [float(x) for x in sub_centers[0]]
            centers[next_id] = [float(x) for x in sub_centers[1]]
            # crash-safety ordering (ADVICE r5): publish the updated
            # centers BEFORE moving codes into the new list. A failure
            # between the two writes then leaves an extra center with
            # an empty codes partition (probe-harmless, self-heals on
            # the next rebalance) — never code rows assigned to a
            # list_id that no center references, which would be
            # silently unreachable by ivfpq_search.
            cdf = local_df(
                spark,
                sorted((int(k), v) for k, v in centers.items()),
                "list_id int, center array<double>",
            )
            cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centers")
            out.write.mode("overwrite").partitionBy("list_id").parquet(
                f"{path}/codes"
            )
            next_id += 1
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    return len(oversized)


def mmr_diversify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    pool: int = 12,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998 — the standard diversity-aware top-k used to de-redundify
    retrieval results and RAG context sets): greedily pick ``k`` of
    each query's ``pool`` nearest candidates, each step maximizing

        score = lambda * rel(c)  -  (1 - lambda) * max_{s in picked} sim(c, s)

    so later picks trade relevance against redundancy with what is
    already selected.

    Exactness: relevance and candidate-candidate similarities are the
    engine's integer-grid cosines quantized to micro-units
    (round(cos * 1e6) — one rounding of a bit-identical double), and
    lambda is a tenth (``lam_tenths``/10), so every greedy comparison
    is INTEGER arithmetic: score10 = lam_tenths*relq -
    (10-lam_tenths)*max_simq, ties broken by ascending candidate id.
    The whole pick sequence is therefore deterministic and
    SQL-oracle-exact (suite e9 unrolls the greedy loop as k CTE
    steps).

    Scale shape: candidate generation is one broadcast-query corpus
    scan (cosine_topk); pairwise sims live only WITHIN each query's
    ≤ pool candidates (n_queries·pool² 24-byte rows — never corpus-
    sized); the greedy loop is a genuinely sequential algorithm, so
    it runs per-query in ONE applyInPandas pass over those bounded
    groups (the sanctioned custom-operator route) — integer
    comparisons only, no float math in Python.

    Returns ``(query_id, step, cand_id, score10)`` — ``step`` 1-based
    pick order, ``score10`` the integer MMR score at selection time
    (step 1: lam_tenths*relq).
    """
    import pandas as pd

    if not 1 <= lam_tenths <= 10:
        raise ValueError("lam_tenths must be in [1, 10]")
    if k < 1 or pool < k:
        raise ValueError("need pool >= k >= 1")
    mu = 10 - lam_tenths

    cand = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    # materialize the (n_queries·pool)-row candidate table once: it is
    # reused on three plan paths (cand vectors, pair sims, rel join) —
    # without the cut the broadcast corpus scan would re-run per path
    rel = cand.select(
        "query_id",
        F.col("corpus_id").alias("cand_id"),
        F.round(F.col("cos_sim") * 1_000_000).cast("long").alias("relq"),
    ).localCheckpoint()
    vecs = (
        spread(corpus.select(F.col(id_col), F.col(vec_col)))
        .select(F.col(id_col).alias("cand_id"), quantize(vec_col).alias("v"))
        .withColumn("n2", norm2_long(F.col("v")))
    )
    cv = rel.join(vecs, "cand_id").select("query_id", "cand_id", "relq", "v", "n2")
    other = cv.select(
        F.col("query_id"),
        F.col("cand_id").alias("other_id"),
        F.col("v").alias("ov"),
        F.col("n2").alias("on2"),
    )
    pairs = (
        cv.join(other, "query_id")
        .filter(F.col("cand_id") != F.col("other_id"))
        .select(
            "query_id",
            "cand_id",
            "relq",
            "other_id",
            F.round(
                cosine(
                    dot_long(F.col("v"), F.col("ov")), F.col("n2"), F.col("on2")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("simq"),
        )
    )
    # left join keeps single-candidate pools (no pairs) alive
    full = rel.join(pairs.drop("relq"), ["query_id", "cand_id"], "left")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        relq = {
            int(c): int(r)
            for c, r in pdf.drop_duplicates("cand_id")[["cand_id", "relq"]].values
        }
        sims: dict = {}
        for c, o, s in pdf[["cand_id", "other_id", "simq"]].values:
            if pd.notna(o):
                sims[(int(c), int(o))] = int(s)
        remaining = sorted(relq)
        picks, rows = [], []
        for step in range(1, min(k, len(remaining)) + 1):
            best = None
            for c in remaining:
                red = max((sims[(c, s)] for s in picks), default=0) if picks else 0
                score = lam_tenths * relq[c] - mu * red
                key = (score, -c)
                if best is None or key > best[0]:
                    best = (key, c, score)
            _, c, score = best
            picks.append(c)
            remaining.remove(c)
            rows.append((qid, step, c, score))
        return pd.DataFrame(
            rows, columns=["query_id", "step", "cand_id", "score10"]
        )

    return prepart(full, ["query_id"]).groupBy("query_id").applyInPandas(
        greedy, "query_id long, step long, cand_id long, score10 long"
    )


def opq_rotation(
    corpus: DataFrame,
    *,
    m: int = 16,
    dim: int | None = None,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Parametric OPQ rotation (Ge et al. 2013 "Optimized Product
    Quantization", the closed-form OPQ-P variant; same idea ships in
    FAISS as `OPQ` pretransforms): rotate vectors into the PCA basis,
    then ALLOCATE principal components to the m PQ subspaces so each
    subspace carries a balanced variance product — the imbalance
    across subspaces is exactly what makes plain PQ codebooks waste
    centroids on low-variance blocks. No iterative refinement: the
    eigenvalue-allocation greedy (assign eigenvalues in descending
    order to the unfilled subspace with the smallest running product)
    is the paper's parametric solution.

    The only data-sized work is :func:`~sparkswift.operators.pca.
    pca_gram`'s one distributed Gramian pass (exact integer moments);
    eigh and the allocation run on the driver over d×d.

    Returns the (dim, dim) float64 orthogonal matrix R — rotated
    vector = R @ x. R rows are the permuted PCA components, so
    R·Rᵀ = I and cosines are preserved exactly.
    """
    from sparkswift.operators.pca import pca_fit

    if dim is None:
        dim = int(
            corpus.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
        )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    comps, stats = pca_fit(corpus, vec_col, dim, k=dim)
    eig = np.asarray(stats["eigvals"], dtype=np.float64).clip(min=1e-12)
    dsub = dim // m
    # greedy eigenvalue allocation: descending eigenvalues, each to
    # the unfilled subspace with the smallest log-variance product
    buckets: list[list[int]] = [[] for _ in range(m)]
    load = np.zeros(m)
    for r in range(dim):  # eigvals already descending from pca_fit
        open_b = [j for j in range(m) if len(buckets[j]) < dsub]
        j = min(open_b, key=lambda b: load[b])
        buckets[j].append(r)
        load[j] += float(np.log(eig[r]))
    order = [r for b in buckets for r in b]
    return comps[order]


def cosine_topk_opq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    m: int = 16,
    ksub: int = 64,
    train_size: int = 2048,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """OPQ-rotated PQ top-k: :func:`opq_rotation` balances per-
    subspace variance, then the standard PQ pipeline runs in rotated
    space (codebooks, codes, ADC scan) while the refine step re-ranks
    survivors on the ORIGINAL integer-grid vectors — an orthogonal
    rotation preserves cosine, so the output contract is exactly
    :func:`cosine_topk_pq`'s (emitted ``cos_sim`` exact for
    survivors; only the candidate list is approximate). Adds one
    distributed Gramian pass over plain PQ; at 100 TB that cost
    amortizes over every query served by the better codebooks.
    """
    rot = opq_rotation(corpus, m=m, dim=dim, vec_col=vec_col)
    return cosine_topk_pq(
        corpus,
        queries,
        k,
        m=m,
        ksub=ksub,
        train_size=train_size,
        refine=refine,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        rotate=rot,
    )


def sq_train(
    corpus: DataFrame,
    *,
    train_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_x: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Scalar-quantizer ranges (FAISS ``SQ8`` pattern): per-dimension
    [lo, hi] of the NORMALIZED vectors from the shared bounded sample.
    Returns ``(lo, step)`` float64 arrays; encode clips outside the
    trained range (the standard SQ trade)."""
    sx = (
        sample_x
        if sample_x is not None
        else train_sample(corpus, train_size, id_col=id_col, vec_col=vec_col)
    )
    sxn = sx / np.linalg.norm(sx, axis=1, keepdims=True).clip(min=1e-12)
    lo = sxn.min(axis=0)
    hi = sxn.max(axis=0)
    step = (hi - lo) / 255.0
    step[step <= 0] = 1.0  # constant dim: all codes 0, dequant == lo
    return lo, step


def sq_encode(
    corpus: DataFrame,
    lo: np.ndarray,
    step: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 encode as PURE NATIVE expressions (scan-stage, no Python):
    normalize, then per-dim ``round((x − lo_j)/step_j)`` clipped to
    [0, 255] — one byte per dimension (4× smaller than float32, 32×
    smaller than the raw doubles PQ also beats, but with no codebook
    and near-exact recall). Returns ``(corpus_id, codes array<int>)``.
    """
    lo_arr = F.array(*[F.lit(float(v)) for v in lo])
    inv_arr = F.array(*[F.lit(float(1.0 / s)) for s in step])
    x = F.col(vec_col)
    nrm = F.sqrt(
        F.aggregate(
            x, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    codes = F.transform(
        x,
        lambda v, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (
                        v.cast("double") / F.greatest(nrm, F.lit(1e-12))
                        - F.element_at(lo_arr, i + 1)
                    )
                    * F.element_at(inv_arr, i + 1)
                ).cast("int"),
            ),
        ),
    )
    return corpus.select(
        F.col(id_col).alias("corpus_id"), codes.alias("codes")
    )


def cosine_topk_sq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    train_size: int = 2048,
    refine: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 approximate top-k (FAISS ``IndexScalarQuantizer`` pattern —
    the no-codebook rung of the ANN family: Flat/e1, LSH/e2, IVF/e3,
    PQ/e5, OPQ/e10, IVFPQ/e6): per-dim 8-bit codes, candidate scan as
    ONE BLAS matmul per Arrow batch (``dot(q, dequant(c)) =
    const_q + Σ_j (q_j·step_j)·code_j`` — the constant drops under
    ranking, so the scan is codes @ weightsᵀ), exact integer-grid
    re-rank of the top-(k·refine) survivors. Same output contract as
    :func:`cosine_topk`; emitted cos_sim is exact for survivors.
    """
    sx = train_sample(corpus, train_size, id_col=id_col, vec_col=vec_col)
    lo, step = sq_train(corpus, sample_x=sx)
    codes = sq_encode(corpus, lo, step, id_col=id_col, vec_col=vec_col)

    qpd = queries.select(F.col(id_col), F.col(vec_col)).orderBy(id_col).toPandas()
    qx = _to_matrix(qpd[vec_col])
    qx = qx / np.linalg.norm(qx, axis=1, keepdims=True).clip(min=1e-12)
    qids = qpd[id_col].to_numpy(dtype=np.int64)
    nq = len(qids)
    wq = (qx * step[None, :]).astype(np.float64)  # (nq, d)
    kr = k * refine

    def scan(batches):
        best_ids: list[np.ndarray] = []
        best_scores: list[np.ndarray] = []
        for pdf in batches:
            cid = pdf["corpus_id"].to_numpy(dtype=np.int64)
            c = np.asarray(pdf["codes"].tolist(), dtype=np.float64)  # (b, d)
            s = wq @ c.T  # (nq, b) — one BLAS call
            mask = cid[None, :] != qids[:, None]
            s = np.where(mask, s, -np.inf)
            if s.shape[1] > kr:
                idx = np.argpartition(-s, kr - 1, axis=1)[:, :kr]
            else:
                idx = np.tile(np.arange(s.shape[1]), (nq, 1))
            best_ids.append(cid[idx])
            best_scores.append(np.take_along_axis(s, idx, axis=1))
        if not best_ids:
            return
        ids = np.concatenate(best_ids, axis=1)
        sc = np.concatenate(best_scores, axis=1)
        if ids.shape[1] > kr:
            idx = np.argpartition(-sc, kr - 1, axis=1)[:, :kr]
            ids = np.take_along_axis(ids, idx, axis=1)
            sc = np.take_along_axis(sc, idx, axis=1)
        keep = np.isfinite(sc)
        qcol = np.repeat(qids, ids.shape[1]).reshape(nq, -1)
        yield pd.DataFrame(
            {
                "query_id": qcol[keep],
                "corpus_id": ids[keep],
                "sq_score": sc[keep],
            }
        )

    cands = codes.mapInPandas(
        scan, "query_id long, corpus_id long, sq_score double"
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("sq_score").desc(), F.col("corpus_id")
    )
    cands = (
        cands.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= kr)
        .select("query_id", "corpus_id")
    )
    scored = _exact_rerank_scored(corpus, queries, cands, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "corpus_id", "rnk", "cos_sim")
    )
