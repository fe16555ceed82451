"""Deduplication operators — exact and near-dup — for LLM data
pipelines (north-star extension; fixtures: documents.parquet).

Scale design (the point of each algorithm):

* **exact**: one hash-shuffle on a 128-bit content fingerprint.
  At 100 TB this is the cheapest possible dedup — shuffle volume is
  O(rows × 16 bytes), never the payload (min-id selection via
  min_by keeps only one id per fingerprint in flight).
* **n-gram Jaccard (exact near-dup)**: explode shingles → self-join on
  shingle → per-pair intersection counts. Quadratic only *within* a
  shingle's posting list — the classic inverted-index bound. Hot
  shingles are skew: cap posting lists (drop shingles shared by > P
  docs — they carry no discrimination) exactly like search engines
  drop stop-shingles.
* **MinHash + LSH**: signatures via k independent hash slots
  (xxhash64 with per-slot salt — deterministic, no RNG state), banded
  into b bands of r rows; candidate pairs = docs sharing a band
  bucket. Turns O(n²) into O(candidates). The 100 TB path: bands are
  a groupBy key — pure shuffle, no driver state.
* **SimHash**: 64-bit weighted bit-vote fingerprint; near-dups =
  fingerprints within Hamming distance d, found by pigeonhole band
  join (split 64 bits into d+1 blocks; any pair within distance d
  shares ≥1 exact block).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from sparkswift.localdf import local_df
from sparkswift.operators.spread import spread

from sparkswift.operators.text import fingerprint


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact dedup on normalized-content fingerprint; keeps the min
    (or max) id per group and counts collapsed copies."""
    fp = fingerprint(df, text_col, "__fp")
    keep_fn = F.min if keep == "min" else F.max
    return (
        fp.groupBy("__fp")
        .agg(
            keep_fn(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .drop("__fp")
        .select(id_col, "n_copies")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_posting: int | None = 256,
    how: str = "pairs",
) -> DataFrame:
    """Entity-resolution join: (left, right) pairs across TWO tables
    whose k-word-shingle Jaccard ≥ threshold — approximate string
    matching ("which crawl docs are near-copies of which wiki pages",
    "which product names match which catalog entries") built on the
    same inverted-index machinery as :func:`ngram_jaccard_pairs`, but
    cross-table: no self-pair filter, ids kept side-tagged.

    Returns ``(id_l, id_r, jaccard)``; ``how='best'`` keeps only each
    left row's highest-Jaccard match (ties to the smallest ``id_r`` —
    deterministic).

    Scale shape: shingle-identity equi-join (int64 keys, hash shuffle),
    integer cross-multiplied threshold (float-free candidates), and a
    ``max_posting`` cap applied PER SIDE — pairs per shingle are
    |posting_l|·|posting_r|, so one boilerplate shingle shared by 10⁴
    docs on each side would alone emit 10⁸ candidates. Same recall
    caveat as ngram_jaccard_pairs, same "boilerplate, not identity"
    justification.
    """
    # each side materialized ONCE: its posting list feeds the hot-key
    # census, the anti-join and the cross join — the shingling
    # expression tree re-ran per consumer otherwise (the d2/d18
    # pathology; guide §2.4)
    sl = spread(
        left.select(F.col(left_id).alias("id_l"), F.col(left_text).alias("__t"))
    ).select("id_l", hashed_shingles("__t", k).alias("sh")).withColumn(
        "n_l", F.size("sh").cast("bigint")
    ).localCheckpoint()
    sr = spread(
        right.select(F.col(right_id).alias("id_r"), F.col(right_text).alias("__t"))
    ).select("id_r", hashed_shingles("__t", k).alias("sh")).withColumn(
        "n_r", F.size("sh").cast("bigint")
    ).localCheckpoint()
    pl = sl.select("id_l", "n_l", F.explode("sh").alias("s"))
    pr = sr.select("id_r", "n_r", F.explode("sh").alias("s"))
    if max_posting is not None:
        hot_l = pl.groupBy("s").count().filter(F.col("count") > max_posting)
        hot_r = pr.groupBy("s").count().filter(F.col("count") > max_posting)
        pl = pl.join(hot_l.select("s"), "s", "left_anti")
        pr = pr.join(hot_r.select("s"), "s", "left_anti")
    inter = (
        pl.join(pr, "s")
        .groupBy("id_l", "id_r", "n_l", "n_r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    num, den = int(round(threshold * 10000)), 10000
    union = F.col("n_l") + F.col("n_r") - F.col("inter")
    pairs = (
        inter.filter(F.col("inter") * den >= F.lit(num) * union)
        .select(
            "id_l",
            "id_r",
            (F.col("inter").cast("double") / union).alias("jaccard"),
        )
    )
    if how == "pairs":
        return pairs
    if how == "best":
        from pyspark.sql import Window

        w = Window.partitionBy("id_l").orderBy(
            F.col("jaccard").desc(), F.col("id_r")
        )
        return (
            pairs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
    raise ValueError(f"how must be 'pairs'|'best', got {how!r}")


def dedup_incremental(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    update_store: bool = True,
    bucketed: bool = False,
    num_buckets: int = 256,
) -> DataFrame:
    """Cross-batch exact dedup against a PERSISTED fingerprint store —
    the "is this new crawl batch already in the corpus?" operator an
    accreting 100 TB pipeline runs on every ingest, without rescanning
    the corpus itself.

    A row of ``new_docs`` survives when (a) its content fingerprint
    (md5 of normalized text — same key as :func:`dedup_exact`) is NOT
    in the store (any earlier batch), and (b) it is the first
    occurrence within this batch (min ``id_col`` per fingerprint).
    With ``update_store=True`` the survivors' fingerprints are
    appended to the store IMMEDIATELY (an eager write job — this
    operator is deliberately stateful; call with ``False`` for a
    what-if pass). The returned frame is lazy; every operation in the
    plan is deterministic (md5, min), so re-evaluation always matches
    what was written.

    Scale shape: the store holds one 32-char fingerprint per corpus
    document — parquet, scanned not collected; the check is a hash
    LEFT ANTI join on the fingerprint (AQE broadcasts it while small,
    shuffles when the corpus outgrows that) plus the same-batch
    groupBy. The corpus text is never touched again.

    ``bucketed=True`` keeps the store as a BUCKETED catalog table
    (``store_path`` is then a table name): at 10¹⁰ corpus documents a
    path-based store makes every ingest re-shuffle ~300 GB of store
    fingerprints for the anti-join; a store bucketed on ``fp`` keeps
    its side of the join shuffle-free forever — only the (small) new
    batch shuffles into the bucket layout, per ingest, and the append
    preserves bucketing because the insert is written pre-bucketed.
    """
    from sparkswift.operators.text import fingerprint
    from sparkswift.sources.store import Member, Store

    spark = new_docs.sparkSession
    # NO spread here (r16 A/B): the fingerprint pass is regex+md5 —
    # cheap per row — and repartitioning the batch text cost more
    # than the one-task serialization it removed (d10 warm medians
    # 4.6 s unspread vs 7.6 s spread). Real crawl batches scan wide
    # anyway.
    fp = fingerprint(new_docs, text_col, "__fp")
    firsts = fp.groupBy("__fp").agg(F.min(F.col(id_col)).alias(id_col))
    # single-member store through the shared lifecycle contract:
    # catalog+bucketed keeps the anti-join's store side shuffle-free
    # forever; path existence is read-and-catch (FS-agnostic, ADVICE r5)
    st = Store(
        spark,
        store_path,
        [Member("", bucket_cols=("fp",), sort_cols=("fp",)) if bucketed else Member("")],
        catalog=bucketed,
        num_buckets=num_buckets,
        label="fingerprint store",
    )
    if st.exists():
        firsts = firsts.join(
            st.read("").select(F.col("fp").alias("__fp")), "__fp", "left_anti"
        )
    out = fp.join(firsts, ["__fp", id_col])
    if update_store:
        st.append("", out.select(F.col("__fp").alias("fp")))
    return out.drop("__fp")


def word_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) of a text column."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != F.lit(""))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    # a doc shorter than k words contributes its whole text as one shingle
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks))))


def hashed_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingle IDENTITIES as int64 (chained token
    hashes, text.word_ngram_hashes) — no shingle strings are ever
    built. Set semantics match :func:`word_shingles` modulo ~2⁻⁶⁴
    hash collisions; measured ~4× faster end-to-end on the
    decontamination pipeline at sf0.1 (string building + string
    array_distinct dominate the string route). Use wherever only
    shingle IDENTITY matters (joins, counts, set intersections)."""
    from sparkswift.operators.text import word_ngram_hashes

    return F.array_distinct(word_ngram_hashes(col, k))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_posting: int | None = 256,
    hashed: bool = True,
) -> DataFrame:
    """Exact near-dup pairs by k-word-shingle Jaccard ≥ threshold.

    ``hashed=True`` (default) runs the whole inverted index over
    int64 shingle identities (:func:`hashed_shingles`) — identical
    pairs/values modulo ~2⁻⁶⁴ collisions, measurably faster and an
    8 B join key instead of a string. ``hashed=False`` keeps string
    shingles.

    The threshold test is done in *integer* cross-multiplied form
    (inter/union ≥ t  ⇔  inter·den ≥ num·union for t = num/den), so
    candidate selection is float-free; the reported ``jaccard`` is one
    exact integer division — deterministic across engines.

    ``max_posting`` (default 256) drops stop-shingles whose posting
    list exceeds the cap: one "of the and" shared by 10⁶ docs would
    otherwise explode into 10¹² pairs inside a single join key. The
    recall trade: a true near-dup pair connected ONLY through capped
    shingles is missed — for k≥3 word shingles such pairs are
    boilerplate, not duplicates (and the fixture's max posting is 25
    at sf0.1, so the default binds nothing at test scale). Pass
    ``None`` for the uncapped exact semantics.
    """
    mk = hashed_shingles if hashed else word_shingles
    # materialized ONCE: the posting list is consumed by the hot-key
    # census, its anti-join, and BOTH sides of the candidate self-join
    # — without the cut each consumer re-ran the whole shingling
    # expression tree (observed: 4-8 copies of it in the physical
    # plan; guide §2.4). Exploding the checkpointed arrays per
    # consumer is cheap; re-hashing the text is not.
    sh = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", mk(text_col, k).alias("sh"))
        .withColumn("n_sh", F.size("sh").cast("bigint"))
        .localCheckpoint()
    )
    posting = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    if max_posting is not None:
        # drop stop-shingles: posting lists longer than max_posting are
        # skew without discrimination (documented recall caveat)
        hot = posting.groupBy("s").count().filter(F.col("count") > max_posting)
        posting = posting.join(hot.select("s"), "s", "left_anti")
    a = posting.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "s"
    )
    b = posting.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "s"
    )
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    num, den = int(round(threshold * 10000)), 10000
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        inter.filter(F.col("inter") * den >= num * union)
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    max_posting: int | None = 256,
    hashed: bool = True,
) -> DataFrame:
    """DIRECTED near-containment pairs by k-word-shingle CONTAINMENT
    ``c(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ threshold`` — "a's content is
    (nearly) inside b". The asymmetric twin of
    :func:`ngram_jaccard_pairs` (Broder 1997 distinguishes resemblance
    from containment): Jaccard misses a short doc swallowed by a long
    one (the union term dilutes it), which is exactly the wire-copy /
    quote-expansion / chunk-of-other-doc case a dedup pipeline needs.

    Same plan silhouette as d2: one shingle explode, posting-capped
    inverted index (``max_posting`` — the documented skew/recall
    trade), per-UNORDERED-pair intersection counts (one hash agg),
    then BOTH directions tested by integer cross-multiplication
    (inter·den ≥ num·n_side — float-free selection) and emitted where
    they pass; the reported containment is one exact integer division
    (cross-engine deterministic). Self-containment (a == b) is not a
    pair; exact duplicates pass in both directions by design.

    Returns ``(id_a, id_b, containment)`` with id_a the CONTAINED
    side — directed, so (x, y) and (y, x) can both appear.
    """
    mk = hashed_shingles if hashed else word_shingles
    # materialized ONCE: the posting list is consumed by the hot-key
    # census, its anti-join, and BOTH sides of the candidate self-join
    # — without the cut each consumer re-ran the whole shingling
    # expression tree (observed: 4-8 copies of it in the physical
    # plan; guide §2.4). Exploding the checkpointed arrays per
    # consumer is cheap; re-hashing the text is not.
    sh = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", mk(text_col, k).alias("sh"))
        .withColumn("n_sh", F.size("sh").cast("bigint"))
        .localCheckpoint()
    )
    posting = sh.select("id", "n_sh", F.explode("sh").alias("s"))
    if max_posting is not None:
        hot = posting.groupBy("s").count().filter(F.col("count") > max_posting)
        posting = posting.join(hot.select("s"), "s", "left_anti")
    a = posting.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "s"
    )
    b = posting.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "s"
    )
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    num, den = int(round(threshold * 10000)), 10000
    # ONE pass over the intersection aggregate: explode each unordered
    # pair into its two directed candidates and filter once — the old
    # fwd.unionAll(rev) re-executed the whole inverted-index join +
    # aggregate per branch (the g3 union pathology; guide §2.4). Same
    # rows: direction (x→y) appears iff inter·den ≥ num·n_x, with the
    # identical double division.
    both = inter.select(
        "inter",
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("ca"),
                    F.col("id_b").alias("cb"),
                    F.col("n_a").alias("n"),
                ),
                F.struct(
                    F.col("id_b").alias("ca"),
                    F.col("id_a").alias("cb"),
                    F.col("n_b").alias("n"),
                ),
            )
        ).alias("p"),
    )
    return both.filter(
        F.col("inter") * den >= num * F.col("p.n")
    ).select(
        F.col("p.ca").alias("id_a"),
        F.col("p.cb").alias("id_b"),
        (F.col("inter").cast("double") / F.col("p.n").cast("double")).alias(
            "containment"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_from_hashes(hashes: Column, num_hashes: int, seed: int) -> Column:
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, np.iinfo(np.int64).max, size=num_hashes).astype(np.uint64) | np.uint64(1)
    b = rng.integers(0, np.iinfo(np.int64).max, size=num_hashes).astype(np.uint64)

    @F.pandas_udf("array<long>")
    def sig(s: pd.Series) -> pd.Series:
        n = len(s)
        arrs = [
            np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
            for x in s
        ]
        lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=n)
        out = np.zeros((n, num_hashes), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([x for x in arrs if len(x)]).view(np.uint64)
            prod = flat[:, None] * a[None, :] + b[None, :]  # uint64 wraps: the scheme
            nz_lens = lens[nz]
            starts = np.zeros(len(nz_lens), dtype=np.int64)
            starts[1:] = np.cumsum(nz_lens)[:-1]
            out[nz] = np.minimum.reduceat(prod, starts, axis=0)
        return pd.Series(list(out.astype(np.int64)))

    return sig(hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float | None = 0.8,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, optionally
    verified with exact shingle Jaccard. ``sig_frame`` (columns
    ``id, hsh, sig``, already checkpointed) skips the shingle +
    signature pass when the caller has computed it — the incremental
    store path reuses one pass for both the in-batch pairs and the
    store probe.

    bands=16 × rows=4 over 64 hashes → candidate probability
    ≈ 1-(1-j⁴)¹⁶ (≈0.99 at j=0.8). Band buckets are a groupBy key —
    the shuffle is O(rows × bands), and no executor ever holds more
    than one bucket's ids.

    Shingle strings are hashed to int64 ONCE (JVM-side xxhash64) and
    dropped; signatures, the band join, and the Jaccard verification
    all run over the hashed sets (|A∩B| on 64-bit hashes ≡ exact up to
    ~2⁻⁶⁴ collisions). The (id, hashed-shingles, signature) frame is
    checkpointed so the text → shingle pass runs exactly once.
    """
    rows_per_band = num_hashes // bands
    sh = sig_frame if sig_frame is not None else (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", hashed_shingles(text_col, k).alias("hsh"))
        .withColumn("sig", _minhash_from_hashes(F.col("hsh"), num_hashes, 0))
        .localCheckpoint()
    )
    # band join and pair-dedup on BARE IDS — the shingle arrays would
    # otherwise ride through the shuffle `bands` times; they re-attach
    # once per surviving pair below
    banded = sh.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    left = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cand_ids = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify_threshold is None:
        return cand_ids
    shmap = sh.select("id", "hsh")
    cand = cand_ids.join(
        shmap.select(F.col("id").alias("id_a"), F.col("hsh").alias("sh_a")), "id_a"
    ).join(shmap.select(F.col("id").alias("id_b"), F.col("hsh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    union = (
        F.size("sh_a").cast("bigint") + F.size("sh_b").cast("bigint") - inter
    )
    num, den = int(round(verify_threshold * 10000)), 10000
    return (
        cand.withColumn("inter", inter)
        .withColumn("union_", union)
        .filter(F.col("inter") * den >= num * F.col("union_"))
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("union_").cast("double")).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(hashes_col: str) -> Column:
    """64-bit SimHash from a precomputed array<long> of token hashes:
    bit-vote per position, sign of the vote is the fingerprint bit.

    One SQL higher-order expression (PySpark's shiftright wrapper only
    takes literal counts, but the SQL `>>` form accepts expressions):
    votes accumulate into an array<long>[64], then fold to the 64-bit
    fingerprint. Expression-only — no UDF, no shuffle.
    """
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              {hashes_col},
              array_repeat(cast(0 as bigint), 64),
              (acc, h) -> transform(acc, (v, i) ->
                 v + IF(((h >> i) & 1) = 1, 1, -1))
            ),
            sequence(0, 63),
            (v, i) -> IF(v > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))
          ),
          cast(0 as bigint),
          (acc, b) -> acc | b
        )
        """
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming via
    pigeonhole band join: 64 bits split into max_hamming+1 blocks; any
    qualifying pair matches exactly on ≥1 block. Join key =
    (block_idx, block_bits) — again a pure shuffle join."""
    from sparkswift.operators.text import tokens

    blocks = max_hamming + 1
    bits = 64 // blocks
    sh = spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id",
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("__hashes"),
    ).select("id", simhash64("__hashes").alias("sim"))
    banded = sh.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sim"), i * bits)
                        .bitwiseAND(F.lit((1 << bits) - 1))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select("id", "sim", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    l = banded.select(F.col("id").alias("id_a"), F.col("sim").alias("sim_a"), "blk", "key")
    r = banded.select(F.col("id").alias("id_b"), F.col("sim").alias("sim_b"), "blk", "key")
    cand = (
        l.join(r, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", ham.cast("int")).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Hash-Min connected components over near-dup pairs: every node
    converges to the minimum id reachable in its component — the step
    that turns pairwise matches into dedup CLUSTERS.

    Label propagation: each round every node takes min(own label,
    neighbors' labels); converges in O(component diameter) rounds —
    near-dup graphs have tiny diameters, so a handful of shuffles.
    Each round is one join + one groupBy (hash shuffles on node id);
    ``localCheckpoint`` truncates lineage so plans stay flat. At
    extreme scale swap the loop body for large-star/small-star
    (Kiveris et al.) — same API, fewer rounds on adversarial graphs.

    Returns (id, component) with component = min id in the component.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("component")), "dst"
            )
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
            .select(F.col("src").alias("id"), "nbr_min")
        )
        new_labels = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        ).localCheckpoint(eager=False)  # change probe materializes
        changed = (  # full parallel probe - materializes the lazy cut
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    k-word shingle with an eval/benchmark corpus (the n-gram-overlap
    rule used by large-corpus pipelines before training).

    Scale shape: the benchmark shingle set is small (benchmarks are
    thousands of docs, not billions) → ``broadcast`` semi-join; the
    corpus side streams map-side with NO shuffle of the corpus. At
    extreme benchmark sizes use :func:`decontaminate_bloom`.

    ``hashed=True`` (default): both sides shingle into int64
    identities (:func:`hashed_shingles`) — 4× faster at sf0.1 and an
    8 B broadcast key per shingle; flags identical modulo ~2⁻⁶⁴
    collisions.

    Returns ``docs`` + boolean ``contaminated``.
    """
    mk = hashed_shingles if hashed else word_shingles
    bench_sh = (
        benchmark.select(F.explode(mk(text_col, k)).alias("s")).distinct()
    )
    doc_sh = docs.select(
        F.col(id_col), F.explode(mk(text_col, k)).alias("s")
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "s")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.join(hits, id_col, "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    expected_items: int | None = None,
    fpp: float = 0.001,
    build_partitions: int = 32,
) -> DataFrame:
    """Bloom-filter decontamination — the variant for benchmark sets
    too large to broadcast as an exact shingle set.

    The benchmark's shingles (already xxhash64'd JVM-side) aggregate
    into ONE bloom filter, built SLICE-PARTITIONED (ADVICE r4 — the
    earlier coalesce-based build narrowed the whole hashing stage to
    ``build_partitions`` tasks): shingle hashing and probe-position
    expansion run at FULL input parallelism as native bitwise
    expressions, the positions hash-shuffle by their bit-array slice
    (``build_partitions`` power-of-two slices), each build task sets
    bits only in the disjoint slices it owns, and the driver
    concatenates the slices — exactly ``m/8`` bytes of driver traffic
    total, not ``build_partitions ×`` full bitmaps, and no task ever
    holds more than its slices. Shuffle volume: 8 bytes × shingles ×
    n_probe — linear in the benchmark, independent of filter size.
    The merged bitmap broadcasts to every corpus task for a map-side
    vectorized probe (Kirsch-Mitzenheimer double hashing over a
    power-of-two bit array). The corpus never shuffles. (Spark's own
    ``DataFrame.stat.bloomFilter`` has the coalesce-build shape and
    its JVM filter object can't be probed from Arrow batches.)

    Guarantees: NO false negatives (every truly contaminated doc is
    flagged — the property that matters for decontamination); false
    positives ≤ ~fpp per shingle probe flag extra docs. Sizing: filter
    bits ≈ -n·ln(fpp)/ln(2)², e.g. 10⁹ shingles at 0.1% FPP ≈ 1.8 GB —
    beyond driver-friendly broadcast of raw strings but fine as one
    binary blob.

    Returns ``docs`` + boolean ``contaminated`` (superset of the exact
    operator's flags; equality modulo FPs asserted in tests).
    """
    import math

    if expected_items is None:
        # one tiny agg over the (small relative to corpus) benchmark
        expected_items = max(
            1024,
            int(
                benchmark.select(
                    F.sum(F.size(hashed_shingles(text_col, k))).alias("n")
                ).collect()[0].n
                or 1024
            ),
        )
    # power-of-two bit count → mask instead of mod, and odd step h2
    # guarantees a full probe cycle (Kirsch-Mitzenheimer double hashing)
    m_bits = 1 << max(13, math.ceil(
        math.log2(-expected_items * math.log(fpp) / (math.log(2) ** 2))
    ))
    n_probe = max(1, round(m_bits / expected_items * math.log(2)))
    mask = np.uint64(m_bits - 1)

    def _positions(h: np.ndarray, j: int) -> np.ndarray:
        h1 = h & mask
        h2 = (h >> np.uint64(33)) | np.uint64(1)
        return (h1 + np.uint64(j) * h2) & mask

    bench_hash = benchmark.select(
        F.explode(hashed_shingles(text_col, k)).alias("h")
    )

    # power-of-two slice count dividing m_bits; slice_bits is a
    # multiple of 8 (m_bits ≥ 2^13, P ≤ its /256) so slices align to
    # whole bytes and concatenate exactly
    P = 1 << max(0, min(
        int(math.log2(max(1, build_partitions))), int(math.log2(m_bits)) - 8
    ))
    log2_slice = int(math.log2(m_bits // P))
    slice_bits = m_bits // P

    # probe positions as NATIVE bitwise expressions — bit-exact with
    # the numpy _positions kernel the probe uses (logical shift via
    # shiftrightunsigned; signed AND/OR are bit-identical to unsigned)
    h1 = F.col("h").bitwiseAND(F.lit(m_bits - 1))
    h2 = F.shiftrightunsigned(F.col("h"), 33).bitwiseOR(F.lit(1))
    positions = bench_hash.select(
        F.explode(
            F.array(*[
                (h1 + F.lit(j) * h2).bitwiseAND(F.lit(m_bits - 1))
                for j in range(n_probe)
            ])
        ).alias("pos")
    ).withColumn("sl", F.shiftrightunsigned("pos", log2_slice))

    def build_slices(batches):
        slices: dict[int, np.ndarray] = {}
        for pdf in batches:
            pos = pdf["pos"].to_numpy(dtype=np.int64).view(np.uint64)
            sl = pdf["sl"].to_numpy(dtype=np.int64)
            for s in np.unique(sl):
                bm = slices.setdefault(
                    int(s), np.zeros(slice_bits // 8, dtype=np.uint8)
                )
                p = pos[sl == s] - np.uint64(int(s)) * np.uint64(slice_bits)
                np.bitwise_or.at(
                    bm,
                    (p >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (p & np.uint64(7)).astype(np.uint8)),
                )
        for s, bm in slices.items():
            yield pd.DataFrame({"sl": [s], "bm": [bm.tobytes()]})

    # one hash shuffle by slice: every slice's positions land in one
    # partition, so each (sl, bytes) row below is unique and the
    # driver-side concat receives exactly m/8 bytes in total
    parts = (
        positions.repartition(P, "sl")
        .mapInPandas(build_slices, "sl long, bm binary")
        .collect()
    )
    merged = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in parts:
        start = r.sl * (slice_bits // 8)
        merged[start : start + slice_bits // 8] |= np.frombuffer(r.bm, dtype=np.uint8)
    bc = docs.sparkSession.sparkContext.broadcast(merged.tobytes())

    @F.pandas_udf("boolean")
    def probe(s: pd.Series) -> pd.Series:
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        h = s.to_numpy(dtype=np.int64).view(np.uint64)
        hit = np.ones(len(h), dtype=bool)
        for j in range(n_probe):
            pos = _positions(h, j)
            bits = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
            hit &= (bits >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return pd.Series(hit)

    doc_sh = docs.select(
        F.col(id_col), F.explode(hashed_shingles(text_col, k)).alias("h")
    )
    hits = (
        doc_sh.filter(probe(F.col("h")))
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.join(hits, id_col, "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    adversarial-diameter-safe alternative to Hash-Min.

    Hash-Min needs O(diameter) rounds: a 10⁶-node path graph would
    take 10⁶ shuffles. Star contraction converges in O(log² n) rounds
    regardless of diameter by rewiring edges toward per-neighborhood
    minima:

    * large-star: per node u with m = min(Γ(u) ∪ {u}), rewire every
      LARGER neighbor v > u to (v, m)
    * small-star: per node u over its smaller neighbors N = {v < u},
      m = min(N), rewire to (u, m) and (v, m) for v ∈ N \\ {m}

    Each half-round is one groupBy(u).min + one join on u — two hash
    shuffles; ``localCheckpoint`` keeps the plan flat. Convergence =
    edge set fixed point (count + order-independent hash checksum).

    Returns (id, component) with component = min id — same contract as
    :func:`connected_components`.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # canonical direction: u > v
    edges = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _checksum(ed: DataFrame) -> tuple:
        row = ed.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # input edges all satisfy u > v
        m = ed.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            ed.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return rewired.unionByName(
            m.select("u", F.col("m").alias("v"))
        ).distinct()

    sig = _checksum(edges)
    for _ in range(max_iter):
        # lazy cut: the checksum probe materializes the round's edge
        # set in the same job (one barrier per round, not two)
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_sig = _checksum(edges)
        if new_sig == sig:
            break
        sig = new_sig

    # fixed point is a set of stars: every edge is (node, root)
    return (
        edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(
            edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
        )
        .distinct()
    )


def near_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    algo: str = "hashmin",
) -> DataFrame:
    """End-to-end near-dedup: pairs → components → one survivor (min
    id) per cluster; docs in no pair survive as their own cluster.
    Output: (doc_id, component, is_survivor).

    ``algo``: ``hashmin`` (O(diameter) rounds — near-dup graphs have
    tiny diameters) or ``star`` (large-star/small-star, O(log² n)
    rounds — safe for adversarial chain-shaped components)."""
    cc = {"hashmin": connected_components, "star": connected_components_star}[algo]
    comp = cc(pairs, id_a, id_b)
    out = df.select(F.col(id_col)).join(
        comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    out = out.withColumn("component", F.coalesce("component", F.col(id_col)))
    return out.withColumn("is_survivor", F.col(id_col) == F.col("component"))


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-document line/paragraph dedup — the RefinedWeb/CCNet
    "remove duplicated lines across the corpus" pass: every line keeps
    only its FIRST occurrence in global ``(id, position)`` order; all
    later occurrences (in other documents or later in the same one)
    are dropped, and documents are reassembled in original line order.

    Deterministic first-wins (smallest ``(id, pos)`` owns the line) —
    exactly reproducible in SQL, so the oracle hash-matches.

    Scale shape: posexplode is a scan-stage flatMap; the dedup is ONE
    hash shuffle keyed on the line content (the key is prefixed with
    ``xxhash64(line)`` so the shuffle hashes 8 bytes instead of the
    full string; the string stays in the key for exactness, so hash
    collisions cannot merge distinct lines); reassembly is one shuffle
    back on the doc id with ``array_sort(collect_list(...))`` — no
    global sort anywhere. Empty docs (every line deduped away) are
    KEPT with empty text so the output stays row-aligned with the
    input — filter on ``n_lines_kept > 0`` to drop them.

    Returns ``(id_col, *keep_cols, clean_text, n_lines_kept,
    n_lines_dropped)``.
    """
    # NULL text would vanish from posexplode and break the row-
    # alignment contract — treat it as empty text (its single empty
    # line dedups like any other line value)
    lines = df.select(
        F.col(id_col),
        *(F.col(c) for c in keep_cols),
        F.posexplode(
            # line_sep is a LITERAL separator: F.split interprets its
            # pattern as a Java regex, while reassembly below joins
            # with the raw string — regex-escape so both sides agree
            # for separators containing metacharacters (ADVICE r5)
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(line_sep))
        ).alias("__pos", "__line"),
    )
    w = Window.partitionBy(F.xxhash64("__line"), F.col("__line")).orderBy(
        F.col(id_col), F.col("__pos")
    )
    marked = lines.withColumn("__rn", F.row_number().over(w))
    return (
        marked.groupBy(id_col, *keep_cols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__rn") == 1,
                        F.struct(F.col("__pos"), F.col("__line")),
                    )
                )
            ).alias("__kept"),
            F.count(F.lit(1)).cast("bigint").alias("__n_total"),
        )
        .select(
            id_col,
            *keep_cols,
            F.array_join(
                F.transform(F.col("__kept"), lambda s: s["__line"]), line_sep
            ).alias("clean_text"),
            F.size("__kept").cast("bigint").alias("n_lines_kept"),
            (F.col("__n_total") - F.size("__kept"))
            .cast("bigint")
            .alias("n_lines_dropped"),
        )
    )


def leak_report(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    hashed: bool = True,
) -> DataFrame:
    """Contamination REPORT — the audit twin of :func:`decontaminate`:
    instead of a drop flag, emit per-document leak measurements (how
    MUCH of each training doc's k-gram vocabulary appears in the
    benchmark set), which is what a data card publishes and what you
    tune drop thresholds against.

    Same scale shape as `decontaminate`: benchmark shingles dedup to
    a broadcast-sized set; the corpus explodes shingles map-side, one
    aggregation by doc id. ``hashed=True`` ships int64 identities
    (collision odds ~2⁻⁶⁴ could perturb a count by 1; use
    ``hashed=False`` for exact-string accounting, e.g. the SQL
    oracle).

    Returns ``(id_col, n_shingles, n_leaked, leak_frac, flagged)``
    where ``n_shingles`` counts DISTINCT doc shingles and ``flagged``
    is 1 when ``leak_frac >= threshold``.
    """
    mk = hashed_shingles if hashed else word_shingles
    # spread both sides before the shingle explodes: the one-file
    # documents scan otherwise pins each side's whole shingle + join
    # work to a single task (measured: 3.45 s one-task job in p17;
    # guide §2.3)
    bench_sh = (
        spread(benchmark.select(F.col(text_col)))
        .select(F.explode(mk(text_col, k)).alias("s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    doc_sh = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.array_distinct(mk(text_col, k))).alias("s")
    )
    per_doc = (
        doc_sh.join(F.broadcast(bench_sh), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias(
                "n_leaked"
            ),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_leaked",
        (F.col("n_leaked").cast("double") / F.col("n_shingles")).alias("leak_frac"),
        (F.col("n_leaked").cast("double") / F.col("n_shingles") >= threshold)
        .cast("int")
        .alias("flagged"),
    )


def _sig_band_buckets(num_hashes: int, bands: int) -> Column:
    """(band, bucket) keys from a ``sig`` column — the banded-LSH key
    expression shared by the in-batch and incremental paths."""
    rows_per_band = num_hashes // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    )


def minid_components(pairs) -> dict:
    """Driver-side union-find over an iterable of (a, b) pairs →
    {node: min id of its connected component} for every node that
    appears in a pair. The min-id representative matches
    :func:`connected_components` exactly (pytest + hypothesis
    property vs a BFS reference), so callers can swap it in for
    SMALL pair sets and skip the iterative distributed loop —
    the :func:`neardup_incremental` small-batch path."""
    parent: dict = {}

    def _find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)  # self-loops still register the node
        parent.setdefault(b, b)
        ra, rb = _find(a), _find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: _find(x) for x in parent}


def neardup_incremental(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    sig_threshold: float = 0.7,
    update_store: bool = True,
    bucketed: bool = False,
    num_buckets: int = 64,
    small_batch_threshold: int = 50_000,
) -> DataFrame:
    """Cross-batch NEAR-dup dedup against a persisted MinHash store —
    the fuzzy sibling of :func:`dedup_incremental`: a new crawl batch
    is dropped not only when a byte-identical copy exists in the
    corpus, but when a *near* copy does, without rescanning corpus
    text.

    Store layout (text is never stored): ``<path>/sigs`` holds one
    64-slot MinHash signature per surviving corpus doc (~0.5 KB);
    ``<path>/buckets`` holds its banded LSH keys (band, bucket,
    doc_id). Probe = new batch's banded keys equi-join ``buckets``
    (hash shuffle on the 16-byte key), then candidates verify by
    SIGNATURE agreement — matching slots / num_hashes estimates
    Jaccard with σ ≈ 1/√64 ≈ 0.125, the standard MinHash estimator;
    the store deliberately trades that wobble for never re-reading
    corpus shingles. A new doc survives when (a) :func:`near_dedup`
    keeps it within its own batch (LSH + connected components,
    min-id-wins) and (b) no store candidate agrees ≥ ``sig_threshold``.
    Survivors' signatures + buckets append to the store.

    ``bucketed=True`` keeps the store as BUCKETED catalog tables
    (``store_path`` is then a table-name prefix: ``<prefix>_buckets``
    bucketed on (band, bucket), ``<prefix>_sigs`` on store_id) — the
    same fix :func:`dedup_incremental` applies to its fingerprint
    store. With a path-based store, EVERY ingest re-shuffles the
    ever-growing store for the probe equi-join (at 10¹⁰ corpus docs ×
    16 bands that is a ~1.3 T-row shuffle per crawl batch); bucketed,
    the store side of both probe joins reads shuffle-free forever —
    only the (small) new batch hashes into the bucket layout, and
    appends land pre-bucketed so the property is preserved across
    batches. Size ``num_buckets`` to the EVENTUAL store (each bucket
    should stay in executor-memory range at full corpus size —
    thousands of buckets at 10¹⁰ docs); at fixture scale small counts
    (16) keep the per-append file fan-out cheap.

    ``small_batch_threshold``: when the batch holds at most this many
    docs, the within-batch component step runs as a DRIVER union-find
    over the (collected, bounded) verified pair list instead of the
    iterative distributed connected-components loop — same min-id
    semantics, bit-identical output, but it skips the several whole
    Spark jobs of per-round checkpoint + convergence-probe latency
    that dominate small ingests. The collect is capped at 4× the
    threshold pairs (near-dup pair density is ~O(n); a pathological
    clique trips the cap) and falls back to the distributed loop when
    exceeded. Real crawl batches at 100 TB scale exceed the threshold
    and take the distributed path unchanged; pass ``0`` to force it.

    Returns ``(id_col, in_batch_survivor, store_hit, survived)`` for
    every new doc (all 0/1 ints) — callers filter ``survived = 1``.
    """
    spark = new_docs.sparkSession
    sh = (
        spread(new_docs.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", hashed_shingles(text_col, k).alias("hsh"))
        .withColumn("sig", _minhash_from_hashes(F.col("hsh"), num_hashes, 0))
        .localCheckpoint()
    )
    # (a) within-batch: LSH pairs → components → min-id survivor
    pairs = minhash_lsh_pairs(
        new_docs, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands,
        verify_threshold=sig_threshold, sig_frame=sh,
    )
    in_batch = None
    if small_batch_threshold and sh.count() <= small_batch_threshold:
        pair_cap = 4 * small_batch_threshold
        # materialize ONCE before the capped collect: CollectLimit
        # executes its child incrementally starting from a single
        # partition, re-running the whole LSH-join subtree serially
        # (measured as ~0.6 s single-task jobs in the d14 anatomy);
        # a checkpoint runs it once, fully parallel, and the limit
        # then reads materialized blocks
        pairs = pairs.select("id_a", "id_b").localCheckpoint()
        pair_rows = pairs.limit(pair_cap + 1).collect()
        if len(pair_rows) <= pair_cap:
            comp = minid_components((r.id_a, r.id_b) for r in pair_rows)
            comp_rows = list(comp.items())
            comp_df = local_df(spark, comp_rows, "id long, component long")
            in_batch = (
                new_docs.select(F.col(id_col).alias("id"))
                .join(F.broadcast(comp_df), "id", "left")
                .select(
                    "id",
                    (
                        F.col("id") == F.coalesce("component", F.col("id"))
                    ).alias("is_survivor"),
                )
            )
    if in_batch is None:  # big batch (or cap tripped): distributed CC
        in_batch = near_dedup(new_docs, pairs, id_col=id_col).select(
            F.col(id_col).alias("id"), F.col("is_survivor")
        )

    # (b) store probe (empty store on bootstrap), through the shared
    # lifecycle contract (sources/store.py): existence is
    # ALL-OR-NOTHING across the sig/bucket pair — a torn pair RAISES
    # instead of silently re-bootstrapping (which would orphan every
    # earlier winner from the cross-batch probe); path existence is
    # read-and-catch (FS-agnostic, ADVICE r5). Mid-append torn writes
    # on later batches are out of scope for an existence check — that
    # needs a transactional table format.
    from sparkswift.sources.store import Member, Store

    st = Store(
        spark,
        store_path,
        [
            Member("sigs", bucket_cols=("store_id",), sort_cols=("store_id",)),
            Member(
                "buckets",
                bucket_cols=("band", "bucket"),
                sort_cols=("band", "bucket"),
            ),
        ],
        catalog=bucketed,
        num_buckets=num_buckets,
        label="near-dup store",
    )
    have_store = st.exists()
    if have_store:
        store_sigs = st.read("sigs")
        store_buckets = st.read("buckets")
    if have_store:
        banded = sh.select("id", _sig_band_buckets(num_hashes, bands).alias("bb")).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        cand = (
            banded.join(store_buckets, ["band", "bucket"])
            .select("id", F.col("store_id"))
            .dropDuplicates(["id", "store_id"])
        )
        agree = F.size(
            F.filter(
                F.zip_with(F.col("sig"), F.col("store_sig"), lambda x, y: x == y),
                lambda b: b,
            )
        ).cast("double") / F.lit(float(num_hashes))
        hits = (
            cand.join(sh.select("id", "sig"), "id")
            .join(
                store_sigs.select(
                    F.col("store_id"), F.col("sig").alias("store_sig")
                ),
                "store_id",
            )
            .filter(agree >= sig_threshold)
            .select("id")
            .distinct()
            .withColumn("store_hit", F.lit(1))
        )
    else:
        hits = spark.createDataFrame([], "id long, store_hit int")

    out = (
        in_batch.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("is_survivor").cast("int").alias("in_batch_survivor"),
            F.coalesce(F.col("store_hit"), F.lit(0)).alias("store_hit"),
            (F.col("is_survivor") & F.coalesce(F.col("store_hit") == 0, F.lit(True)))
            .cast("int")
            .alias("survived"),
        )
        .localCheckpoint()  # pin decisions before the store mutates
    )

    if update_store:
        winners = out.filter(F.col("survived") == 1).select(
            F.col(id_col).alias("id")
        )
        new_sigs = sh.join(winners, "id").select(
            F.col("id").alias("store_id"), "sig"
        )
        new_buckets = (
            sh.join(winners, "id")
            .select("id", _sig_band_buckets(num_hashes, bands).alias("bb"))
            .select(
                F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"),
                F.col("id").alias("store_id"),
            )
        )
        # the two member appends are independent scans of the same
        # checkpointed frames — overlap them (guide §2.6) instead of
        # paying two sequential write jobs; crash-consistency is
        # unchanged (a crash between sequential appends left the same
        # torn pair exists() raises on)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f1 = pool.submit(st.append, "sigs", new_sigs)
            f2 = pool.submit(st.append, "buckets", new_buckets)
            f1.result()
            f2.result()
    return out


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact duplicate-SUBSTRING dedup (the ExactSubstr pass of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): any run of ``window`` tokens that
    appears more than once in the corpus keeps only its globally-first
    occurrence — every later occurrence is excised from its document,
    and the document is reassembled from the surviving tokens. Catches
    boilerplate and quoted spans INSIDE otherwise-unique documents,
    which doc-level (d1), near-dup (d3), and line-level (d13) passes
    all miss.

    Semantics (deterministic, partition-invariant):
    * a doc's token-window at position p is duplicated iff another
      window with identical token content exists anywhere (any doc,
      any position, including the same doc);
    * first-wins in global ``(id, position)`` order: occurrences with
      rank > 1 are marked, their ``[p, p + window)`` token spans are
      merged per doc, covered tokens are dropped;
    * docs shorter than ``window`` tokens are untouchable by
      construction and pass through.

    Scale shape: window hashes are computed at the SCAN (native
    slice + xxhash64 — a constant ``window``-factor of token re-reads,
    map-side, no Python); the only corpus-wide shuffles are (1) a
    hash AGGREGATION over the 8-byte window hash (min(struct(id,pos))
    with map-side partial combine — no per-key sort, so a single
    boilerplate window repeated 10⁹ times cannot straggle one task)
    plus a join-back restricted to duplicated hashes, on (id, pos)-
    sized rows — the token text itself never shuffles — and (2) the
    span/rebuild shuffle back on the doc id. Span merge is the classic running-max
    interval collapse inside the per-doc window; the rebuild filters
    the token array against the doc's few merged spans JVM-side.
    Like line_dedup, hash collisions cannot merge distinct windows...
    is NOT claimed here: the mark key IS xxhash64 (64-bit) — at 10¹²
    windows expect ~birthday collisions at 2⁻⁶⁴·n²/2; pass a larger
    ``window`` or pre-salt shards if that matters, or verify marked
    spans (the d15 gate plants sentinels, so its laws are
    collision-free on the fixture).

    Returns ``(id_col, *keep_cols, clean_text, n_tokens_kept,
    n_tokens_dropped)`` — row-aligned with the input (empty docs
    kept; filter ``n_tokens_kept > 0`` to drop).
    """
    if window < 2:
        raise ValueError("window must be at least 2 tokens")
    from sparkswift.operators.text import tokens as _tokens

    base = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in keep_cols],
        _tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
    )
    base = spread(base)
    n = F.size("__toks")

    # (id, pos, hash) for every window start; docs under `window`
    # tokens emit none. slice() is 1-based.
    wins = base.select(
        "__id",
        F.posexplode(
            F.when(
                n >= window,
                F.transform(
                    F.sequence(F.lit(0), n - window),
                    lambda p: F.xxhash64(
                        F.array_join(
                            F.slice(F.col("__toks"), p + 1, window), " "
                        )
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("__pos", "__h"),
    )

    # global first-wins per window hash. Only rank 1 matters, so the
    # winner is min(struct(id,pos)) via groupBy — map-side partial
    # aggregation keeps a corpus-wide hot hash (boilerplate repeated
    # billions of times, the exact ExactSubstr target) skew-tolerant,
    # where a row_number() over partitionBy(__h) would force a full
    # per-key sort onto one task. Hashes seen once are dropped before
    # the join-back, so the probe side re-shuffles only duplicated
    # windows; AQE skew-join can split a hot hash because the build
    # side carries exactly one row per key.
    firsts = (
        wins.groupBy("__h")
        .agg(
            F.min(F.struct("__id", "__pos")).alias("__first"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .filter(F.col("__cnt") > 1)
        .select("__h", "__first")
    )
    marked = (
        wins.join(firsts, "__h")
        .filter(F.struct("__id", "__pos") != F.col("__first"))
        .select("__id", F.col("__pos").alias("__lo"), (F.col("__pos") + window).alias("__hi"))
    )

    # classic interval merge per doc: a new group starts where lo
    # exceeds the running max of previous his
    w_doc = Window.partitionBy("__id").orderBy("__lo", "__hi")
    prev_max = F.max("__hi").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = marked.withColumn(
        "__g",
        F.sum(
            F.when(prev_max.isNull() | (F.col("__lo") > prev_max), 1).otherwise(0)
        ).over(w_doc),
    )
    spans = (
        grouped.groupBy("__id", "__g")
        .agg(F.min("__lo").alias("lo"), F.max("__hi").alias("hi"))
        .groupBy("__id")
        .agg(F.collect_list(F.struct("lo", "hi")).alias("__spans"))
    )

    # rebuild: keep tokens outside every span (spans per doc are few —
    # the exists() probe is JVM-side)
    joined = base.join(spans, "__id", "left")
    kept = F.when(F.col("__spans").isNull(), F.col("__toks")).otherwise(
        F.zip_with(
            F.col("__toks"),
            F.sequence(F.lit(0), F.size("__toks") - 1),
            lambda t, i: F.when(
                ~F.exists(
                    F.col("__spans"),
                    lambda s: (i >= s["lo"]) & (i < s["hi"]),
                ),
                t,
            ),
        )
    )
    kept = F.filter(kept, lambda t: t.isNotNull())
    return joined.select(
        F.col("__id").alias(id_col),
        *[F.col(c) for c in keep_cols],
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_tokens_dropped"),
    )


def _deletion_variants(col: str | Column, k: int = 1) -> Column:
    """All strings reachable by deleting ≤ k characters (the SymSpell
    candidate scheme, public): if lev(a,b) ≤ k then a and b share a
    deletion variant (align the edit script; drop each side's edited
    positions — ≤ k deletions per side reach the common core), so an
    equi-join on variants is a COMPLETE candidate generator for an
    edit-distance join. |variants| ≈ len^k/k! per row — bounded for
    name/title-length strings, never corpus-sized."""
    c = F.col(col) if isinstance(col, str) else col

    def one_del(s: Column) -> Column:
        n = F.length(s)
        idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))
        return F.when(
            n > 0,
            F.transform(
                idx,
                lambda i: F.concat(
                    s.substr(F.lit(1), i - 1), s.substr(i + 1, n)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    out = F.array(c)
    frontier = F.array(c)
    for _ in range(k):
        frontier = F.array_distinct(
            F.flatten(F.transform(frontier, lambda s: one_del(s)))
        )
        out = F.array_union(out, frontier)
    return F.array_distinct(out)


def editdistance_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    k: int = 1,
) -> DataFrame:
    """Character-level fuzzy join: (left, right) pairs with
    Levenshtein distance ≤ ``k`` — the entity-resolution rung BELOW
    :func:`fuzzy_join`'s word-shingle Jaccard (typos, id-number
    drift, OCR noise — word shingles can't see single-character
    edits). Candidates come from a deletion-variant equi-join
    (complete, see :func:`_deletion_variants`); survivors verify with
    the exact ``levenshtein`` expression, so the OUTPUT is exact —
    only candidate generation is clever.

    Scale shape: each side explodes to ≤ len^k/k! variant rows, one
    hash equi-join on the variant string, dropDuplicates on the pair,
    then the bounded verify. No all-pairs product anywhere; skewed
    variants (very common name stems) behave like any hot join key —
    salt or cap upstream if a stem dominates.

    Returns ``(id_l, id_r, dist)`` with ``dist ≤ k``, self-pairs
    (same id) excluded.
    """
    lv = left.select(
        F.col(left_id).alias("id_l"),
        F.col(left_text).alias("__tl"),
        F.explode(_deletion_variants(left_text, k)).alias("__v"),
    )
    rv = right.select(
        F.col(right_id).alias("id_r"),
        F.col(right_text).alias("__tr"),
        F.explode(_deletion_variants(right_text, k)).alias("__v"),
    )
    cand = lv.join(rv, "__v").dropDuplicates(["id_l", "id_r"])
    return (
        cand.filter(F.col("id_l") != F.col("id_r"))
        .withColumn("dist", F.levenshtein("__tl", "__tr").cast("int"))
        .filter(F.col("dist") <= k)
        .select("id_l", "id_r", "dist")
    )


def ngram_overlap_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """N-GRAM-level fuzzy decontamination (the GPT-3/Llama-style
    overlap check the exact-match p3 and Bloom p5 guards cannot
    express): for every train doc, the fraction of its DISTINCT word
    n-grams that appear anywhere in the eval set, and a contamination
    flag at ``threshold``. Catches partial/rephrased leaks — an eval
    passage quoted inside a larger train doc flags here while
    whole-text equality misses it.

    Scale shape (the p3 discipline at n-gram granularity): the eval
    side collapses to its distinct n-gram set — eval suites are
    orders of magnitude smaller than the corpus, so that set
    broadcasts and the train side NEVER shuffles its text; per-doc
    grams explode map-side, the broadcast LEFT SEMI-shaped join marks
    hits, and one hash aggregate on the doc id yields the counts.
    The fraction is one double division of exact integers (identical
    both engines). Docs with fewer than ``n`` tokens are excluded
    (no n-grams exist — the caller unions them back as clean if
    wanted).

    Returns ``(id, n_grams, n_matched, overlap_frac, contaminated)``.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = f"filter(split(trim({text_col}), '\\\\s+'), x -> x != '')"
    parts = ", ".join(f"__a[i + {k}]" for k in range(n))
    grams_expr = (
        f"transform(sequence(0, size(__a) - {n}), "
        f"i -> concat_ws(' ', {parts}))"
    )

    def grams(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(id_col), F.expr(toks).alias("__a"))
            .filter(F.size("__a") >= n)
            .select(
                F.col(id_col),
                F.explode(F.expr(grams_expr)).alias("gram"),
            )
            .distinct()
        )

    ev = grams(eval_df).select("gram").distinct()
    tg = grams(train)
    marked = tg.join(
        F.broadcast(ev.withColumn("__hit", F.lit(1))), "gram", "left"
    )
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_matched"),
    )
    frac = F.expr("CAST(n_matched AS DOUBLE) / n_grams")
    return agg.select(
        id_col,
        "n_grams",
        "n_matched",
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )
