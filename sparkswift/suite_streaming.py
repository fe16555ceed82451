"""Streaming suite — genuine Structured Streaming plans executed to
completion (AvailableNow → memory sink) so the DuckDB batch oracle
can check them: the strongest possible stream/batch-parity statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkswift.scratch import mkscratch
from sparkswift.sources import load_table
from sparkswift.streaming.ops import (
    events_stream,
    run_stream_to_batch,
    sessionize,
    stream_resample,
    write_slices,
)
from sparkswift.suite import D, register


# ---------------------------------------------------------------------------
# Streaming tumbling-window resample, run through a real streaming
# plan (StateStore + watermark) and materialized. Oracle = plain
# GROUP BY date_trunc: stream output must equal the batch answer.
# ---------------------------------------------------------------------------
@register(
    "st1_stream_resample",
    f"""
    SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
           CAST(SUM(CAST(value AS {D})) AS DOUBLE) AS sum_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def st1_stream_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = events_stream(spark, sf_dir)
    agg = stream_resample(
        src,
        ts_col="ts",
        rule="1 hour",
        watermark="2 hours",
        extra_keys=["event_type"],
        aggs={
            "sum_value": F.sum(F.col("value").cast(D)).cast("double"),
            "n": F.count(F.lit(1)).cast("bigint"),
        },
    )
    return run_stream_to_batch(agg, mode="complete")


# ---------------------------------------------------------------------------
# Streaming SLIDING window (1 h length, 30 min slide): every event
# lands in exactly two windows. Oracle: union of the two tumbling
# bucket assignments each event can have — exact µs integer floor
# arithmetic on both engines.
# ---------------------------------------------------------------------------
@register(
    "st3_stream_sliding",
    f"""
    WITH w AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000)
                 AS window_start, value
      FROM events
      UNION ALL
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000),
             value
      FROM events
    )
    SELECT window_start,
           CAST(SUM(CAST(value AS {D})) AS DOUBLE) AS sum_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY window_start
    """,
)
def st3_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = events_stream(spark, sf_dir)
    agg = stream_resample(
        src,
        ts_col="ts",
        rule="1 hour",
        slide="30 minutes",
        watermark="2 hours",
        aggs={
            "sum_value": F.sum(F.col("value").cast(D)).cast("double"),
            "n": F.count(F.lit(1)).cast("bigint"),
        },
    )
    return run_stream_to_batch(agg, mode="complete").withColumnRenamed(
        "bucket_ts", "window_start"
    )


# ---------------------------------------------------------------------------
# Session windows (10-minute gap) per user — batch form of the same
# session_window operator the streaming path uses. Oracle: classic
# gaps-and-islands (lag + cumulative break-sum) in exact microsecond
# arithmetic. Spark merges events with diff < gap; ties share a
# bucket either way.
# ---------------------------------------------------------------------------
_SESSIONS_ORACLE = f"""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 600000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    y AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM x)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS {D})) AS DOUBLE) AS sum_value
    FROM y GROUP BY user_id, sid
    """


@register("sw1_session_window", _SESSIONS_ORACLE)
def sw1_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionize(
        ev,
        ts_col="ts",
        gap="10 minutes",
        keys=["user_id"],
        aggs={
            "n": F.count(F.lit(1)).cast("bigint"),
            "sum_value": F.sum(F.col("value").cast(D)).cast("double"),
        },
    )


# ---------------------------------------------------------------------------
# Stream-stream inner join: clicks ⋈ purchases on user within a 1-hour
# event-time interval. Both sides carry watermarks + the time-range
# predicate, which is what lets Spark EVICT join state (without the
# bound, state grows forever). Oracle: the identical batch interval
# join.
# ---------------------------------------------------------------------------
@register(
    "st4_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def st4_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = events_stream(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = run_stream_to_batch(joined, mode="append")
    return out.select("click_id", "purchase_id", "user_id", "purchase_value")


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState): per-user
# running totals. After a full AvailableNow pass the final state equals
# a plain GROUP BY — which is the oracle.
# ---------------------------------------------------------------------------
@register(
    "st2_stateful_totals",
    f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS events_seen,
           CAST(SUM(CAST(value AS {D})) AS DOUBLE) AS value_total
    FROM events
    GROUP BY user_id
    """,
)
def st2_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.streaming.ops import stateful_running_totals

    src = events_stream(spark, sf_dir)
    out = stateful_running_totals(src, "user_id")
    res = run_stream_to_batch(out, mode="update")
    # update mode re-emits a row per key per micro-batch; the final
    # state per key is the max events_seen row
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("events_seen").desc())
    return (
        res.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Streaming deduplication (dropDuplicatesWithinWatermark): first
# arrival per (user_id, event_type) wins; per-key state is evicted
# once the watermark passes event time + delay, so state is bounded by
# arrival-rate × delay — the 100 TB shape. Emitting only the key
# columns makes the output independent of WHICH duplicate won, so the
# oracle is plain DISTINCT.
# ---------------------------------------------------------------------------
@register(
    "st5_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.streaming.ops import stream_dedup

    src = events_stream(spark, sf_dir)
    deduped = stream_dedup(
        src, keys=["user_id", "event_type"], ts_col="ts", watermark="2 hours"
    )
    out = run_stream_to_batch(deduped, mode="append")
    return out.select("user_id", "event_type")


# ---------------------------------------------------------------------------
# STREAMING session windows: the same sessionize() operator on an
# unbounded source — session state merges as events arrive, the
# watermark bounds how long an open session can wait for a merge.
# Session aggregations support APPEND mode only: a session is emitted
# once the watermark passes its end. After an availableNow pass the
# watermark sits at max(ts) - delay, so sessions ending within the
# delay of the stream tail are (correctly) still open/withheld. Both
# engine and oracle therefore restrict to sessions ending a safe
# margin before that watermark — the subset append-mode GUARANTEES.
# ---------------------------------------------------------------------------
@register(
    "st6_stream_sessions",
    _SESSIONS_ORACLE.replace(
        "FROM y GROUP BY user_id, sid",
        """FROM y GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 10 MINUTE
           <= (SELECT MAX(ts) FROM events) - INTERVAL 2 HOUR - INTERVAL 1 MINUTE""",
    ),
)
def st6_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    bound = (
        load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
        - datetime.timedelta(hours=2, minutes=1)
    )
    src = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    sess = sessionize(
        src,
        ts_col="ts",
        gap="10 minutes",
        keys=["user_id"],
        aggs={
            "n": F.count(F.lit(1)).cast("bigint"),
            "sum_value": F.sum(F.col("value").cast(D)).cast("double"),
        },
    )
    out = run_stream_to_batch(sess, mode="append")
    return out.filter(F.col("session_end") <= F.lit(bound))


# ---------------------------------------------------------------------------
# st16 — STREAMING embedding crawl ingest against the PERSISTED
# SemDeDup store (d16 as a structured-streaming sink; the embedding
# analog of st14): seed the store with the even-id half, then stream
# the odd-id half plus verbatim RE-ADDS of the seeded half in three
# deterministic micro-batches, each foreachBatch running semdedup_add
# with store UPDATES on. Laws (batching-independent by construction):
# every streamed vector emits exactly one decision row, and a re-add
# of a seed doc that SURVIVED the seed build is a GUARANTEED hit —
# frozen centers make assignment deterministic and the verbatim twin
# scores cosine exactly 1 on the integer grid (same survivor
# restriction as d16_gate/st14 — structural, not fixture luck).
# ---------------------------------------------------------------------------
@register(
    "st16_stream_semdedup_ingest",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_streamed,
           TRUE AS all_readds_hit
    FROM embeddings
    """,
)
def st16_stream_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from sparkswift.operators import similarity as sim
    from sparkswift.streaming.ops import stream_to_parquet

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    store = "sd_st16_" + uuid.uuid4().hex[:12]
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    try:
        seed = sim.semdedup_store_build(
            first, store, threshold=0.35, n_clusters=16
        )
        stored = seed.filter(F.col("keep")).select(
            (F.col("vec_id") + 100000).alias("vec_id")
        )
        base = mkscratch("sd_stream_")
        src_dir, out_dir = f"{base}/src", f"{base}/decisions"
        feed = second.unionByName(
            first.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
        )
        # three files → three micro-batches, ONE write job
        write_slices(feed, F.col("vec_id") % 3, src_dir)
        schema = spark.read.parquet(src_dir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

        def ingest(batch_df, _epoch_id):
            out = sim.semdedup_add(batch_df, store, threshold=0.35)
            out.write.mode("append").parquet(out_dir)

        stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

        res = spark.read.parquet(out_dir)
        n = res.agg(F.count(F.lit(1)).cast("bigint").alias("n_streamed"))
        miss = res.join(stored, "vec_id").agg(  # law over seed SURVIVORS only
            F.coalesce(
                F.sum(F.when(F.col("store_hit") == 0, 1).otherwise(0)),
                F.lit(0),
            ).alias("n_miss")
        )
        return (
            n.crossJoin(F.broadcast(miss))
            .select("n_streamed", (F.col("n_miss") == 0).alias("all_readds_hit"))
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store}_centers")
        spark.sql(f"DROP TABLE IF EXISTS {store}_vecs")


# ---------------------------------------------------------------------------
# st15 — ARBITRARY-UDF aggregation over streaming session windows
# (applyInPandasWithState + EventTimeTimeout): per-user sessions by
# the same 10-minute gap rule as sw1/st6, but the per-session
# aggregate is an exact MEDIAN computed by a pandas UDF — order
# statistics are precisely what native session_window aggs (Catalyst
# expressions) cannot host; this is the reference's groupby-apply
# semantics (O4) composed with session windows. Median runs on the
# 1e-4 integer grid (st2's policy) so both engines do the identical
# (a+b)/2-of-ints arithmetic; session bounds emit as epoch MICROS —
# no timestamp/timezone surface. Append semantics: the same
# watermark-margin restriction as st6 on both sides.
# ---------------------------------------------------------------------------
@register(
    "st15_stream_session_udf",
    f"""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 600000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    y AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM x)
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) + 600000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(median(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                / 10000.0 AS DOUBLE) AS med_value
    FROM y GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 10 MINUTE
           <= (SELECT MAX(ts) FROM events) - INTERVAL 2 HOUR - INTERVAL 1 MINUTE
    """,
)
def st15_stream_session_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from sparkswift.streaming.ops import stream_session_udf

    bound = (
        load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
        - datetime.timedelta(hours=2, minutes=1)
    )
    # collected naive datetimes are session-UTC; pin the conversion so
    # a non-UTC process TZ can't skew the epoch bound
    bound_us = int(
        bound.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )
    src = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    sess = stream_session_udf(src, gap_minutes=10)
    out = run_stream_to_batch(sess, mode="append")
    return out.filter(F.col("session_end_us") <= F.lit(bound_us))


# Env-gated registration: stateful_running_totals_tws (the
# transformWithStateInPandas successor of st2's operator) registers —
# with st2's exact oracle — only where Spark's
# TransformWithStateInPySpark runner can actually start, i.e.
# google.protobuf is importable. This container lacks protobuf (and
# installs are off-limits) so the entry is absent here; on a real
# cluster it appears automatically and tools/check.py gates it like
# any other oracled query.
def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


if _protobuf_available():

    @register(
        "st2b_stateful_totals_tws",
        f"""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS events_seen,
               CAST(SUM(CAST(value AS {D})) AS DOUBLE) AS value_total
        FROM events
        GROUP BY user_id
        """,
    )
    def st2b_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sparkswift.streaming.ops import stateful_running_totals_tws

        src = events_stream(spark, sf_dir)
        out = stateful_running_totals_tws(src, "user_id")
        res = run_stream_to_batch(out, mode="update")
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy(F.col("events_seen").desc())
        return (
            res.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


# ---------------------------------------------------------------------------
# STREAMING deterministic sampling: the same md5-threshold filter the
# batch sampler uses, applied to an unbounded source — stateless (no
# watermark, no state store), so the stream keeps exactly the rows the
# batch pass would keep: reproducible sampling decisions at ingest
# time, before anything lands. Oracle = the identical filter in SQL.
# ---------------------------------------------------------------------------
from sparkswift.operators.sampling import hash_bucket_hex, hex_threshold  # noqa: E402

_ST7_THR = hex_threshold(0.2)


@register(
    "st7_stream_sample",
    f"""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE substr(md5(concat_ws(':', '0', CAST(event_id AS VARCHAR))), 1, 8)
          < '{_ST7_THR}'
    """,
)
def st7_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = events_stream(spark, sf_dir)
    sampled = src.filter(hash_bucket_hex("event_id", seed=0) < F.lit(_ST7_THR))
    out = run_stream_to_batch(
        sampled.select("event_id", "user_id", "event_type"), mode="append"
    )
    return out


# ---------------------------------------------------------------------------
# STREAM-STATIC enrichment join: the ingest-time dimension lookup —
# an unbounded event stream broadcast-joined to a static dimension
# table. Stateless (no watermark, no state store): each micro-batch
# joins against the broadcast dim exactly like a batch query, so
# stream ≡ batch row-for-row.
# ---------------------------------------------------------------------------
@register(
    "st8_stream_enrich",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def st8_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = events_stream(spark, sf_dir)
    dims = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    joined = src.join(
        F.broadcast(dims), src["user_id"] == dims["c_custkey"]
    ).select("event_id", "user_id", "c_name", "c_nationkey")
    return run_stream_to_batch(joined, mode="append")


# ---------------------------------------------------------------------------
# STREAMING decontamination: an unbounded document stream checked
# against a static benchmark's shingle identities via stream-static
# LEFT SEMI join (stream side left — supported, stateless). Output is
# one row per (doc, matching-distinct-shingle): the multiset a batch
# pass produces, so the oracle is exact (string-shingle SQL vs int64
# identities, equal modulo ~2^-64 collisions — the d2 convention).
# The ingest-time guard: contaminated shingle hits surface before the
# doc ever lands in the corpus.
# ---------------------------------------------------------------------------
@register(
    "st9_stream_decontaminate",
    r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(
                               generate_series(1, len(toks) - 2),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                      ELSE [array_to_string(toks, ' ')] END AS sh
          FROM t),
    b AS (SELECT doc_id FROM documents
          WHERE substr(md5(concat_ws(':', '1', CAST(doc_id AS VARCHAR))), 1, 8)
                < '10000000'),
    bs AS (SELECT DISTINCT unnest(s.sh) AS sg FROM s JOIN b USING (doc_id)),
    e AS (SELECT s.doc_id, unnest(s.sh) AS sg FROM s
          WHERE substr(md5(concat_ws(':', '1', CAST(s.doc_id AS VARCHAR))), 1, 8)
                >= '10000000')
    SELECT e.doc_id FROM e JOIN bs USING (sg)
    """,
)
def st9_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators import dedup as dd
    from sparkswift.operators.sampling import hash_bucket_hex, hex_threshold
    from sparkswift.streaming.ops import table_stream

    thr = hex_threshold(0.0625)
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(hash_bucket_hex("doc_id", seed=1) < F.lit(thr))
    bench_sh = bench.select(
        F.explode(dd.hashed_shingles("text", 3)).alias("s")
    ).distinct()

    src = table_stream(spark, sf_dir, "documents").filter(
        hash_bucket_hex("doc_id", seed=1) >= F.lit(thr)
    )
    e = src.select("doc_id", F.explode(dd.hashed_shingles("text", 3)).alias("s"))
    hits = e.join(bench_sh, "s", "left_semi")
    return run_stream_to_batch(hits.select("doc_id"), mode="append")


# ---------------------------------------------------------------------------
# STREAMING near-dup suppression: MinHash-signature first-wins dedup
# over the document stream (streaming/ops.py:stream_neardup). The
# xxhash64 signature has no SQL twin -> rows-only; the output is the
# deterministic SET of distinct signature keys (survivor choice per
# key is arrival-order-dependent and deliberately not emitted), and
# batch-twin equality + planted-dup behavior are pytest-verified.
# ---------------------------------------------------------------------------
@register("st10_stream_neardup", None)
def st10_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.streaming.ops import stream_neardup, table_stream

    src = table_stream(spark, sf_dir, "documents")
    out = stream_neardup(src, "text", k=3, num_hashes=8)
    return run_stream_to_batch(out.select("sig_key"), mode="append")


# ---------------------------------------------------------------------------
# STREAMING quality gate: the Gopher rule family applied at ingest —
# stateless scan-stage expressions on an unbounded document stream,
# so stream ≡ batch row-for-row and the batch SQL twin is exact.
# This is the "filter before anything lands" deployment of t13: at
# 100 TB the rules run inside the ingest micro-batches and rejected
# docs never reach storage.
# ---------------------------------------------------------------------------
@register(
    "st11_stream_quality",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
               AS BIGINT) AS n_alpha,
             CAST(len(list_filter(toks,
                  w -> w IN ('the','be','to','of','and','that','have','with')))
               AS BIGINT) AS n_stop
      FROM t
    )
    SELECT doc_id, source, n_words
    FROM m
    WHERE n_words BETWEEN 20 AND 10000
      AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
      AND n_stop >= 1
    """,
)
def st11_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators import text as tx
    from sparkswift.streaming.ops import table_stream

    src = table_stream(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n_words = F.size(toks).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))).cast("bigint")
    sw = F.array(*[F.lit(w) for w in tx.GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("bigint")
    kept = (
        src.withColumns(
            {"n_words": n_words, "__alpha": n_alpha, "__stop": n_stop}
        )
        .filter(
            (F.col("n_words") >= 20)
            & (F.col("n_words") <= 10000)
            & (F.col("__alpha").cast("double") / F.col("n_words") >= 0.8)
            & (F.col("__stop") >= 1)
        )
        .select("doc_id", "source", "n_words")
    )
    return run_stream_to_batch(kept, mode="append")


# ---------------------------------------------------------------------------
# STREAMING chunking: the RAG preprocessing step at ingest — the same
# sequence→posexplode window rule as t14, stateless on the document
# stream (stream ≡ batch row-for-row; oracle = t14's batch SQL).
# ---------------------------------------------------------------------------
@register(
    "st12_stream_chunk",
    rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    n AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_words,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE (len(toks) - 32 + 24 - 1) // 24 + 1 END AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS chunk_id,
           array_to_string(toks[u.i*24+1 : u.i*24+32], ' ') AS chunk_text,
           CAST(least(32, n_words - u.i*24) AS BIGINT) AS n_chunk_tokens
    FROM n, unnest(range(0, n_chunks)) AS u(i)
    """,
)
def st12_stream_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.packing import chunk_overlap
    from sparkswift.streaming.ops import table_stream

    src = table_stream(spark, sf_dir, "documents")
    chunks = chunk_overlap(src, "doc_id", "text", size=32, stride=24)
    return run_stream_to_batch(chunks, mode="append")


# ---------------------------------------------------------------------------
# STREAMING index maintenance: continuous IVF ingest. Seed a persisted
# IVF index, then stream near-verbatim twins (+1e-4 jitter, ids
# +100000) of the even-id vectors through a foreachBatch ivf_add —
# the FAISS `index.add` loop as a structured-streaming sink. The
# verdict is deterministic retrieval: searching with each ORIGINAL
# must return its streamed twin at rank 1 (cos ≈ 1 vs a ≤0.51
# natural ceiling; the twin's list is the query's nearest center, so
# the probe always covers it), independent of how the stream was
# micro-batched — append order cannot change the final index
# contents. Rows-only would undersell it: the verdict row is exact,
# so the driver hash-checks "streamed vectors are retrievable".
# ---------------------------------------------------------------------------
@register(
    "st13_stream_ivf_ingest",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_twins, TRUE AS all_twins_rank1
    FROM embeddings WHERE vec_id % 2 = 0
    """,
)
def st13_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators import similarity as sim
    from sparkswift.streaming.ops import stream_to_parquet, table_stream

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = mkscratch("ivf_stream_")
    idx = f"{base}/idx"
    sim.ivf_build(emb, idx, nlist=16)

    e = F.col("embedding").cast("array<double>")
    src = (
        table_stream(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 2 == 0)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.concat(
                F.array(F.element_at(e, 1) + F.lit(1e-4)), F.slice(e, 2, 63)
            ).alias("embedding"),
        )
    )

    def ingest(batch_df, _epoch_id):
        sim.ivf_add(spark, idx, batch_df)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    queries = emb.filter(F.col("vec_id") % 2 == 0)
    hits = sim.ivf_search(spark, idx, queries, k=1, nprobe=8)
    rank1_twin = hits.filter(
        (F.col("rnk") == 1) & (F.col("corpus_id") == F.col("query_id") + 100000)
    ).select("query_id")
    missing = queries.select(F.col("vec_id").alias("query_id")).join(
        rank1_twin, "query_id", "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_missing"))
    total = queries.agg(F.count(F.lit(1)).cast("bigint").alias("n_twins"))
    return (
        total.crossJoin(F.broadcast(missing))
        .select("n_twins", (F.col("n_missing") == 0).alias("all_twins_rank1"))
    )


# ---------------------------------------------------------------------------
# STREAMING crawl ingest against the PERSISTED bucketed near-dup
# store: the d14 operator as a structured-streaming sink. Seed the
# store with the first half of the corpus, then stream the second
# half plus verbatim re-crawls of the seeded half in THREE
# deterministic micro-batches (maxFilesPerTrigger=1 over three
# pre-split files), each foreachBatch running neardup_incremental
# with store UPDATES enabled — the production crawl loop. The verdict
# is batching-independent by construction: every doc emits exactly
# one decision row (n_streamed = |documents|), and a verbatim
# re-crawl of a seeded doc that SURVIVED the seed batch has its
# stored original's exact signature and band keys, so store_hit=1 is
# GUARANTEED for those no matter how the stream was chopped. The law
# is restricted to seed survivors because only for them is it
# structural — a seeded doc eliminated via a transitive near-dup
# chain (A~B~C, only C stored, A < sig_threshold vs C) leaves no
# stored signature matching its re-crawl. Organic cross-batch
# outcomes (which batch a near-dup lands in) stay out of the verdict.
# ---------------------------------------------------------------------------
@register(
    "st14_stream_crawl_ingest",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_streamed,
           TRUE AS all_recrawls_hit
    FROM documents
    """,
)
def st14_stream_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from sparkswift.operators import dedup as dd
    from sparkswift.streaming.ops import stream_to_parquet

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg((F.max("doc_id") / 2).cast("long").alias("m")).collect()[0].m
    store = "nd_st14_" + uuid.uuid4().hex[:12]
    first = docs.filter(F.col("doc_id") <= mid).select("doc_id", "text")
    second = docs.filter(F.col("doc_id") > mid).select("doc_id", "text")
    try:
        seed = dd.neardup_incremental(
            first, store, update_store=True, bucketed=True, num_buckets=16
        )  # seed the store (output is eagerly localCheckpoint-pinned)
        stored = seed.filter(F.col("survived") == 1).select(
            (F.col("doc_id") + 100000).alias("doc_id")
        )

        base = mkscratch("crawl_stream_")
        src_dir, out_dir = f"{base}/src", f"{base}/decisions"
        feed = second.unionByName(
            first.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
        # three files → three micro-batches, ONE write job
        write_slices(feed, F.col("doc_id") % 3, src_dir)

        schema = spark.read.parquet(src_dir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

        def ingest(batch_df, _epoch_id):
            out = dd.neardup_incremental(
                batch_df, store, update_store=True, bucketed=True,
                num_buckets=16,
            )
            out.write.mode("append").parquet(out_dir)

        stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

        res = spark.read.parquet(out_dir)
        n = res.agg(F.count(F.lit(1)).cast("bigint").alias("n_streamed"))
        miss = (
            res.join(stored, "doc_id")  # law over seed SURVIVORS only
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("store_hit") == 0, 1).otherwise(0)),
                    F.lit(0),
                ).alias("n_miss")
            )
        )
        return (
            n.crossJoin(F.broadcast(miss))
            .select("n_streamed", (F.col("n_miss") == 0).alias("all_recrawls_hit"))
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store}_buckets")
        spark.sql(f"DROP TABLE IF EXISTS {store}_sigs")


# ---------------------------------------------------------------------------
# st17 — STREAMING heavy hitters: the agg16 Misra-Gries summary as an
# ingest-time loop. Each micro-batch computes its own bounded ≤ k-row
# MG summary (heavy_hitters — one mapInPandas pass, ≤ P·k rows
# shuffled); the loop appends summaries (never rows) to a summary
# sink, and the final answer merges them with one ≤ batches·k-row
# merge-prune (merge_heavy_hitters). This is the 100 TB hot-key
# discovery loop: state and shuffle are O(k) per batch regardless of
# row count or key cardinality, and the mergeability theorem
# (Agarwal et al. 2012) makes the verdict batching-INDEPENDENT even
# though raw estimates are not: every key with total frequency >
# n/(k+1) must survive the merge, and every estimate must satisfy
# est ≤ true ≤ est + n/(k+1), no matter how the stream was chopped.
# Keys are remapped exactly as agg16 (3 hot keys at ~10% of rows over
# a uniform tail — natural TPC-H keys are uniform, the guarantee
# would be vacuous); the chop hash is independent of the hot-key
# remap so hot keys span all three micro-batches. n_rows comes from
# the per-batch count sidecar, so it also attests every streamed row
# was summarized exactly once.
# ---------------------------------------------------------------------------
_ST17_K = 64


@register(
    "st17_stream_heavy_hitters",
    f"""
    WITH sk AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN l_orderkey % 3
                            ELSE 1000000 + l_partkey END AS key
                FROM lineitem),
    c AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt FROM sk GROUP BY key),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c)
    SELECT n.n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c, n
             WHERE cnt > CAST(n.n_rows AS DOUBLE) / {_ST17_K + 1})
             AS n_true_heavy,
           TRUE AS all_heavy_present, TRUE AS est_within_bound
    FROM n
    """,
)
def st17_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.profile import heavy_hitters, merge_heavy_hitters
    from sparkswift.streaming.ops import stream_to_parquet

    k = _ST17_K
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 3, F.col("l_orderkey") % 3)
        .otherwise(F.lit(1000000) + F.col("l_partkey"))
        .alias("key"),
        (
            F.xxhash64("l_orderkey", "l_partkey", "l_linenumber") % 3
        ).alias("__chop"),
    )

    base = mkscratch("hh_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files → three micro-batches, ONE write job
    write_slices(li, F.abs(F.col("__chop")), src_dir, keep=["key"])

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        # summary rows + the batch row count land in ONE write job
        # (count rides as an item=BATCH_COUNT_SENTINEL row — the
        # documented store contract in streaming/ops.py; every real
        # key here is >= 0; guide §1.2: two jobs per micro-batch -> 1)
        from sparkswift.streaming.ops import BATCH_COUNT_SENTINEL

        hh = heavy_hitters(batch_df, "key", k=k)
        cnt = batch_df.agg(
            F.lit(BATCH_COUNT_SENTINEL).cast("bigint").alias("item"),
            F.count(F.lit(1)).cast("bigint").alias("est"),
        )
        hh.unionByName(cnt).write.mode("append").parquet(summ_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    from sparkswift.streaming.ops import batch_counts, summary_rows

    summ = spark.read.parquet(summ_dir).localCheckpoint()
    cand = merge_heavy_hitters(summary_rows(summ, "item"), k=k)
    exact = li.groupBy(F.col("key").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    n_df = batch_counts(summ, "item", "est")
    bound = F.col("n_rows").cast("double") / (k + 1)
    heavy = exact.crossJoin(F.broadcast(n_df)).filter(F.col("true_cnt") > bound)
    n_heavy = heavy.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_heavy"))
    missing = heavy.join(cand, "item", "left_anti").agg(
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
    one = (
        n_df.crossJoin(F.broadcast(n_heavy))
        .crossJoin(F.broadcast(missing))
        .crossJoin(F.broadcast(est_bad))
    )
    return one.select(
        "n_rows",
        "n_true_heavy",
        (F.col("n_missing") == 0).alias("all_heavy_present"),
        (F.col("n_bad") == 0).alias("est_within_bound"),
    ).localCheckpoint()


# ---------------------------------------------------------------------------
# st18 — STREAMING PCA-Gramian ingest: e8's quantized Gramian is a
# sum of per-row INTEGER contributions, i.e. a perfectly mergeable
# summary (integer addition is associative and order-free — stronger
# than st17's Misra-Gries bound, which only preserves an error
# envelope). Each micro-batch computes its own partial Gramian
# (mapInPandas, ≤ partitions·(d²/2+d) integer rows) into a summary
# sink; the final answer is one groupBy-sum merge. The law is the
# strongest a streaming op can claim: the merged streamed Gramian
# equals the batch Gramian BIT-EXACTLY for every chop of the stream —
# the verdict compares all 2,144 integer sums and the SQL oracle
# re-derives the doc-count anchor. This is the 100 TB covariance
# loop: a crawl continuously folds vectors into O(d²) state, and PCA
# refits read the store, never the corpus.
# ---------------------------------------------------------------------------
@register(
    "st18_stream_pca_ingest",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(2144 AS BIGINT) AS n_cells,
           TRUE AS gram_bitexact
    FROM embeddings
    """,
)
def st18_stream_pca_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.pca import pca_gram
    from sparkswift.streaming.ops import stream_to_parquet

    dim = 64
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    base = mkscratch("gram_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files → three micro-batches, ONE write job
    write_slices(emb, F.abs(F.xxhash64("vec_id") % 3), src_dir)

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        pca_gram(batch_df, "embedding", dim).write.mode("append").parquet(
            summ_dir
        )

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    streamed = (
        spark.read.parquet(summ_dir)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s_stream"))
    )
    batch = pca_gram(emb, "embedding", dim).withColumnRenamed("s", "s_batch")
    cmp = streamed.join(batch, ["i", "j"], "full_outer")
    verdict = cmp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("s_stream").isNull()
                    | F.col("s_batch").isNull()
                    | (F.col("s_stream") != F.col("s_batch")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_bad"),
    )
    n_vecs = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    return (
        n_vecs.crossJoin(F.broadcast(verdict))
        .select(
            "n_vecs",
            "n_cells",
            (F.col("n_bad") == 0).alias("gram_bitexact"),
        )
        .localCheckpoint()
    )


# ---------------------------------------------------------------------------
# st19 — STREAMING quantile ingest: a mergeable rank sketch
# (quantile_summary — equi-spaced-rank compaction in one Arrow-batched
# mapInPandas pass, ≤ units·k 17-byte rows) accumulated per
# micro-batch into a summary sink; the final quantile read merges
# summaries by plain UNION (merge_quantile_summaries) and never
# re-touches the rows. Unlike approxQuantile (driver-side action,
# no composable summary), the sketch IS a DataFrame, so a crawl can
# fold it into a store forever — the 100 TB percentile-monitoring
# loop. The law is exact and batching-INDEPENDENT: the summary
# carries its own rank-error certificate E = SUM(err), and for every
# estimated phi-quantile v*, count(x <= v*) >= phi·n and
# count(x < v*) < phi·n + E hold for ANY chop of the stream and ANY
# partition layout (see quantile_summary's proof sketch);
# SUM(weight) == n additionally attests exactly-once summarization
# of every streamed row. The oracle re-derives the n_rows anchor.
# ---------------------------------------------------------------------------
_ST19_K = 128
_ST19_PROBS = (0.25, 0.5, 0.9, 0.99)


@register(
    "st19_stream_quantile_ingest",
    """
    WITH v AS (SELECT floor(l_extendedprice) AS value FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(4 AS BIGINT) AS n_probes,
           TRUE AS weights_conserved,
           TRUE AS rank_laws_ok
    FROM v
    """,
)
def st19_stream_quantile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.profile import (
        merge_quantile_summaries,
        quantile_summary,
    )
    from sparkswift.streaming.ops import stream_to_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor("l_extendedprice").cast("double").alias("value"),
        (F.xxhash64("l_orderkey", "l_linenumber") % 3).alias("__chop"),
    )

    base = mkscratch("qtl_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files → three micro-batches, ONE write job
    write_slices(li, F.abs(F.col("__chop")), src_dir, keep=["value"])

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        quantile_summary(batch_df, "value", k=_ST19_K).write.mode(
            "append"
        ).parquet(summ_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    est = merge_quantile_summaries(
        spark.read.parquet(summ_dir), list(_ST19_PROBS)
    )
    # bounded collect: len(_ST19_PROBS) rows — the quantile estimates
    # and the summary's self-carried certificate (n from weights, E)
    rows = est.collect()
    n_sum = rows[0]["n_rows"]
    e_bound = rows[0]["e_bound"]
    checks = []
    for r in rows:
        phi, v = r["phi"], r["est"]
        checks.append(
            (
                F.sum(F.when(F.col("value") <= v, 1).otherwise(0))
                >= F.lit(phi) * F.lit(n_sum)
            )
            & (
                F.sum(F.when(F.col("value") < v, 1).otherwise(0))
                < F.lit(phi) * F.lit(n_sum) + F.lit(e_bound)
            )
        )
    laws = F.lit(True)
    for c in checks:
        laws = laws & c
    return (
        li.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.lit(len(rows)).cast("bigint").alias("n_probes"),
            (F.count(F.lit(1)) == F.lit(n_sum)).alias("weights_conserved"),
            laws.alias("rank_laws_ok"),
        )
    ).localCheckpoint()


# ---------------------------------------------------------------------------
# st20 — STREAMING drift ingest: agg17's (dim,bucket) counts are
# plain integer sums — associative and order-free, the same
# mergeability class as st18's Gramian — so a crawl can fold each
# micro-batch's drift_counts into a summary sink and every release
# gate reads the store, never the corpus. The law is the strongest a
# streaming op can claim: the merged streamed report equals the batch
# drift_report BIT-EXACTLY (integer counts AND the derived
# share/psi_nano columns, which are deterministic functions of the
# merged integers) for every chop of the stream. The oracle
# re-derives the doc-count and cell-count anchors.
# ---------------------------------------------------------------------------
@register(
    "st20_stream_drift_ingest",
    """
    WITH d AS (
      SELECT source,
             CAST(CAST(least(floor(n_chars / 500.0), 7) AS BIGINT) AS VARCHAR)
               AS len_b
      FROM documents
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
           (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM d)
             + (SELECT CAST(COUNT(DISTINCT len_b) AS BIGINT) FROM d)
             AS n_cells,
           TRUE AS drift_bitexact
    """,
)
def st20_stream_drift_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.profile import (
        drift_counts,
        drift_from_counts,
        drift_report,
        merge_drift_counts,
    )
    from sparkswift.operators.sampling import hash_bucket_hex, hex_threshold
    from sparkswift.streaming.ops import stream_to_parquet

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.least(F.floor(F.col("n_chars") / 500.0), F.lit(7))
        .cast("bigint")
        .cast("string")
        .alias("len_b"),
        (F.xxhash64("doc_id") % 3).alias("__chop"),
    )
    is_a = hash_bucket_hex("doc_id", 0) < F.lit(hex_threshold(0.5))

    base = mkscratch("drift_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files → three micro-batches, ONE write job
    write_slices(
        docs,
        F.abs(F.col("__chop")),
        src_dir,
        keep=[c for c in docs.columns if c != "__chop"],
    )

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        a = batch_df.filter(is_a)
        b = batch_df.filter(~is_a)
        drift_counts(a, b, ["source", "len_b"]).write.mode("append").parquet(
            summ_dir
        )

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    streamed = drift_from_counts(
        merge_drift_counts(spark.read.parquet(summ_dir))
    )
    batch = drift_report(docs.filter(is_a), docs.filter(~is_a), ["source", "len_b"])
    s = streamed.select(
        "dim", "bucket",
        *[F.col(c).alias(f"s_{c}") for c in ("cnt_a", "cnt_b", "share_a", "share_b", "psi_nano")],
    )
    cmp = batch.join(s, ["dim", "bucket"], "full_outer")
    bad = (
        F.col("cnt_a").isNull()
        | F.col("s_cnt_a").isNull()
        | (F.col("cnt_a") != F.col("s_cnt_a"))
        | (F.col("cnt_b") != F.col("s_cnt_b"))
        | (F.col("share_a") != F.col("s_share_a"))
        | (F.col("share_b") != F.col("s_share_b"))
        | (F.col("psi_nano") != F.col("s_psi_nano"))
    )
    verdict = cmp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.coalesce(
            F.sum(F.when(bad, 1).otherwise(0)), F.lit(0)
        ).alias("n_bad"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        n_docs.crossJoin(F.broadcast(verdict))
        .select(
            "n_docs",
            "n_cells",
            (F.col("n_bad") == 0).alias("drift_bitexact"),
        )
        .localCheckpoint()
    )


# ---------------------------------------------------------------------------
# st21 — STREAMING distinct-cardinality ingest: per-batch HLL
# sketches (Apache DataSketches via hll_sketch_agg — bounded bytes
# per batch regardless of cardinality) accumulated in a summary sink
# and merged with one hll_union_agg. Register maxima merge order-free,
# but DataSketches deliberately estimates a singly-built sketch with
# the more accurate HIP estimator and a UNION with the composite
# estimator — so stream==batch bit-equality is NOT a valid law here
# (measured: 2000-distinct fixture, union est 2002 vs direct est
# 2000; this is documented DataSketches behavior, not a merge bug —
# contrast st18/st20, whose integer-sum summaries ARE bit-mergeable).
# The honest laws: BOTH the merged streamed estimate and the one-shot
# batch estimate sit within ±5% of the exact count (>2x margin over
# the lgK=12 ~1.6% bound), anchored by the oracle-re-derived exact
# distinct. The 100 TB use: per-crawl-batch cardinality monitors
# whose reads never re-touch rows.
# ---------------------------------------------------------------------------
@register(
    "st21_stream_distinct_ingest",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS envelope_stream_ok,
           TRUE AS envelope_batch_ok
    FROM lineitem
    """,
)
def st21_stream_distinct_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.streaming.ops import stream_to_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.xxhash64("l_orderkey", "l_linenumber") % 3).alias("__chop"),
    )

    base = mkscratch("hll_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files → three micro-batches, ONE write job
    write_slices(li, F.abs(F.col("__chop")), src_dir, keep=["l_partkey"])

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        batch_df.agg(
            F.hll_sketch_agg("l_partkey").alias("sk")
        ).write.mode("append").parquet(summ_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    streamed = spark.read.parquet(summ_dir).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("est_stream")
    )
    batch = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey"))
        .cast("bigint")
        .alias("est_batch")
    )
    exact = li.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_exact")
    )
    one = exact.crossJoin(F.broadcast(streamed)).crossJoin(F.broadcast(batch))

    def env(col: str):
        return (
            F.abs(F.col(col) - F.col("n_exact")).cast("double")
            <= 0.05 * F.col("n_exact")
        )

    return one.select(
        "n_exact",
        env("est_stream").alias("envelope_stream_ok"),
        env("est_batch").alias("envelope_batch_ok"),
    ).localCheckpoint()


# ---------------------------------------------------------------------------
# st22 — STREAM-STREAM AS-OF enrichment: each click carries the value
# of the latest at-or-before purchase by the same user — the streaming
# twin of j4's batch asof_join, which Spark's interval-bounded
# stream-stream join (st4) cannot express ("latest" needs per-key
# ordered state, not a range predicate). applyInPandasWithState
# buffers pending clicks + pruned purchase candidates per user; a
# click emits once the watermark passes it. Oracle: DuckDB's native
# ASOF JOIN under the same watermark-margin restriction as st15 (both
# sides drop the un-emittable tail). Timestamps emit as epoch MICROS;
# the matched value rides through untouched — bit-identical.
# ---------------------------------------------------------------------------
@register(
    "st22_stream_asof_enrich",
    """
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS left_ts_us,
           r.value AS matched_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    WHERE l.ts <= (SELECT MAX(ts) FROM events
                   WHERE event_type IN ('click', 'purchase'))
                  - INTERVAL 2 HOUR - INTERVAL 1 MINUTE
    """,
)
def st22_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from sparkswift.streaming.ops import stream_asof_enrich

    # the watermark advances off the clicks∪purchases union, so the
    # restriction bound must use THAT max — not the all-types max
    bound = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .agg(F.max("ts"))
        .collect()[0][0]
        - datetime.timedelta(hours=2, minutes=1)
    )
    bound_us = int(
        bound.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )
    src = events_stream(spark, sf_dir)
    clicks = src.filter(F.col("event_type") == "click")
    purchases = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    out = run_stream_to_batch(
        stream_asof_enrich(clicks, purchases, watermark="2 hours"),
        mode="append",
    )
    return out.filter(F.col("left_ts_us") <= F.lit(bound_us)).select(
        "event_id", "user_id", "left_ts_us", "matched_value"
    )


# ---------------------------------------------------------------------------
# st23 — STREAMING Count-Min ingest: each micro-batch computes its own
# bounded ≤ depth×width-cell sketch (countmin_sketch — one explode +
# one hash agg), the loop appends CELLS (never rows) to a summary
# sink, and the final sketch is one cell-wise integer sum
# (countmin_merge). Cells are pure integer sums, so the merged sketch
# equals the batch-built sketch BIT-EXACTLY under ANY chop — the
# st18/st20 mergeable-summary class, and a stronger law than st17's
# MG envelope or st21's HLL estimator asymmetry. The verdict also
# re-asserts the one-sided estimate law (est ≥ true for every key)
# and anchors to n_rows (every streamed row summarized exactly once,
# via the count sidecar) and n_cells (binds the hash to the sketch's
# actual sparsity, which the oracle re-derives cell by cell).
# ---------------------------------------------------------------------------
@register(
    "st23_stream_countmin_ingest",
    """
    WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
      SELECT r,
             CAST(('0x' || substr(md5(concat_ws(':', '7',
                    CAST(r AS VARCHAR), CAST(user_id AS VARCHAR))), 1, 8))
                  AS BIGINT) % 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events, rs GROUP BY 1, 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(c) AS BIGINT) AS total_mass,
           TRUE AS merged_equals_batch,
           TRUE AS est_never_under
    FROM cells
    """,
)
def st23_stream_countmin_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.profile import (
        countmin_estimate,
        countmin_merge,
        countmin_sketch,
    )
    from sparkswift.streaming.ops import stream_to_parquet

    w, d, seed = 64, 4, 7
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", (F.xxhash64("event_id") % 3).alias("__chop")
    )
    base = mkscratch("cm_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files → three micro-batches, ONE write job
    write_slices(ev, F.abs(F.col("__chop")), src_dir, keep=["user_id"])

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        # sketch cells + the batch row count land in ONE write job
        # (the count rides as a row=BATCH_COUNT_SENTINEL cell — the
        # documented store contract in streaming/ops.py; guide §1.2:
        # two sequential jobs per micro-batch halved to one)
        from sparkswift.streaming.ops import BATCH_COUNT_SENTINEL

        sk = countmin_sketch(batch_df, "user_id", width=w, depth=d, seed=seed)
        cnt = batch_df.agg(
            F.lit(BATCH_COUNT_SENTINEL).alias("row"),
            F.lit(0).alias("bucket"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        sk.unionByName(cnt).write.mode("append").parquet(summ_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    from sparkswift.streaming.ops import batch_counts, summary_rows

    cells = spark.read.parquet(summ_dir).localCheckpoint()
    merged = countmin_merge(summary_rows(cells, "row")).localCheckpoint()
    batch_sk = countmin_sketch(
        load_table(spark, sf_dir, "events"), "user_id", width=w, depth=d, seed=seed
    )
    # bit-exact merge law: merged cells == batch cells (full outer,
    # any mismatch counts)
    mism = (
        merged.withColumnRenamed("c", "cm")
        .join(batch_sk.withColumnRenamed("c", "cb"), ["row", "bucket"], "full")
        .filter(
            F.coalesce("cm", F.lit(-1)) != F.coalesce("cb", F.lit(-2))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    keys = load_table(spark, sf_dir, "events").select("user_id").distinct()
    est = countmin_estimate(merged, keys, "user_id", width=w, depth=d, seed=seed)
    true = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    under = (
        est.join(true, "user_id")
        .filter(F.col("est") < F.col("true_cnt"))
        .agg(F.count(F.lit(1)).alias("n_under"))
    )
    n_rows = batch_counts(cells, "row", "c")
    shape = merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("c").cast("bigint").alias("total_mass"),
    )
    one = (
        n_rows.crossJoin(F.broadcast(shape))
        .crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(under))
    )
    return one.select(
        "n_rows",
        "n_cells",
        "total_mass",
        (F.col("n_mismatch") == 0).alias("merged_equals_batch"),
        (F.col("n_under") == 0).alias("est_never_under"),
    ).localCheckpoint()


# ---------------------------------------------------------------------------
# st24 — stream-stream LEFT OUTER interval join: st4's inner join
# emits matches as data arrives, but the OUTER rows (clicks with no
# purchase in their 1-hour window) can only emit when the WATERMARK
# CLOSES the click's window — Spark's outer-join state-expiry path,
# a different mechanism from anything st1-st23 exercises. The oracle
# is the batch left interval join restricted to clicks whose window
# is provably closed under the final watermark (min of the two
# streams' maxima − 2h delay − 1h window − 1min margin); matched and
# null rows are both final inside that region.
# ---------------------------------------------------------------------------
@register(
    "st24_stream_left_outer_join",
    """
    WITH bound AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 2 HOUR - INTERVAL 1 HOUR - INTERVAL 1 MINUTE AS b
    )
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.ts <= (SELECT b FROM bound)
    """,
)
def st24_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    ev_b = load_table(spark, sf_dir, "events")
    maxes = ev_b.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "mp"
        ),
    ).collect()[0]
    bound = min(maxes["mc"], maxes["mp"]) - datetime.timedelta(
        hours=3, minutes=1
    )
    bound_us = int(
        bound.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "left_outer",
    )
    out = run_stream_to_batch(joined, mode="append")
    return out.filter(
        F.unix_micros("click_ts") <= F.lit(bound_us)
    ).select("click_id", "purchase_id", "user_id", "purchase_value")


# ---------------------------------------------------------------------------
# st25 — STREAMING conversion-window funnel (agg20's deadline form —
# an unbounded funnel never closes, so the streamable semantics add
# the window every product-analytics funnel has anyway): per user,
# steps must complete within 2h of the first view; the funnel emits
# exactly once when the watermark passes t1 + window (a tombstone
# prevents a later view from opening a second funnel — batch
# semantics are one funnel per key). Oracle: the batch deadline
# funnel restricted to funnels provably closed under the final
# watermark.
# ---------------------------------------------------------------------------
@register(
    "st25_stream_funnel",
    """
    WITH rel AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT user_id, MIN(t) AS t1_us FROM rel
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT rel.user_id, MIN(t) AS t2_us
           FROM rel JOIN s1 ON rel.user_id = s1.user_id
           WHERE event_type = 'click' AND t > s1.t1_us
             AND t <= s1.t1_us + 7200000000
           GROUP BY rel.user_id),
    s3 AS (SELECT rel.user_id, MIN(t) AS t3_us
           FROM rel JOIN s1 ON rel.user_id = s1.user_id
                    JOIN s2 ON rel.user_id = s2.user_id
           WHERE event_type = 'purchase' AND t > s2.t2_us
             AND t <= s1.t1_us + 7200000000
           GROUP BY rel.user_id)
    SELECT s1.user_id, s1.t1_us, s2.t2_us, s3.t3_us,
           CAST(1 + (s2.user_id IS NOT NULL)::INT
                  + (s3.user_id IS NOT NULL)::INT AS INT) AS depth
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    WHERE s1.t1_us + 7200000000
          <= (SELECT MAX(t) FROM rel) - 7200000000 - 60000000
    """,
)
def st25_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from sparkswift.streaming.ops import stream_funnel

    win_us = 7_200_000_000
    bound = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .agg(F.max("ts"))
        .collect()[0][0]
        - datetime.timedelta(hours=2, minutes=1)
    )
    bound_us = int(
        bound.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )
    src = events_stream(spark, sf_dir)
    out = run_stream_to_batch(
        stream_funnel(
            src, ["view", "click", "purchase"], window="2 hours",
            watermark="2 hours",
        ),
        mode="append",
    )
    return out.filter(F.col("t1_us") + win_us <= F.lit(bound_us)).select(
        "user_id", "t1_us", "t2_us", "t3_us", "depth"
    )


# ---------------------------------------------------------------------------
# st26 — STREAMING retention ingest: agg21's cohort triangle fed by a
# stream. Composition of existing primitives, not a new stateful op:
# per-event (cohort_day, day_offset, user) triples derive statelessly
# once the user's cohort day is known — the cohort assignment itself
# is the one stateful piece, done here by enriching the stream against
# the batch cohort dimension (stream-static join — the standard
# "enrich events with a dimension" shape, st8's pattern), then
# dropDuplicates bounds each (cohort, offset, user) to one row and a
# complete-mode count yields the triangle. Stream≡batch exactly: the
# oracle is agg21's (floor-div day arithmetic, pre-cohort rows
# excluded).
# ---------------------------------------------------------------------------
@register(
    "st26_stream_retention",
    """
    WITH c AS (
      SELECT user_id,
             (epoch_us(MIN(ts)) // 86400000000) * 86400000000 AS cohort_day_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    )
    SELECT c.cohort_day_us,
           epoch_us(e.ts) // 86400000000
             - c.cohort_day_us // 86400000000 AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE epoch_us(e.ts) // 86400000000 >= c.cohort_day_us // 86400000000
    GROUP BY 1, 2
    """,
)
def st26_stream_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_us = 86_400_000_000
    # cohort dimension from the batch table (the stream-static join's
    # static side — in production a maintained dimension table)
    ev_b = load_table(spark, sf_dir, "events")
    cohort = (
        ev_b.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("__t1"))
        .select(
            "user_id",
            (
                F.expr(f"(__t1 - pmod(__t1, {day_us})) div {day_us}")
                * day_us
            )
            .cast("bigint")
            .alias("cohort_day_us"),
        )
    )
    src = events_stream(spark, sf_dir)
    enriched = (
        src.join(cohort, "user_id")  # stream-static equi-join
        .select(
            "user_id",
            "cohort_day_us",
            (
                F.expr(
                    f"(unix_micros(ts) - pmod(unix_micros(ts), {day_us}))"
                    f" div {day_us}"
                )
                - F.expr(
                    f"(cohort_day_us - pmod(cohort_day_us, {day_us}))"
                    f" div {day_us}"
                )
            ).alias("day_offset"),
        )
        .filter(F.col("day_offset") >= 0)
    )
    counted = (
        enriched.dropDuplicates(["cohort_day_us", "day_offset", "user_id"])
        .groupBy("cohort_day_us", "day_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return run_stream_to_batch(counted, mode="complete").select(
        "cohort_day_us", "day_offset", "n_active"
    )


# ---------------------------------------------------------------------------
# st27 — STREAMING point-in-time SCD2 enrichment (j12's streaming
# twin): each arriving probe picks the dimension version valid at its
# timestamp via a STATELESS stream-static join — the equi key
# (user_id) drives a hash join and the interval containment rides as
# the join's residual condition, so there is NO stream state, no
# watermark tail, and every input row emits exactly once (append mode
# with no aggregation). At scale the static SCD2 side would be a
# materialized dimension table (here it is derived in-plan; Spark
# re-evaluates the static side per micro-batch — the standard
# stream-static contract). Oracle: identical containment SQL — full
# 10k-row hash match, no restriction clause needed.
# ---------------------------------------------------------------------------
@register(
    "st27_stream_pit_enrich",
    """
    WITH m AS (
      SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
             CASE WHEN row_number() OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) = 1
                  OR lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    dim AS (
      SELECT user_id, event_type, t AS from_us,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS to_us
      FROM m WHERE chg = 1
    ),
    f AS (
      SELECT event_id, user_id, epoch_us(ts) - 1800000000 AS probe_us
      FROM events
    )
    SELECT f.event_id, f.user_id, f.probe_us,
           d.event_type AS state_30m_ago
    FROM f LEFT JOIN dim d
      ON d.user_id = f.user_id AND d.from_us <= f.probe_us
         AND (d.to_us IS NULL OR f.probe_us < d.to_us)
    """,
)
def st27_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.events import scd2_intervals

    dim = scd2_intervals(load_table(spark, sf_dir, "events")).select(
        F.col("user_id").alias("d_uid"),
        "from_us",
        "to_us",
        F.col("event_type").alias("state_30m_ago"),
    )
    src = events_stream(spark, sf_dir)
    probes = src.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.lit(1_800_000_000)).alias("probe_us"),
    )
    joined = probes.join(
        dim,
        (probes.user_id == dim.d_uid)
        & (dim.from_us <= probes.probe_us)
        & (dim.to_us.isNull() | (probes.probe_us < dim.to_us)),
        "left_outer",
    ).select("event_id", "user_id", "probe_us", "state_30m_ago")
    return run_stream_to_batch(joined, mode="append")


# ---------------------------------------------------------------------------
# st28 — STREAMING SFT encode+mask ingest (p31's streaming twin): the
# chat render (_p31_conversations — pure native exprs) and the
# Arrow-batched sft_encode_masks both compose with a file-source
# stream unchanged (stateless map-side work, no state store, no
# watermark). The verdict law is BIT-equality to the batch path per
# conversation — ids AND masks — reduced to a one-row verdict; the
# BPE table is trained once batch-side and rides both closures (at
# 100 TB the trained tokenizer is a build artifact, not per-batch
# work). Totals anchor the oracle to the table.
# ---------------------------------------------------------------------------
@register(
    "st28_stream_sft_masks",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_convs,
           TRUE AS stream_matches_batch
    FROM documents
    """,
)
def st28_stream_sft_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators import text as tx
    from sparkswift.operators.packing import sft_encode_masks
    from sparkswift.streaming.ops import table_stream
    from sparkswift.suite_llm import _p31_conversations

    docs = load_table(spark, sf_dir, "documents")
    merges = tx.bpe_train(docs, num_merges=100)

    enc_stream = run_stream_to_batch(
        sft_encode_masks(
            _p31_conversations(table_stream(spark, sf_dir, "documents")),
            merges,
        ),
        mode="append",
    ).select(
        F.col("conv_id").alias("s_id"),
        F.col("n_tokens").alias("s_n"),
        F.col("n_unmasked").alias("s_u"),
        F.col("token_ids").alias("s_ids"),
        F.col("loss_mask").alias("s_mask"),
    )
    enc_batch = sft_encode_masks(_p31_conversations(docs), merges)
    joined = enc_batch.join(
        enc_stream, enc_batch.conv_id == enc_stream.s_id, "full"
    )
    bad = joined.filter(
        F.col("conv_id").isNull()
        | F.col("s_id").isNull()
        | (F.col("n_tokens") != F.col("s_n"))
        | (F.col("n_unmasked") != F.col("s_u"))
        | (F.col("token_ids") != F.col("s_ids"))
        | (F.col("loss_mask") != F.col("s_mask"))
    ).agg(F.count(F.lit(1)).alias("n_bad"))
    n_convs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_convs"))
    return n_convs.crossJoin(F.broadcast(bad)).select(
        "n_convs", (F.col("n_bad") == 0).alias("stream_matches_batch")
    )


# ---------------------------------------------------------------------------
# st29 — STREAMING OHLC ingest (w7's streaming twin, the st18/st20
# mergeable-summary class extended to ARG-selections): per micro-
# batch one ohlc_partials aggregate lands in a summary sink; open and
# close carry their full (ts, tiebreak, value) selection struct, so
# the read-time merge is plain struct min/max — associative and
# commutative ⇒ stream == batch BIT-exactly under ANY chop (unlike
# st21's HLL, where only an envelope holds). Verdict: full-outer
# mismatch count against the batch w7 candles over every column.
# ---------------------------------------------------------------------------
@register(
    "st29_stream_ohlc_ingest",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT (event_type, date_trunc('hour', ts)))
             AS BIGINT) AS n_candles,
           TRUE AS merged_equals_batch
    FROM events
    """,
)
def st29_stream_ohlc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.events import ohlc_bars, ohlc_merge, ohlc_partials
    from sparkswift.streaming.ops import stream_to_parquet

    ev = load_table(spark, sf_dir, "events")
    base = mkscratch("ohlc_stream_")
    src_dir, summ_dir = f"{base}/src", f"{base}/summ"
    # three files -> three micro-batches, ONE write job
    write_slices(ev, F.abs(F.xxhash64("event_id") % 3), src_dir)

    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        ohlc_partials(batch_df).write.mode("append").parquet(summ_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)

    merged = ohlc_merge(spark.read.parquet(summ_dir))
    batch = ohlc_bars(ev)
    m = merged.select(
        F.col("event_type").alias("k"),
        F.col("bucket_ts").alias("b"),
        *[F.col(c).alias(f"m_{c}") for c in ("open", "high", "low", "close", "n_events")],
    )
    mism = (
        batch.join(
            m,
            (batch.event_type == m.k) & (batch.bucket_ts == m.b),
            "full",
        )
        .filter(
            F.col("event_type").isNull()
            | F.col("k").isNull()
            | (F.col("open") != F.col("m_open"))
            | (F.col("high") != F.col("m_high"))
            | (F.col("low") != F.col("m_low"))
            | (F.col("close") != F.col("m_close"))
            | (F.col("n_events") != F.col("m_n_events"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    n_candles = batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candles")
    )
    return (
        tot.crossJoin(F.broadcast(n_candles))
        .crossJoin(F.broadcast(mism))
        .select(
            "n_rows",
            "n_candles",
            (F.col("n_mismatch") == 0).alias("merged_equals_batch"),
        )
    )


# ---------------------------------------------------------------------------
# st30 — STREAMING compression-ratio ingest (t23's twin): the zlib
# signal is a pure per-row function of the payload at a pinned level,
# so the stateless stream BIT-equals the batch pass — the strongest
# stream law available (stronger than enveloped sketches; same class
# as st28's mask equality). Verdict: full-outer per-doc mismatch
# count over (n_bytes, n_compressed, ratio).
# ---------------------------------------------------------------------------
@register(
    "st30_stream_compression_ratio",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS stream_matches_batch
    FROM documents
    """,
)
def st30_stream_compression_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sparkswift.operators import text as tx
    from sparkswift.streaming.ops import table_stream

    docs = load_table(spark, sf_dir, "documents")
    s = run_stream_to_batch(
        tx.compression_ratio(table_stream(spark, sf_dir, "documents")),
        mode="append",
    ).select(
        F.col("doc_id").alias("s_id"),
        F.col("n_bytes").alias("s_b"),
        F.col("n_compressed").alias("s_c"),
        F.col("ratio").alias("s_r"),
    )
    b = tx.compression_ratio(docs)
    bad = (
        b.join(s, b.doc_id == s.s_id, "full")
        .filter(
            F.col("doc_id").isNull()
            | F.col("s_id").isNull()
            | (F.col("n_bytes") != F.col("s_b"))
            | (F.col("n_compressed") != F.col("s_c"))
            | ~F.col("ratio").eqNullSafe(F.col("s_r"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return n_docs.crossJoin(F.broadcast(bad)).select(
        "n_docs", (F.col("n_bad") == 0).alias("stream_matches_batch")
    )


# ---------------------------------------------------------------------------
# st31 — streaming multimodal decode ingest: the mm17 QOI synth +
# REAL decode run as a stateless streaming map (mapInPandas rides
# readStream unchanged — the crawl-ingest shape for image corpora),
# certified BIT-equal to the batch decode on ids, byte lengths,
# sha256 payload digests, and every feature component. Stateless ⇒
# chop-invariant by construction; the law here is that the Arrow
# decode path itself is identical under the streaming runner.
# ---------------------------------------------------------------------------
@register(
    "st31_stream_qoi_decode",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS stream_matches_batch
    FROM documents
    """,
)
def st31_stream_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators import multimodal as mm
    from sparkswift.streaming.ops import table_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    batch = mm.decode_image(
        mm.synth_qoi_payload(docs, "doc_id"), "doc_id", "payload", fake=False,
        feat_dim=6,
    )
    stream_src = table_stream(spark, sf_dir, "documents").select("doc_id")
    s = run_stream_to_batch(
        mm.decode_image(
            mm.synth_qoi_payload(stream_src, "doc_id"),
            "doc_id",
            "payload",
            fake=False,
            feat_dim=6,
        ),
        mode="append",
    ).select(
        F.col("id").alias("s_id"),
        F.col("byte_len").alias("s_len"),
        F.col("sha256").alias("s_sha"),
        F.col("feat").alias("s_feat"),
    )
    bad = (
        batch.join(s, batch.id == s.s_id, "full")
        .filter(
            F.col("id").isNull()
            | F.col("s_id").isNull()
            | (F.col("byte_len") != F.col("s_len"))
            | (F.col("sha256") != F.col("s_sha"))
            | (F.col("feat") != F.col("s_feat"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return n_docs.crossJoin(F.broadcast(bad)).select(
        "n_docs", (F.col("n_bad") == 0).alias("stream_matches_batch")
    )


# ---------------------------------------------------------------------------
# st32 — streaming CUSUM (w10's stateful twin, applyInPandasWithState
# with a one-long carry per key): events chop into THREE time-ordered
# micro-batches (day ≤10 / ≤20 / rest, one file each,
# maxFilesPerTrigger=1), so the carry genuinely persists across
# batches — and because batches respect per-key time order and the
# recurrence is exact int64, the streamed rows are BIT-equal to the
# batch operator's on every (cusum, alert). That is the law this twin
# certifies: a sequential stateful computation survives any
# time-respecting chop with O(keys) state.
# ---------------------------------------------------------------------------
@register(
    "st32_stream_cusum",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS stream_matches_batch
    FROM events
    """,
)
def st32_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators.rolling import cusum_alerts
    from sparkswift.streaming.ops import stream_cusum

    ev = load_table(spark, sf_dir, "events")
    batch = cusum_alerts(ev, allowance=60_000, threshold=400_000)

    prepared = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("v_scaled"),
        F.dayofmonth("ts").alias("__day"),
    )
    base = mkscratch("cusum_stream_")
    # three day-range slices → three micro-batches in ONE write job;
    # write_slices stamps explicit increasing mtimes so trigger order
    # = slice order (ADVICE r12: coarse mtime ties could reorder
    # micro-batches)
    write_slices(
        prepared,
        F.when(F.col("__day") <= 10, 0)
        .when(F.col("__day") <= 20, 1)
        .otherwise(2),
        base,
        keep=[c for c in prepared.columns if c != "__day"],
    )

    schema = spark.read.parquet(base).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    s = run_stream_to_batch(
        stream_cusum(src, allowance=60_000, threshold=400_000),
        mode="append",
    ).select(
        F.col("user_id").alias("s_u"),
        F.col("event_id").alias("s_e"),
        F.col("cusum").alias("s_c"),
        F.col("alert").alias("s_a"),
    )
    bad = (
        batch.join(
            s,
            (batch.user_id == s.s_u) & (batch.event_id == s.s_e),
            "full",
        )
        .filter(
            F.col("user_id").isNull()
            | F.col("s_u").isNull()
            | (F.col("cusum") != F.col("s_c"))
            | (F.col("alert") != F.col("s_a"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    n = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return n.crossJoin(F.broadcast(bad)).select(
        "n_events", (F.col("n_bad") == 0).alias("stream_matches_batch")
    )


# ---------------------------------------------------------------------------
# st33 — STREAM-STATIC spatial enrichment: j13's grid reduction with
# the probe side a stream (points arriving) against the static corpus
# build — the geo-ingest shape ("which known sites is this new point
# near?"). The grid keys and distance verify are stateless exprs, so
# the same spatial_join plan runs under the streaming runner as a
# stream-static equi-join on the composite (cx, cy) key; certified
# BIT-equal to the batch self-join (same pairs, same exact dist_sq).
# ---------------------------------------------------------------------------
@register(
    "st33_stream_spatial_join",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS stream_matches_batch
    FROM embeddings
    """,
)
def st33_stream_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.joins import spatial_join
    from sparkswift.streaming.ops import table_stream

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("x"),
        F.col("embedding")[1].alias("y"),
    )
    batch = spatial_join(emb, id_col="vec_id", radius=0.02)
    s_src = table_stream(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("x"),
        F.col("embedding")[1].alias("y"),
    )
    # with an explicit build side, spatial_join emits EVERY
    # (probe, build) match (ADVICE r12 fix) — since this probe stream
    # IS the build corpus, restore the self-join's unordered-pair
    # canonicalization here, caller-side, where the shared id space
    # is a known fact rather than an operator assumption
    s = run_stream_to_batch(
        spatial_join(s_src, id_col="vec_id", radius=0.02, build=emb).filter(
            F.col("id_l") < F.col("id_r")
        ),
        mode="append",
    ).select(
        F.col("id_l").alias("s_l"),
        F.col("id_r").alias("s_r"),
        F.col("dist_sq").alias("s_d"),
    )
    bad = (
        batch.join(
            s, (batch.id_l == s.s_l) & (batch.id_r == s.s_r), "full"
        )
        .filter(
            F.col("id_l").isNull()
            | F.col("s_l").isNull()
            | (F.col("dist_sq") != F.col("s_d"))
        )
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    return n.crossJoin(F.broadcast(bad)).select(
        "n_points", (F.col("n_bad") == 0).alias("stream_matches_batch")
    )


# ---------------------------------------------------------------------------
# st34 — STREAMING perceptual image dedup at ingest: the crawler's
# "is this image a perceptual copy of anything already in the
# corpus?" check as a stream-static equi-join against d20's persisted
# dHash store. decode→hash is stateless mapInPandas (streams
# unchanged); the store side is the bucketed catalog table. Every
# arriving image is a brightness-shifted copy of a corpus image, so
# store_hit must be exactly (orig ≤ mid) — but the oracle does NOT
# shortcut: it re-derives both halves' hashes pixel-law-to-bit-
# packing and replays the join, certifying the full streaming decode
# → hash → probe pipeline hash-exactly.
# ---------------------------------------------------------------------------
@register(
    "st34_stream_image_dedup",
    """
    WITH
    ids AS (
      SELECT doc_id, doc_id AS orig, 0 AS shift, 'store' AS part
      FROM documents, (SELECT max(doc_id) // 2 AS mid FROM documents) m
      WHERE doc_id <= m.mid
      UNION ALL
      SELECT doc_id + 100000, doc_id, 10, 'stream' FROM documents
    ),
    bx AS (SELECT unnest(range(9)) AS x),
    by AS (SELECT unnest(range(8)) AS y),
    d2 AS (SELECT unnest(range(2)) AS dx),
    e2 AS (SELECT unnest(range(2)) AS dy),
    blocks AS (
      SELECT doc_id, x, y,
             SUM((3 * orig + 17 * (2 * x + dx) + 29 * (2 * y + dy)
                  + 41 * ((orig + (2 * x + dx) * (2 * y + dy)) % 7)) % 240
                 + shift) AS s
      FROM ids, bx, by, d2, e2
      GROUP BY doc_id, x, y
    ),
    bits AS (
      SELECT a.doc_id, a.y * 8 + a.x AS k,
             CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
      FROM blocks a JOIN blocks b
        ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN k < 32 THEN bit * (1 << k) ELSE 0 END)
                  AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN k >= 32 THEN bit * (1 << (k - 32)) ELSE 0 END)
                  AS BIGINT) AS hash_lo
      FROM bits GROUP BY doc_id
    ),
    tagged AS (SELECT h.*, i.part FROM hashes h JOIN ids i USING (doc_id)),
    store_keys AS (SELECT DISTINCT hash_hi, hash_lo FROM tagged
                   WHERE part = 'store')
    SELECT t.doc_id,
           CAST(CASE WHEN s.hash_hi IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS store_hit
    FROM tagged t LEFT JOIN store_keys s
      ON t.hash_hi = s.hash_hi AND t.hash_lo = s.hash_lo
    WHERE t.part = 'stream'
    """,
)
def st34_stream_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from sparkswift.operators import multimodal as mm
    from sparkswift.streaming.ops import table_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mid = docs.agg((F.max("doc_id") / 2).cast("long").alias("m")).collect()[0].m
    store = "dh_stream_" + uuid.uuid4().hex[:12]
    mm.image_dhash_incremental(
        mm.synth_dhash_pgm_payload(
            docs.filter(F.col("doc_id") <= mid), "doc_id"
        ),
        store,
        update_store=True,
    ).count()
    s_src = table_stream(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 100000).alias("doc_id")
    )
    h = mm.image_dhash(
        mm.synth_dhash_pgm_payload(s_src, "doc_id"), "doc_id", "payload"
    )
    keys = (
        spark.table(f"{store}_hashes")
        .select("hash_hi", "hash_lo")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = h.join(keys, ["hash_hi", "hash_lo"], "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce("__hit", F.lit(0)).cast("bigint").alias("store_hit"),
    )
    out = run_stream_to_batch(joined, mode="append").localCheckpoint()
    spark.sql(f"DROP TABLE IF EXISTS {store}_hashes")
    return out


# ---------------------------------------------------------------------------
# st35 — HTML → TEXT EXTRACTION AT INGEST (t25's crawl stage under
# the streaming runner: raw pages arrive, clean text leaves — the
# stateless stage every streaming crawl pipeline runs first). The
# extraction chain is pure native exprs, so the same plan streams
# unchanged; the oracle is t25's predict-the-output law, certifying
# the full streamed chain hash-exactly.
# ---------------------------------------------------------------------------
@register(
    "st35_stream_html_extract",
    """
    SELECT doc_id, text || ' &lt;3 & tail' AS clean_text,
           CAST(length(text || ' &lt;3 & tail') AS BIGINT) AS n_clean_chars
    FROM documents
    """,
)
def st35_stream_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators.text import html_extract_text
    from sparkswift.streaming.ops import table_stream

    src = table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    html = src.withColumn(
        "html",
        F.concat(
            # Same hardened fixture as t25: attribute-bearing <head>
            # + planted '&amp;lt;' double-decode probe.
            F.lit('<HTML><head profile="https://example.org/p"><title>Doc '),
            F.col("doc_id").cast("string"),
            F.lit('</title><script>var p = 1 < 2; var s = "</p>";</script>'),
            F.lit("<style>.a{color:red}</style></head><body><p>"),
            F.regexp_replace("text", r"^(\w+)", "<b>$1</b>"),
            F.lit(" &amp;lt;3 &amp; tail</p><!-- crawler note --></body></HTML>"),
        ),
    )
    out = html.select(
        "doc_id", html_extract_text("html").alias("clean_text")
    ).withColumn("n_clean_chars", F.length("clean_text").cast("bigint"))
    return run_stream_to_batch(out, mode="append")


# ---------------------------------------------------------------------------
# st36 — MP3 FRAMING CENSUS AT INGEST (mm26 under the streaming
# runner: the audio-triage numbers a streaming crawl computes before
# deciding to keep a payload). The census is stateless mapInPandas,
# so the same plan streams unchanged; mm26's exact table-arithmetic
# oracle certifies the streamed chain directly — durations in
# integer microseconds, byte accounting, CBR/VBR flags, hash-exact.
# ---------------------------------------------------------------------------
@register(
    "st36_stream_mp3_census",
    """
    WITH fs AS (SELECT unnest(range(8)) AS f),
         tbl AS (SELECT [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                   AS t),
         p AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
         fr AS (
           SELECT doc_id, n, f,
                  t[1 + CASE WHEN doc_id % 7 = 0 THEN doc_id % 14
                             ELSE (doc_id + f) % 14 END] AS kbps,
                  (doc_id + f) % 2 AS pad
           FROM p JOIN fs ON f < n CROSS JOIN tbl
         )
    SELECT doc_id AS id,
           CAST(n AS BIGINT) AS n_frames,
           CAST(1152 * n AS BIGINT) AS total_samples,
           CAST(n * (1152 * 1000000 // 44100) AS BIGINT) AS duration_us,
           CAST(SUM(144 * kbps * 1000 // 44100 + pad) AS BIGINT)
             AS stream_bytes,
           CAST(MIN(kbps) AS BIGINT) AS min_kbps,
           CAST(MAX(kbps) AS BIGINT) AS max_kbps,
           CAST(CASE WHEN MIN(kbps) < MAX(kbps) THEN 1 ELSE 0 END AS BIGINT)
             AS is_vbr
    FROM fr GROUP BY doc_id, n
    """,
)
def st36_stream_mp3_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators import multimodal as mm
    from sparkswift.streaming.ops import table_stream

    src = table_stream(spark, sf_dir, "documents").select("doc_id")
    wp = mm.synth_mp3_payload(src, "doc_id")
    out = mm.mp3_frame_census(wp, "doc_id", "payload")
    return run_stream_to_batch(out, mode="append")


# ---------------------------------------------------------------------------
# st38 — STREAMING MEDIA TRIAGE AT INGEST (mm32 as a crawl loop):
# each micro-batch's payloads land as FILES in a fresh arrival
# directory, and the bounded-read triage loader (sniff → ranged
# census, sources/media_headers.py) runs over that directory's
# LISTING inside foreachBatch — the ingest never holds a payload in
# memory and never reads media bytes beyond headers. Stateless
# (batch-local triage, no standing store), so stream ≡ batch
# row-for-row and mm32's exact CASE oracle certifies it unchanged.
# ---------------------------------------------------------------------------
@register(
    "st38_stream_media_triage",
    """
    WITH fs AS (SELECT unnest(range(8)) AS f),
         tbl AS (SELECT [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                   AS t),
         mp3 AS (
           SELECT p.doc_id,
                  CAST(SUM(144 * t[1 + CASE WHEN p.doc_id % 7 = 0
                                            THEN p.doc_id % 14
                                            ELSE (p.doc_id + f) % 14 END]
                           * 1000 // 44100 + (p.doc_id + f) % 2)
                       AS BIGINT) AS stream_bytes
           FROM (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents
                 WHERE doc_id % 4 = 0) p
           JOIN fs ON f < p.n CROSS JOIN tbl
           GROUP BY p.doc_id
         ),
         avi AS (
           SELECT p.doc_id,
                  CAST(SUM(100 + 37 * ((p.doc_id + f) % 11)) AS BIGINT)
                    AS video_bytes
           FROM (SELECT doc_id, 2 + doc_id % 5 AS n FROM documents
                 WHERE doc_id % 4 = 1) p
           JOIN fs ON f < p.n
           GROUP BY p.doc_id
         )
    SELECT d.doc_id AS id,
           CASE d.doc_id % 4 WHEN 0 THEN 'mp3' WHEN 1 THEN 'avi'
                WHEN 2 THEN 'mp4' ELSE 'webp' END AS media_format,
           CASE d.doc_id % 4
             WHEN 0 THEN ''
             WHEN 1 THEN CASE d.doc_id % 4 WHEN 0 THEN 'H264'
                              WHEN 1 THEN 'VP80' WHEN 2 THEN 'MP42'
                              ELSE 'MJPG' END
             WHEN 2 THEN CASE d.doc_id % 3 WHEN 0 THEN 'avc1'
                              WHEN 1 THEN 'hvc1' ELSE 'vp09' END
             ELSE CASE d.doc_id % 3 WHEN 0 THEN 'lossy'
                       WHEN 1 THEN 'lossless' ELSE 'extended' END
           END AS detail,
           CAST(CASE d.doc_id % 4
             WHEN 0 THEN 3 + d.doc_id % 5
             WHEN 1 THEN 2 + d.doc_id % 5
             WHEN 2 THEN CASE WHEN d.doc_id % 4 = 0 THEN 1 ELSE 2 END
             ELSE CASE WHEN d.doc_id % 3 = 2 AND d.doc_id % 5 = 0
                       THEN 2 ELSE 1 END
           END AS BIGINT) AS n_units,
           CAST(CASE d.doc_id % 4
             WHEN 0 THEN (3 + d.doc_id % 5) * (1152 * 1000000 // 44100)
             WHEN 1 THEN (2 + d.doc_id % 5)
                  * (1000000 // CASE WHEN d.doc_id % 2 = 0
                                     THEN 24 ELSE 30 END)
             WHEN 2 THEN (600 + 37 * (d.doc_id % 50)) * 1000000
                  // (CASE WHEN d.doc_id % 2 = 0 THEN 600 ELSE 1000 END)
             ELSE 0
           END AS BIGINT) AS duration_us,
           CAST(CASE d.doc_id % 4
             WHEN 0 THEN mp3.stream_bytes
             WHEN 1 THEN avi.video_bytes
             WHEN 2 THEN 200 + 13 * (d.doc_id % 17)
             ELSE CASE d.doc_id % 3 WHEN 1 THEN 5 + 40 + d.doc_id % 30
                       ELSE 10 + 40 + d.doc_id % 30 END
           END AS BIGINT) AS media_bytes
    FROM documents d
    LEFT JOIN mp3 ON mp3.doc_id = d.doc_id
    LEFT JOIN avi ON avi.doc_id = d.doc_id
    """,
)
def st38_stream_media_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators import multimodal as mm
    from sparkswift.sources import media_headers as mh
    from sparkswift.streaming.ops import stream_to_parquet, write_slices

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = mkscratch("triage38_")
    src_dir, out_dir = f"{base}/src", f"{base}/out"
    # three files -> three micro-batches, ONE write job (was three
    # sequential filter+repartition(1) writes re-scanning docs each);
    # slice on (doc_id div 4) so every batch carries ALL FOUR formats
    # (format selection is doc_id % 4)
    write_slices(
        docs, (F.col("doc_id") / 4).cast("long") % 3, src_dir,
        keep=["doc_id"],
    )
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, epoch_id):
        d = tempfile.mkdtemp(prefix=f"triage38_b{epoch_id}_", dir=base)
        # spread ONCE before the four-way fan-out (the mm32 shape):
        # each branch's own spread then no-ops and all four branches
        # share ONE reused exchange instead of re-scanning and
        # re-exchanging the batch file per format (guide §2.4); width
        # is input-size-adaptive (operators.spread)
        from sparkswift.operators.spread import spread

        spread_df = spread(batch_df, "light")
        # one distributed write job for all four formats (per-row
        # ext): 4 jobs + 4 collects per micro-batch -> 1 + 1
        mixed = None
        for synth, r, ext in (
            (mm.synth_mp3_payload, 0, "mp3"),
            (mm.synth_avi_stub_payload, 1, "avi"),
            (mm.synth_mp4_stub_payload, 2, "mp4"),
            (mm.synth_webp_payload, 3, "webp"),
        ):
            part = synth(spread_df.filter(F.col("doc_id") % 4 == r)).select(
                "doc_id", "payload", F.lit(ext).alias("__ext")
            )
            mixed = part if mixed is None else mixed.unionByName(part)
        mh.write_payload_files(mixed, d, ext_col="__ext")
        out = mh.load_media_triage(spark, d).select(
            F.regexp_extract("path", r"doc_(\d+)\.", 1)
            .cast("bigint")
            .alias("id"),
            "media_format", "detail", "n_units", "duration_us",
            "media_bytes",
        )
        out.write.mode("append").parquet(out_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)
    out = spark.read.parquet(out_dir).localCheckpoint()
    # corpus scaffolding cleanup (see suite_llm._finish_ranged): the
    # three per-batch file corpora + slices are dead once the result
    # is checkpointed; background-delete them so /tmp never
    # accumulates across runs
    import shutil
    import threading

    threading.Thread(
        target=shutil.rmtree, args=(base,), kwargs={"ignore_errors": True},
        daemon=True,
    ).start()
    return out


# ---------------------------------------------------------------------------
# st37 — HAMMING-RADIUS IMAGE DEDUP AT INGEST (d21's banded pairing
# as a crawl-loop probe: st34 catches bit-identical recompressions,
# this catches the few-bit-flip ones). Each micro-batch decodes +
# hashes its images map-side, then probes the persisted hash catalog
# through the banded pigeonhole join inside foreachBatch (the
# st14/st16 ingest-loop shape — candidate dedup and per-doc
# aggregation are batch-local, so no streaming state at all; the
# catalog is the only standing structure). Output per ingested doc:
# match count within Hamming ≤ 3 and the best distance (−1 = new).
# The oracle re-derives pixels → hashes → bands → probe in pure
# integer SQL — hash-exact end to end.
# ---------------------------------------------------------------------------
@register(
    "st37_stream_dhash_hamming",
    """
    WITH ids AS (
      SELECT doc_id, doc_id AS orig, 0 AS bump, 'store' AS part
      FROM documents, (SELECT max(doc_id) // 2 AS mid FROM documents) m
      WHERE doc_id <= m.mid
      UNION ALL
      SELECT doc_id + 100000, doc_id, 1, 'batch' FROM documents
    ),
    bx AS (SELECT unnest(range(9)) AS x),
    by AS (SELECT unnest(range(8)) AS y),
    d2 AS (SELECT unnest(range(2)) AS dx),
    e2 AS (SELECT unnest(range(2)) AS dy),
    blocks AS (
      SELECT doc_id, x, y,
             SUM((3 * orig + 17 * (2 * x + dx) + 29 * (2 * y + dy)
                  + 41 * ((orig + (2 * x + dx) * (2 * y + dy)) % 7)) % 160
                 + CASE WHEN bump = 1 AND x = orig % 8
                         AND y = (orig // 8) % 8 THEN 80 ELSE 0 END) AS s
      FROM ids, bx, by, d2, e2
      GROUP BY doc_id, x, y
    ),
    bits AS (
      SELECT a.doc_id, a.y * 8 + a.x AS k,
             CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
      FROM blocks a JOIN blocks b
        ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN k < 32 THEN bit * (1 << k) ELSE 0 END)
                  AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN k >= 32 THEN bit * (1 << (k - 32)) ELSE 0 END)
                  AS BIGINT) AS hash_lo
      FROM bits GROUP BY doc_id
    ),
    tagged AS (SELECT h.*, i.part FROM hashes h JOIN ids i USING (doc_id)),
    bands AS (
      SELECT doc_id, part, hash_hi, hash_lo, b.band_id,
             CASE b.band_id
               WHEN 0 THEN hash_hi % 65536
               WHEN 1 THEN hash_hi // 65536
               WHEN 2 THEN hash_lo % 65536
               ELSE hash_lo // 65536 END AS band_val
      FROM tagged, (SELECT unnest(range(4)) AS band_id) b
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS bid, s.doc_id AS sid,
             b.hash_hi AS bh, b.hash_lo AS bl,
             s.hash_hi AS sh, s.hash_lo AS sl
      FROM bands b JOIN bands s
        ON b.band_id = s.band_id AND b.band_val = s.band_val
      WHERE b.part = 'batch' AND s.part = 'store'
    ),
    m AS (
      SELECT bid, COUNT(*) AS n_matches,
             MIN(bit_count(xor(bh, sh)) + bit_count(xor(bl, sl))) AS best
      FROM cand
      WHERE bit_count(xor(bh, sh)) + bit_count(xor(bl, sl)) <= 3
      GROUP BY bid
    )
    SELECT t.doc_id,
           CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
           CAST(COALESCE(m.best, -1) AS BIGINT) AS best_hamming
    FROM tagged t LEFT JOIN m ON t.doc_id = m.bid
    WHERE t.part = 'batch'
    """,
)
def st37_stream_dhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sparkswift.operators import multimodal as mm
    from sparkswift.streaming.ops import stream_to_parquet

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mid = docs.agg((F.max("doc_id") / 2).cast("long").alias("m")).collect()[0].m
    store_h = mm.image_dhash(
        mm.synth_dhash_noisy_pgm_payload(
            docs.filter(F.col("doc_id") <= mid), "doc_id"
        ),
        "doc_id",
        "payload",
    ).select("id", "hash_hi", "hash_lo").localCheckpoint()

    base = mkscratch("dh37_")
    src_dir, out_dir = f"{base}/src", f"{base}/out"
    feed = docs.select((F.col("doc_id") + 100000).alias("doc_id"))
    # three files -> three micro-batches, ONE write job (mtime-stamped
    # inside write_slices: trigger order == slice order)
    write_slices(feed, F.col("doc_id") % 3, src_dir)
    schema = spark.read.parquet(src_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def ingest(batch_df, _epoch_id):
        # materialized: h feeds BOTH the pigeonhole probe and the
        # final left join — without the cut the per-batch synth +
        # decode + dhash Arrow chain ran twice per micro-batch
        # (guide §2.4)
        h = mm.image_dhash(
            mm.synth_dhash_noisy_pgm_payload(batch_df, "doc_id"),
            "doc_id",
            "payload",
        ).select("id", "hash_hi", "hash_lo").localCheckpoint()
        pairs = mm.dhash_hamming_join(h, store_h, radius=3)
        per = pairs.groupBy("id_l").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("hamming").cast("bigint").alias("best_hamming"),
        )
        out = (
            h.select(F.col("id").alias("doc_id"))
            .join(per, F.col("doc_id") == F.col("id_l"), "left")
            .select(
                "doc_id",
                F.coalesce("n_matches", F.lit(0)).cast("bigint").alias(
                    "n_matches"
                ),
                F.coalesce("best_hamming", F.lit(-1)).cast("bigint").alias(
                    "best_hamming"
                ),
            )
        )
        out.write.mode("append").parquet(out_dir)

    stream_to_parquet(src, path=None, checkpoint=f"{base}/ck", merge_fn=ingest)
    return spark.read.parquet(out_dir).localCheckpoint()


# ---------------------------------------------------------------------------
# st39 — STREAMING ADPCM DECODE AT INGEST (mm38 under the streaming
# runner: the first LOSSY decode certified stream ≡ batch). The IMA
# expander is stateless mapInPandas, so the identical plan streams
# unchanged; the recursive-CTE spec oracle certifies the streamed
# chain directly — every decoded-sample statistic hash-exact.
# ---------------------------------------------------------------------------
from sparkswift.suite_llm import _IMA_INDEX_SQL, _IMA_STEP_SQL  # noqa: E402


@register(
    "st39_stream_adpcm_decode",
    f"""
    WITH RECURSIVE
    p AS (SELECT doc_id, 8 + doc_id % 8 AS m,
                 CAST((doc_id * 37) % 4096 - 2048 AS BIGINT) AS p0,
                 CAST(doc_id % 89 AS BIGINT) AS i0
          FROM documents),
    dec AS (
      SELECT doc_id, m, 0 AS k, p0 AS val, i0 AS idx FROM p
      UNION ALL
      SELECT doc_id, m, k + 1,
        GREATEST(-32768, LEAST(32767,
          val + CASE WHEN ((7*doc_id + 3*k) % 16) & 8 = 8
                     THEN -1 ELSE 1 END *
            ( step // 8
              + CASE WHEN ((7*doc_id + 3*k) % 16) & 4 = 4
                     THEN step ELSE 0 END
              + CASE WHEN ((7*doc_id + 3*k) % 16) & 2 = 2
                     THEN step // 2 ELSE 0 END
              + CASE WHEN ((7*doc_id + 3*k) % 16) & 1 = 1
                     THEN step // 4 ELSE 0 END ))) AS val,
        GREATEST(0, LEAST(88,
          idx + ({_IMA_INDEX_SQL})[((7*doc_id + 3*k) % 16) + 1])) AS idx
      FROM (SELECT dec.*, ({_IMA_STEP_SQL})[idx + 1] AS step FROM dec)
      WHERE k < 2 * m
    )
    SELECT doc_id AS id,
           CAST(1 + 2*m AS BIGINT) AS n_samples,
           CAST((1 + 2*m) * 125 AS BIGINT) AS duration_us,
           CAST(SUM(val) AS BIGINT) AS sum_q,
           CAST(MIN(val) AS BIGINT) AS min_q,
           CAST(MAX(val) AS BIGINT) AS max_q,
           CAST(MAX(CASE WHEN k = 2*m THEN val END) AS BIGINT) AS last_q,
           CAST(MAX(CASE WHEN k = 2*m THEN idx END) AS BIGINT) AS end_index
    FROM dec GROUP BY doc_id, m
    """,
)
def st39_stream_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkswift.operators import multimodal as mm
    from sparkswift.streaming.ops import table_stream

    src = table_stream(spark, sf_dir, "documents").select("doc_id")
    wp = mm.synth_wav_ima_adpcm_payload(src, "doc_id")
    out = mm.wav_adpcm_census(wp, "doc_id", "payload")
    return run_stream_to_batch(out, mode="append")
