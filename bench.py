"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is forced with the noop sink (full computation, no driver
collect) — the honest distributed measure.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# representative set: one per operator family / route
HEADLINE = [
    "q1_pricing_summary",    # native expr + hash agg (flagship)
    "o1_apply_native",       # O1 vectorized route
    "o1_apply_udf",          # O1 Arrow route
    "o2_apply_rows",         # O2 native row route
    "o3_applymap",           # O3 per-column exprs
    "o4_groupby_apply",      # O4 applyInPandas
    "o5_rolling_sum_rows",   # O5 native window
    "o5_rolling_udf",        # O5 per-entity pandas rolling
    "o6_resample_hourly",    # O6 window groupBy
    "j1_revenue_by_nation",  # broadcast star join
    "j4_asof_join",          # as-of join (union + window)
    "j5_range_join",         # interval join vs broadcast bands
    "w1_rank_lag",           # ranking windows
    "t1_text_quality",       # text metrics (native exprs)
    "t4_token_count",        # ws + BPE-ish token counting
    "d1_dedup_exact",        # exact dedup
    "d2_ngram_jaccard",      # inverted-index near-dup
    "d3_minhash_lsh",        # MinHash LSH
    "d5_embedding_neardup",  # embedding-cosine near-dup
    "d7_dedup_clusters",     # pairs -> connected components -> survivors
    "e1_cosine_topk",        # brute-force cosine top-k
    "e2_cosine_topk_lsh",    # LSH cosine top-k
    "st1_stream_resample",   # streaming resample (availableNow)
    "o5_rolling_weighted",   # O5 win_type taper (native lag-sum)
    "t5_repetition",         # dup-ngram fraction (native arrays)
    "p2_hash_split",         # deterministic split (md5 bucket exprs)
    "p3_decontaminate",      # benchmark ngram broadcast semi-join
    "j7_asof_nearest",       # both asof fill orders, one exchange
    "t8_c4_line_filter",     # C4 line rules (native array exprs)
    "p8_deterministic_shuffle",  # bucketed global order, no global sort
    "o5b_rolling_global",    # distributed global count-window rolling
    "o5c_rolling_global_time",  # distributed global time-window rolling
    "p9_corpus_build",       # end-to-end corpus pipeline (composed ops)
    "o6b_resample_ffill",    # gap-filling resample (dense spine + ffill)
    "j8_range_join_large",   # bucketized large-by-large range join
    "o2_apply_rows_raw",     # O2 raw=True ndarray rows
    "p10_mixture_sample",    # data-mixing sampler (exact int thresholds)
    "d10_dedup_incremental", # cross-batch dedup vs persisted fp store
    "p11_domain_cap",        # per-domain top-k cap
    "d11_fuzzy_join",        # cross-table fuzzy join (entity resolution)
    "st8_stream_enrich",     # stream-static broadcast enrichment
    "p12_export_shards",     # deterministic shard export + manifest
    "st7_stream_sample",     # stateless deterministic sampling on a stream
    "st9_stream_decontaminate",  # stream-static shingle semi join guard
    "agg10_profile",         # one-pass data-card profile
    "t11_rare_tokens",       # corpus-relative rare-token signal
    "t12_bm25",              # BM25 retrieval top-k (exact-score pivot)
    "q3_shipping_priority",  # TPC-H Q3 shape (AQE joins + TakeOrdered)
    "q18_large_volume_customer",  # TPC-H Q18 shape (semi-join on self-agg)
    "p14_interleave",        # weighted round-robin training order
    "d12_semdedup",          # k-means + within-cluster cosine pruning
    "st10_stream_neardup",   # streaming minhash-signature dedup
    "agg11_sketch_union",    # re-aggregatable HLL sketch rollup
    "w3_latest_per_key",     # CDC latest-snapshot compaction
    "p15_zorder_key",        # Morton layout key (native bit exprs)
    "j9_interval_overlap",   # interval-overlap join, canonical bucket
    "t13_gopher_quality",    # Gopher rule flags (scan-stage exprs)
    "t14_chunk_overlap",     # overlapping RAG chunking (posexplode)
    "agg12_json_extract",    # native JSON parse + grouped stats
    "q6_forecast_revenue",   # TPC-H Q6 pushdown showcase
    "e5_cosine_topk_pq",     # product-quantization ANN (ADC + refine)
    "e6_cosine_topk_ivfpq",  # IVF probe pruning × PQ compression
    "d13_line_dedup",        # cross-corpus line dedup (first-wins)
    "t15_unigram_logprob",   # unigram-LM quality score (micro-nat grid)
    "p17_leak_report",       # contamination audit (leak fractions)
    "st11_stream_quality",   # Gopher rules at ingest (stateless stream)
    "e7_cosine_topk_ivfpq_persisted",  # partition-pruned code probes
    "mm3_audio_features",    # audio plumbing (mapInPandas, exact oracle)
    "j10_salted_join",       # skew salting, result-invisible (vs plain oracle)
    "d14_neardup_incremental",  # near-dup vs persisted minhash store
    "p18_dataset_diff",      # snapshot diff (40-byte rows through the join)
    "t16_bpe_trained",       # trained-BPE token accounting
    "q14_promo_effect",      # TPC-H Q14 (conditional agg over bcast join)
    "st12_stream_chunk",     # RAG chunking at ingest (stateless stream)
    "w4_distribution_windows",  # percent_rank/cume_dist/ntile/nth_value
    "set2_intersect",        # INTERSECT (left-semi under the hood)
    "agg13_bool_aggs",       # bool_and/bool_or/count_if surface
    "agg14_skew_report",     # hot-key diagnostic (salt-or-not decision)
    "agg15_histogram",       # fixed-bin distribution (data card)
    "g1_pagerank",           # iterative power method (join+agg per iter)
    "p19_preference_pairs",  # DPO pair construction (max-margin ranks)
    "j11_salted_join_skewed",  # salting under a REAL hot key (30% one supplier)
    "q4_priority_check",     # TPC-H Q4 shape (correlated EXISTS -> semi join)
    "p20_dsir_select",       # DSIR importance scoring (micro-nat log-ratios)
    "o6c_resample_interpolate",  # linear-interp upsample (struct-carry windows)
    "q19_disjunctive_revenue",  # TPC-H Q19 (disjunctive predicate pushdown)
    "mm4_image_decode_real",  # REAL PPM decode (header parse + channel means)
    "mm5_audio_decode_real",  # REAL WAV decode (stdlib wave + band means)
    "o4_skew_giant_group",   # applyInPandas with one ~50% group (skew stress)
    "q5_local_supplier_volume",  # TPC-H Q5 (same-nation predicate star)
    "q7_volume_shipping",    # TPC-H Q7 (bilateral nation-pair volume)
    "q10_returned_items",    # TPC-H Q10 (top-20 heap over 4-way join)
    "q13_customer_distribution",  # TPC-H Q13 (agg-then-outer-join distribution)
    "q15_top_supplier",      # TPC-H Q15 (checkpointed revenue view + max probe)
    "q17_small_quantity_revenue",  # TPC-H Q17 (decorrelated avg, division-free)
    "q8_market_share",       # TPC-H Q8 (7-table join + conditional agg share)
    "q22_sales_opportunity", # TPC-H Q22 (one-row threshold + anti join)
    "p22_pack_bins",         # FFD doc-preserving packing (T5-style bins)
    "d15_substring_dedup",   # ExactSubstr duplicate-window excision
    "p23_token_shards",      # BPE ids -> FFD bins -> Megatron .bin/.idx
    "d16_semdedup_incremental",  # semdedup add vs persisted bucketed store
    "st15_stream_session_udf",   # session-window UDF agg (stateful stream)
    "p24_token_chunks",      # GPT concat-then-chunk over real BPE ids
    "t19_quality_probe",     # in-engine trained probe (24 quantized-GD iters)
    "e8_pca_gram",           # quantized Gramian (the data-sized PCA pass)
    "agg17_drift_report",    # snapshot PSI drift (counts + window shares)
    "agg18_corr_matrix",     # embedding corr matrix (Gramian-derived)
    "e9_mmr_diversify",      # MMR diversity re-rank (integer greedy)
    "t20_bigram_logprob",    # trained bigram LM (Jelinek-Mercer, micro-nats)
    "p27_epoch_upsample",    # epochs-per-source mixing (fractional copies)
    "g2_personalized_pagerank",  # seed-teleport power iteration
    "mm6_png_decode_real",   # real PNG decode (zlib + all five filters)
    "e10_cosine_topk_opq",   # OPQ-rotated PQ (Gramian rotation + ADC)
    "p28_curriculum_order",  # bins -> epoch rates -> order key (composed)
    "o8_cogroup_asof",       # cogrouped two-frame Arrow UDF (as-of in UDF)
    "st22_stream_asof_enrich",  # stream-stream as-of (withState)
    "mm7_jpeg_decode_real",  # real baseline JPEG decode
    "agg19_countmin",        # CM sketch build + estimates
    "agg20_funnel",          # chained keyed min-aggregates
    "agg21_retention",       # cohort triangle
    "d17_editdistance_join", # deletion-variant candidates + verify
    "w5_scd2_intervals",     # two window passes
    "p29_merge_upsert",      # copy-on-write MERGE
    "st23_stream_countmin_ingest",  # mergeable CM ingest loop
    "st24_stream_left_outer_join",  # outer state-expiry emission
    "e11_cosine_topk_sq",   # SQ8 native encode + BLAS scan
    "st25_stream_funnel",    # streaming deadline funnel
    "st26_stream_retention",  # stream-static cohort enrich
    "g3_triangle_count",     # degree-oriented wedges
    "g5_kcore",             # iterative peel
    "mm8_avi_frames_real",   # real RIFF/AVI frame extraction
    "e12_hybrid_rrf",        # BM25 + cosine reciprocal-rank fusion
    "g6_lpa_communities",    # sync LPA + 2-cycle monotone break
    "j12_scd2_pointintime",  # PIT dimension lookup (as-of-on-start)
    "mm9_jpeg420_decode_real",  # subsampled-chroma JPEG decode
    "t21_unigram_tokens",    # unigram-LM EM train + Viterbi encode
    "g7_link_prediction",    # Jaccard common-neighbors top-k
    "st27_stream_pit_enrich",  # stateless stream-static PIT join
    "w6_time_weighted_avg",  # TWAP (integer milli-weights, one window)
    "agg22_rolling_distinct",  # exact WAU (dedup-then-bounded-explode)
    "mm10_jpeg_progressive_decode_real",  # progressive JPEG decode
    "mm11_png_palette_decode_real",  # palette PNG (sub-byte depths)
    "p30_temperature_mixture",  # mT5 alpha-sampling (quantized pow)
    "t22_wordpiece_tokens",  # WordPiece train (integer-exact scores) + encode
    "mm12_png_full_decode_real",  # PNG Adam7 / 16-bit / tRNS decode
    "p31_sft_export",        # chat render + loss masks + FFD pack
    "q12_shipclass_priority",  # TPC-H Q12 shape (join + CASE agg)
    "q21_suppliers_kept_waiting",  # TPC-H Q21 shape (semi + anti self-corr)
    "e13_cosine_range",      # cosine range search (no window, scan filter)
    "d18_containment_pairs", # directed containment near-dup (Broder)
    "st28_stream_sft_masks", # streaming SFT encode+mask (stream==batch)
    "g8_bfs_distances",      # multi-source bounded-hop BFS (frontier joins)
    "mm13_gif_frames_real",  # real GIF decode (LZW + interlace + frames)
    "w7_ohlc_bars",          # OHLC candles (one exchange, arg-min/max open/close)
    "agg23_exact_median",    # exact per-group median (no global sort)
    "e14_cosine_range_ivf",  # IVF-bucketed range search (scale path)
    "p32_group_sample",      # fixed-size uniform per-group sample
    "st29_stream_ohlc_ingest",  # mergeable OHLC partials (stream==batch)
    "t23_gate",              # zlib compression-ratio quality signal + laws
    "agg24_group_mode",      # exact per-group mode (two hash aggs)
    "mm14_netpbm_decode_real",  # P5/P4 netpbm decode (bit unpack, polarity)
    "mm15_png_gray_decode_real",  # grayscale PNG family (0/4, sub-byte, 16-bit)
    "o9_ewm_mean",           # distributed pandas ewm (bit-exact SQL twin)
    "st30_stream_compression_ratio",  # zlib signal on a stream (bit-equal)
    "agg25_exact_percentiles",  # nearest-rank exact percentiles per group
    "mm16_tiff_decode_real",  # baseline TIFF (strips, PackBits, both endians)
    "w8_max_drawdown",       # running-peak drawdown (exact milli ints)
    "agg26_group_moments",   # exact power sums + derived skew/kurtosis
    "g9_sssp_weighted",      # bounded-cost Bellman-Ford (frontier relax)
    "p33_length_buckets",    # length bucketing + sharded batch ids
    "mm17_qoi_decode_real",  # QOI decode (contextual byte codec)
    "mm18_tiff_lzw_decode_real",  # TIFF LZW + horizontal predictor
    "mm19_jpeg_lossless_decode_real",  # SOF3 predictive lossless JPEG
    "st31_stream_qoi_decode",  # streaming codec ingest (bit-equal)
    "p34_ngram_overlap",     # trigram fuzzy decontamination report
    "w9_bollinger_bands",    # rolling integer moments + shared bands
    "mm20_au_ulaw_decode_real",  # AU container + G.711 mu-law expand
    "w10_cusum_alerts",      # sequential CUSUM (int64 recurrence kernel)
    "g10_degree_assortativity",  # endpoint-degree Pearson (one pass)
    "j13_spatial_join",      # grid-cell fixed-radius spatial self-join
    "e15_filtered_topk",     # pre-filter vector search (predicate at scan)
    "agg27_weighted_median", # exact weighted lower median
    "t24_lexical_diversity", # type-token ratio + hapax fraction
    "mm21_bmp_rle_decode_real",  # palettized BMP + RLE8
    "st32_stream_cusum",     # stateful streaming CUSUM (carry across batches)
    "st33_stream_spatial_join",  # stream-static grid spatial join
    "w11_longest_streak",    # gaps-and-islands longest hot run
    "mm22_mjpeg_avi_decode_real",  # Motion-JPEG AVI frame extraction
    "mm23_flac_decode_real",  # FLAC decode (Rice/LPC/CRC/MD5, real)
    "mm24_gif_anim_composite_real",  # GIF89a animation compositing
    "mm25_au_alaw_decode_real",  # G.711 A-law expansion (integer SQL twin)
    "mm26_mp3_census_real",  # MP3 framing census (sync walk + tag skips)
    "mm27_tiff_tiled_decode_real",  # tiled TIFF (per-tile predictor reset)
    "p35_url_canonicalize",  # URL canon + URL-level dedup (native exprs)
    "d19_image_dhash_pairs",  # perceptual image dedup (dHash equi-join)
    "p36_negative_samples",  # deterministic ring negative sampling
    "d20_image_dhash_incremental",  # perceptual dedup vs persisted hash store
    "st34_stream_image_dedup",  # streaming decode->hash->store probe at ingest
    "w12_ewm_crossover",  # MACD golden/death crossings (bit-exact dyadic EWMs)
    "e16_filtered_topk_ivf",  # filtered ANN over one shared IVF index
    "t25_html_extract",  # HTML -> text extraction (scan-stage exprs)
    "st35_stream_html_extract",  # the same chain under the streaming runner
    "st36_stream_mp3_census",  # audio triage at ingest (mm26 streamed)
    "d21_image_dhash_hamming",  # Hamming-banded perceptual dedup
    "o9b_ewm_global",  # carry-chain EWM (no per-key task envelope)
    "w10b_cusum_global",  # segmented-scan CUSUM statistic (one pass)
    "st37_stream_dhash_hamming",  # banded hash probe at ingest
    "mm28_video_container_census",  # AVI header census (any codec)
    "mm29_mp4_container_census",  # ISO-BMFF header census (any codec)
    "w10c_cusum_alerts_global",  # carry-chain restart CUSUM (w10 distributed)
    "q2_min_cost_supplier",  # TPC-H Q2 shape (correlated min, top-100)
    "q9_product_profit",     # TPC-H Q9 shape (6-table profit join)
    "q11_important_stock",   # TPC-H Q11 shape (grouped threshold scalar)
    "q16_supplier_relationship",  # TPC-H Q16 shape (anti-join count-distinct)
    "q20_potential_promotion",  # TPC-H Q20 shape (nested semi-joins)
    "mm26b_mp3_census_ranged",  # bounded-read MP3 ingest (file listing)
    "mm28b_video_census_ranged",  # bounded-read AVI header ingest
    "mm29b_mp4_census_ranged",  # bounded-read BMFF header ingest (~0.2% bytes)
    "t26_langid_trained_gate",  # trained char-n-gram lang-id (Gramian probe)
    "w12b_ewm_crossover_global",  # dual-alpha carry-chain crossover
    "mm30_tiff_ccitt_decode_real",  # CCITT G3/G4 fax decode (T.4/T.6)
    "mm31_tiff_jpeg_decode_real",  # JPEG-in-TIFF strips (TN2 JPEGTables)
    "mm32_media_triage_ranged",  # mixed-corpus sniff-dispatch triage
    "mm33_tiff_deep_decode_real",  # 16-bit + 1-bit TIFF strips
    "st38_stream_media_triage",  # crawl-loop triage at ingest
    "mm34_au_float_decode_real",  # IEEE-float AU decode (dyadic-exact)
    "mm35_wav_deep_decode_real",  # 24-bit PCM + float WAV decode
    "mm36_webp_header_census",  # WebP variant/geometry/flags triage
    "mm37_ogg_vorbis_census",  # Ogg/Vorbis page walk + CRC + granule
]
# The *_gate verdict twins (suite_gates.py) are deliberately NOT
# benched: each one re-runs its operator AND the exact twin — their
# job is driver-verifiable correctness, not throughput; the raw
# operators above carry the timing signal.


def main() -> None:
    from sparkswift.session import get_spark
    from sparkswift import suite

    spark = get_spark("sparkswift-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # re-pointed names (suite._REPOINT) serve their verdict frame in
    # the registry; bench times the RAW operator output — the frame
    # re-runs the exact twin too, so it carries no throughput signal,
    # and this keeps every row comparable to BENCH_r{1..12}.json
    qs = dict(suite.queries())
    qs.update(suite.raw_queries())

    # warm the JVM / codegen / parquet footer cache so per-query times
    # measure steady-state plan cost, not first-query startup
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    spark.range(1_000_000).selectExpr("sum(id * 2)").collect()
    # ... and the Python worker pool: the first Arrow stage of the run
    # otherwise pays the 32-worker spawn inside whichever recorded row
    # hits it first (same rationale as the unrecorded q1 warmup below —
    # measurement hygiene, noted in OPTIMIZATION_r15.md)
    def _ident(it):
        for pdf in it:
            yield pdf

    spark.range(10_000, numPartitions=32).mapInPandas(
        _ident, "id long"
    ).write.format("noop").mode("overwrite").save()

    def drop_persistent_blocks() -> None:
        # operators localCheckpoint intermediates (LSH signatures,
        # CC rounds); freeing them between queries keeps each
        # measurement independent of its predecessors' storage
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def run_at(sf_dir: str) -> dict[str, float]:
        # one UNRECORDED warmup query at this sf_dir: the generic JVM
        # warmup above never touches lineitem, so the first recorded
        # row used to absorb the session's first big parquet-footer
        # read + codegen (recorded q1 sf-ratio 12.1x vs interleaved
        # warm 1.09x — NOTES.md r11). After this, every recorded row
        # measures data cost.
        qs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        drop_persistent_blocks()
        t: dict[str, float] = {}
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t[name] = round(time.time() - t0, 3)
            drop_persistent_blocks()
        return t

    def sf_of(path: str) -> float | None:
        try:
            return float(path.rstrip("/").rsplit("sf", 1)[-1])
        except ValueError:
            return None

    timings = run_at(SF_DIR)

    out = {
        "metric": "headline_query_wall_time_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_of(SF_DIR),
        "n_queries": len(timings),
    }

    # second scale factor: the per-query time ratio across a 10× data
    # step separates real O(rows) cost from fixed job overhead — a
    # query whose ratio ≈ 1 is overhead-dominated at this scale, and a
    # ratio far above the data ratio is a scaling red flag. (The
    # reference's published numbers are single-node 71M-row timings;
    # the trend is what makes a same-scale comparison checkable.)
    # The two-scale detail goes to BENCH_DETAIL.json, NOT stdout — the
    # driver's tail capture truncated the combined line in round 2
    # (BENCH_r02 parsed=null), so stdout carries only the compact
    # summary as the very last line.
    SF2_DIR = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")
    if SF2_DIR and os.path.isdir(SF2_DIR) and SF2_DIR != SF_DIR:
        timings2 = run_at(SF2_DIR)
        detail = dict(out)
        detail["sf2"] = sf_of(SF2_DIR)
        detail["queries_sf2"] = timings2
        detail["scaling_ratio"] = {
            n: round(timings[n] / timings2[n], 2)
            for n in HEADLINE
            if timings2.get(n)
        }
        # measured ANN recall per round (VERDICT r13 #9): the verdict
        # frames only assert FLOORS — recording the numbers makes a
        # silent recall drift (codebook seed change, quantizer edit)
        # visible round-over-round before it trips a floor. Measured
        # at the gate scale (sf2) where the oracle sweep runs.
        try:
            from sparkswift.suite_gates import measured_ann_recalls

            detail["ann_recall_sf2"] = measured_ann_recalls(spark, SF2_DIR)
        except Exception as e:  # never let telemetry sink the bench
            detail["ann_recall_sf2"] = {"error": str(e)[:200]}
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1)

    # The driver records only the last ~2000 chars of stdout and parses
    # the final JSON line; with 100+ headline rows the full dict blows
    # that budget (BENCH_r05..r08 all show parsed=null). Full per-query
    # detail lives in BENCH_DETAIL.json; the stdout line keeps `value`
    # over ALL queries and trims the printed `queries` dict to the most
    # expensive rows until the line fits.
    out["queries"] = dict(timings)
    while len(json.dumps(out)) > 1800 and out["queries"]:
        cheapest = min(out["queries"], key=out["queries"].get)
        del out["queries"][cheapest]
    out["n_shown"] = len(out["queries"])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
