#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with the no-op sink (full computation,
no driver-side collect bottleneck measuring serialization instead of the
engine)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "q3_bucketed_colocated",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q18_large_volume",
    "q21_waiting_supplier",
    "subquery_exists",
    "subquery_scalar_corr",
    "join_inner_agg",
    "join_asof",
    "agg_stats",
    "grouping_cube",
    "window_frames",
    "topk_per_group",
    "events_hourly",
    "sessionize_stats",
    "ts_ewma",
    "stats_mad_outliers",
    "stats_histogram",
    "scalar_array_explode",
    "dedup_keyed",
    # extensions
    "text_quality",
    "dedup_minhash_lsh",
    # the composed LSH→exact-verify scale path, not the bare all-pairs
    # verifier (whose candidate growth is the documented anti-pattern)
    "dedup_lsh_verified",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_cosine_neardup",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "sim_ivf_indexed",
    "sim_ivfpq_indexed",
    "sim_quantized_topk",
    "text_tfidf",
    "udf_grouped_zscore",
    "streaming_events_hourly",
    "streaming_stateful_totals",
]

# Second measured section (round 10, r9 verdict ask #3): the round-9/10
# heavy families the 39-query headline set predates — ingest-artifact READ
# paths (postings, KN bigram model) and the pure-Python codec round trips.
# Kept OUT of the headline total so `value` stays comparable across rounds;
# reported as queries_ext / extended_total with the same per-query
# warm-MIN discipline.
EXTENDED = [
    "text_phrase_indexed",
    "text_kn_perplexity_indexed",
    "source_avro_roundtrip",
    "source_avro_snappy_roundtrip",  # round 11: homegrown snappy write+read
    "source_avro_evolution",
    "multimodal_png_roundtrip",
    "multimodal_gif_roundtrip",
    "multimodal_jpeg_roundtrip",
    "multimodal_jpeg_color_roundtrip",
    "multimodal_jpeg_progressive_roundtrip",
    "multimodal_jpeg_progressive_color_roundtrip",  # round 11
    "multimodal_jpeg_arith_roundtrip",  # round 11: SOF9 QM-coder
    "multimodal_wav_roundtrip",
    "multimodal_g711_roundtrip",  # round 11: companded-audio expansion
    "multimodal_flac_roundtrip",  # round 11: lossless compressed audio
    "multimodal_audio_features",
    "multimodal_video_frame_sample",
    "multimodal_video_dib_frame_sample",  # round 11: raw '00db' path
    "multimodal_video_screen_frames",  # round 11: FLV inter-frame codec
    "multimodal_cross_codec_ahash",
    "sketch_theta_diff",
    "dedup_prefix_doubling",
    # round 11 second session: the seven new codec families + EXIF
    "multimodal_adpcm_roundtrip",
    "multimodal_aiff_roundtrip",
    "multimodal_bmp_roundtrip",
    "multimodal_tiff_roundtrip",
    "multimodal_video_rle_frame_sample",
    "multimodal_jpeg_lossless_roundtrip",
    "multimodal_jpeg_hierarchical_roundtrip",
    "multimodal_exif_metadata",
]


def main() -> None:
    script_t0 = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from pipes_spark.catalog import QUERIES
    from pipes_spark.session import get_spark

    spark = get_spark("pipes_spark_bench")

    # warm up JVM, codegen, and parquet reader paths outside the measured
    # region (first query otherwise pays ~3 s of one-time JVM/codegen cost)
    from pipes_spark.sources import load_table

    spark.range(1000).selectExpr("sum(id)").collect()
    load_table(spark, sf_dir, "lineitem").limit(1000).write.mode("overwrite").format(
        "noop"
    ).save()

    # warm the Python UDF worker pool (Arrow serializers, worker spawn)
    from pyspark.sql import functions as F

    _warm_udf = F.pandas_udf(lambda v: v, "long")
    spark.range(100).select(_warm_udf("id")).write.mode("overwrite").format("noop").save()
    # ...and the grouped-map pool: applyInPandas runs one Python worker per
    # core, so a single-worker warmup leaves 31 cold spawns inside the
    # first measured applyInPandas query (the udf_grouped_zscore spread)
    spark.range(10_000).repartition(
        int(os.environ.get("SPARK_GRAFT_CPUS", spark.sparkContext.defaultParallelism))
    ).groupBy(
        (F.col("id") % 64).alias("g")
    ).applyInPandas(lambda pdf: pdf, "id long").write.mode("overwrite").format(
        "noop"
    ).save()

    # warm the Structured Streaming engine (streaming planner, state store,
    # memory sink) — its one-time init otherwise lands on the first
    # streaming query's measurement
    import tempfile

    from pipes_spark.streaming import run_to_memory

    # pre-create the bucketed fact tables (the once-at-ingest shuffle —
    # steady-state queries read them exchange-free)
    from pipes_spark.warehouse import warm_bucketed_facts

    warm_bucketed_facts(spark, sf_dir)

    # pre-materialize the int8 embeddings copy (the ingest-time storage
    # format the quantized ranking scan reads)
    from pipes_spark.warehouse import quantized_embeddings_table

    quantized_embeddings_table(spark, sf_dir)

    # pre-build the IVF index (codebook training + list-partitioned corpus
    # write are ingest-time costs; queries read the persisted index)
    from pipes_spark.warehouse import ivf_index_tables

    ivf_index_tables(spark, sf_dir)

    # pre-build the IVFPQ index (training + residual-PQ encode are
    # ingest-time; the benched query reads the persisted pruned codes)
    from pipes_spark.warehouse import ivfpq_index_tables

    ivfpq_index_tables(spark, sf_dir)

    # pre-build the MinHash signature table (signatures are written at
    # ingest beside the text; every LSH dedup pass reads them instead of
    # re-hashing every shingle of every document)
    from pipes_spark.warehouse import minhash_signature_table

    minhash_signature_table(spark, sf_dir)

    # pre-build the extended section's ingest artifacts (same contract:
    # postings / bigram model / avro fixture are written once at ingest,
    # queries measure the READ path)
    from pipes_spark.warehouse import (
        avro_customer_fixture,
        bigram_model_table,
        postings_table,
    )

    postings_table(spark, sf_dir)
    bigram_model_table(spark, sf_dir)
    avro_customer_fixture(spark, sf_dir)
    avro_customer_fixture(spark, sf_dir, codec="snappy")

    wdir = tempfile.mkdtemp(prefix="bench_warm_stream_")
    spark.range(100).selectExpr(
        "id", "timestamp_micros(cast(id * 1000000 as long)) AS ts"
    ).write.mode("overwrite").parquet(wdir)
    warm_stream = spark.readStream.schema("id long, ts timestamp").parquet(wdir)
    run_to_memory(warm_stream.groupBy("id").count(), output_mode="complete").count()

    names = [n for n in HEADLINE if n in QUERIES]
    ext_names = [n for n in EXTENDED if n in QUERIES]
    all_names = names + ext_names
    # Pass 1 (unmeasured): per-query one-time costs — Catalyst plan
    # construction, whole-stage-codegen compilation, JIT warmup. These are
    # driver/compile overheads paid once per query SHAPE, independent of
    # data volume; at the target scale (100 TB, long-running jobs) they are
    # noise, so the measured region reflects steady-state execution. The
    # cold total is still reported alongside for transparency.
    cold: dict[str, float] = {}
    for name in all_names:
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        cold[name] = round(time.perf_counter() - t0, 3)

    # Warm passes: ≥2 full interleaved sweeps (default 5), reported as the
    # per-query MIN plus a spread field. Host CPU steal swings identical
    # code ~1.7-2.2× within a session (CLAUDE.md; the r7 snapshot read warm
    # pass totals 105/80/47 s on unchanged code) and the interference is
    # strictly additive one-sided — a sample can only be SLOWER than the
    # code's true cost, never faster — so the per-query MIN over several
    # interleaved sweeps is the standard interference-robust estimator.
    # clearCache() before each sweep: the CacheManager matches by logical
    # plan, so without it later sweeps would silently read the previous
    # sweep's persisted intermediates instead of recomputing.
    n_warm = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5")))
    # Wall-clock guard: the driver kills bench at 900 s. Stop adding sweeps
    # (after the 2-sweep minimum) once the budget would plausibly be blown —
    # a truncated-but-parsed snapshot beats a timeout with no JSON line.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "780"))
    runs: dict[str, list[float]] = {name: [] for name in all_names}
    pass_totals: list[float] = []
    for i in range(n_warm):
        if i >= 2 and pass_totals:
            elapsed = time.perf_counter() - script_t0
            # 1.5× the worst observed pass: steal spikes can exceed any
            # pass seen so far (CLAUDE.md documents ~2.2× swings), and a
            # flat margin only covers history, not a worst-yet pass
            if elapsed + 1.5 * max(pass_totals) > budget_s:
                break
        spark.catalog.clearCache()
        pass_t0 = time.perf_counter()
        for name in all_names:
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs[name].append(time.perf_counter() - t0)
        pass_totals.append(round(time.perf_counter() - pass_t0, 3))

    timings = {name: round(min(runs[name]), 3) for name in names}
    ext_timings = {name: round(min(runs[name]), 3) for name in ext_names}
    spread = {name: round(max(rs) - min(rs), 3) for name, rs in runs.items()}
    # Steal indicator: ratio of slowest to fastest sweep total on identical
    # code. ~1.0 = quiet host, certifiable; >1.3 = the absolute numbers
    # carry interference and only the MINs are comparable across rounds.
    steal = round(max(pass_totals) / min(pass_totals), 3) if pass_totals else None

    total = round(sum(timings.values()), 3)

    # Per-query detail (spread, cold timings, raw warm samples) goes to a
    # side file: the driver captures only the last ~2,000 chars of stdout,
    # so the FINAL line must stay compact — r05's inline spread map pushed
    # the line past the capture window and the driver recorded parsed=null.
    detail = {
        "queries_cold": cold,
        "queries_spread": spread,
        "queries_warm_runs": {n: [round(x, 3) for x in rs] for n, rs in runs.items()},
        "warm_pass_totals": pass_totals,
    }
    # under a gitignored directory, so a bench run leaves the checkout clean
    detail_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_out")
    try:
        os.makedirs(detail_dir, exist_ok=True)
        with open(os.path.join(detail_dir, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # detail is best-effort; the headline line below is the contract

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cold_total": round(sum(cold.values()), 3),
                "warm_passes": len(pass_totals),
                "warm_pass_totals": pass_totals,
                "aggregate": "min",
                "steal_indicator": steal,
                "queries_ext": ext_timings,
                "extended_total": round(sum(ext_timings.values()), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
