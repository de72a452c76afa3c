"""Round-11 optimization-round tests: operator internals changed for
performance must keep byte-identical semantics (the no-result-change
contract of the optimization rounds)."""

from __future__ import annotations

from collections import Counter

import pytest


# ---------------------------------------------------------------------------
# prefix_doubling_duplicates: radix base case (direct-gram path for
# L <= direct_width, radix-16 initial ranks + doubling beyond)
# ---------------------------------------------------------------------------


TEXTS = {
    1: "the quick brown fox jumps over the lazy dog and the quick brown fox returns",
    2: "a different text with the quick brown fox jumps over the lazy dog inside it",
    3: "completely unique content here with nothing shared at all among documents",
    4: "short",
    5: "abcabcabcabcabcabcabcabcabcabcabcabcabcabcabcabcabc",  # period-3 repeats
}


def _reference(L):
    grams = Counter()
    for t in TEXTS.values():
        for p in range(len(t) - L + 1):
            grams[t[p : p + L]] += 1
    out = {}
    for d, t in TEXTS.items():
        n = max(0, len(t) - L + 1)
        if n == 0:
            continue
        dups = [p for p in range(n) if grams[t[p : p + L]] >= 2]
        out[d] = (n, len(dups), dups[0] if dups else None)
    return out


@pytest.mark.parametrize("L", [40, 36])
def test_prefix_doubling_radix_doubling_path_matches_bruteforce(spark, L):
    """L > direct_width exercises the radix-16 base + doubling loop
    (h=16 -> 32, sparse composite) — the path the graded L=30 query no
    longer takes; pin it against the literal gram-counting reference."""
    from pipes_spark.operators.dedup import prefix_doubling_duplicates

    docs = spark.createDataFrame(list(TEXTS.items()), ["doc_id", "text"])
    rows = {
        r["doc_id"]: (r["n_grams"], r["n_duplicated"], r["first_dup_pos"])
        for r in prefix_doubling_duplicates(docs, min_len=L).collect()
    }
    assert rows == _reference(L)


def test_prefix_doubling_direct_and_doubling_paths_identical(spark):
    """The two physical paths are the SAME operator: forcing the same L
    through the direct-gram path (direct_width >= L) and the doubling
    path (direct_width < L) must return identical rows."""
    from pipes_spark.operators.dedup import prefix_doubling_duplicates

    docs = spark.createDataFrame(list(TEXTS.items()), ["doc_id", "text"])
    L = 20
    direct = {
        r["doc_id"]: (r["n_grams"], r["n_duplicated"], r["first_dup_pos"])
        for r in prefix_doubling_duplicates(
            docs, min_len=L, direct_width=32
        ).collect()
    }
    doubled = {
        r["doc_id"]: (r["n_grams"], r["n_duplicated"], r["first_dup_pos"])
        for r in prefix_doubling_duplicates(
            docs, min_len=L, direct_width=8
        ).collect()
    }
    assert direct == doubled == _reference(L)


# ---------------------------------------------------------------------------
# codec round trips: the final orderBy was replaced by a range-sorted INPUT
# (operators.scale.presorted_min_partitions) because a global sort's
# RangePartitioner samples its child with a separate job — executing the
# whole encode->decode Python chain twice.  The rewrite is only sound if
# every converted query still emits rows in EXACTLY the order the dropped
# orderBy produced; pin that here over the real testdata.
# ---------------------------------------------------------------------------

CONVERTED_ORDER = {
    "multimodal_png_roundtrip": ("asset_id",),
    "multimodal_gif_roundtrip": ("asset_id",),
    "multimodal_jpeg_roundtrip": ("asset_id",),
    "multimodal_jpeg_color_roundtrip": ("asset_id",),
    "multimodal_jpeg_progressive_roundtrip": ("asset_id",),
    "multimodal_jpeg_progressive_color_roundtrip": ("asset_id",),
    "multimodal_jpeg_arith_roundtrip": ("asset_id",),
    "multimodal_jpeg_lossless_roundtrip": ("asset_id",),
    "multimodal_jpeg_hierarchical_roundtrip": ("asset_id",),
    "multimodal_wav_roundtrip": ("asset_id",),
    "multimodal_g711_roundtrip": ("asset_id",),
    "multimodal_flac_roundtrip": ("asset_id",),
    "multimodal_adpcm_roundtrip": ("asset_id",),
    "multimodal_aiff_roundtrip": ("asset_id",),
    "multimodal_bmp_roundtrip": ("asset_id",),
    "multimodal_tiff_roundtrip": ("asset_id",),
    "multimodal_audio_features": ("asset_id",),
    "multimodal_cross_codec_ahash": ("asset_id",),
    "multimodal_video_frame_sample": ("asset_id", "frame_no"),
    "multimodal_video_dib_frame_sample": ("asset_id", "frame_no"),
    "multimodal_video_rle_frame_sample": ("asset_id", "frame_no"),
    "multimodal_video_screen_frames": ("asset_id", "frame_no"),
    # the extraction kernel sorts each asset's rows by (ifd, tag_id)
    # before emitting, so the range-sorted input yields the full order
    "multimodal_exif_metadata": ("asset_id", "ifd", "tag_id"),
    # second conversion wave (driver-gate wall time): same pattern
    "multimodal_resize": ("asset_id", "y", "x"),
    "multimodal_wav_depths_roundtrip": ("asset_id",),
    "multimodal_png_filters_roundtrip": ("asset_id",),
    "multimodal_gif_animation_frames": ("asset_id", "frame_no"),
    "multimodal_subtitle_cues": ("asset_id", "cue_no"),
    # kernel emits per-asset rows pre-sorted by (block_type, item)
    "multimodal_flac_metadata": ("asset_id", "block_type", "item"),
}


@pytest.mark.parametrize("name", sorted(CONVERTED_ORDER))
def test_converted_codec_query_output_is_globally_sorted(spark, name):
    """Collected row order must equal the order the dropped orderBy gave:
    ascending by the declared keys (unique per row for every converted
    query, so the expected order is total and unambiguous)."""
    from pipes_spark.catalog import QUERIES

    keys = CONVERTED_ORDER[name]
    rows = QUERIES[name].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows, name
    got = [tuple(r[k] for k in keys) for r in rows]
    assert got == sorted(got), f"{name}: output no longer globally sorted"
    assert len(set(got)) == len(got), f"{name}: sort keys not unique"


# ---------------------------------------------------------------------------
# optimization round 2: construct-time collect jobs replaced by driver-side
# pyarrow reads of the SAME inputs — results must stay bit-identical
# ---------------------------------------------------------------------------


def _rows_set(df):
    return sorted(tuple(r) for r in df.collect())


def test_xxhash64_long_matches_spark(spark):
    """The numpy XXH64-of-long must be bit-equal to Spark's xxhash64 —
    this is what keeps the driver-side codebook sample identical to the
    TakeOrdered collect it replaces."""
    from pyspark.sql import functions as F

    from pipes_spark.operators.similarity import xxhash64_long

    vals = [0, 1, 2, 42, -1, -2, 123456789, -987654321, 2**62, -(2**62),
            2**63 - 1, -(2**63), 7, 999999999999]
    got = {int(v): int(h) for v, h in zip(vals, xxhash64_long(vals))}
    exp = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    assert got == exp


def test_emb_rows_matches_spark_collect(spark, sf_dir):
    from pipes_spark.catalog import _emb_rows, _t

    ids, X = _emb_rows(sf_dir, lambda i: i < 20)
    rows = (
        _t(spark, sf_dir, "embeddings")
        .filter("vec_id < 20")
        .select("vec_id", "embedding")
        .collect()
    )
    assert sorted(int(i) for i in ids) == sorted(r[0] for r in rows)
    by_id = {r[0]: [float(x) for x in r[1]] for r in rows}
    for i, vec in zip(ids, X):
        assert [float(x) for x in vec] == by_id[int(i)]


def test_ivf_topk_driver_sample_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _emb_rows, _t
    from pipes_spark.operators.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    collected = ivf_cosine_topk(emb, q, k=5)
    driver = ivf_cosine_topk(emb, q, k=5, corpus_rows=_emb_rows(sf_dir))
    assert _rows_set(collected) == _rows_set(driver)


def test_ivf_indexed_driver_rows_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _emb_rows, _t
    from pipes_spark.operators.similarity import ivf_cosine_topk_indexed
    from pipes_spark.warehouse import ivf_codebook_arrays, ivf_index_tables

    codebook, corpus = ivf_index_tables(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    collected = ivf_cosine_topk_indexed(codebook, corpus, q, k=5)
    driver = ivf_cosine_topk_indexed(
        codebook,
        corpus,
        q,
        k=5,
        codebook_rows=ivf_codebook_arrays(spark, sf_dir),
        query_rows=_emb_rows(sf_dir, lambda i: i < 20),
    )
    assert _rows_set(collected) == _rows_set(driver)


def test_ivfpq_driver_query_rows_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _emb_rows, _t
    from pipes_spark.operators.similarity import ivfpq_topk
    from pipes_spark.warehouse import ivfpq_index_tables, load_ivfpq_model

    _, codes = ivfpq_index_tables(spark, sf_dir)
    C, books = load_ivfpq_model(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    kw = dict(k=5, n_probe=4, oversample=4, encoded_corpus=codes)
    collected = ivfpq_topk(emb, q, C, books, **kw)
    driver = ivfpq_topk(
        emb, q, C, books, query_rows=_emb_rows(sf_dir, lambda i: i % 100 == 0), **kw
    )
    assert _rows_set(collected) == _rows_set(driver)


def test_quantized_driver_query_rows_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _emb_rows, _t
    from pipes_spark.operators.similarity import quantized_cosine_topk
    from pipes_spark.warehouse import quantized_embeddings_table

    from pipes_spark.operators.similarity import _int8_codes, quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # the driver-side numpy quantization of the query rows must equal the
    # quantize_int8 UDF's output on the same rows: the UDF is the reference
    ids, X = _emb_rows(sf_dir, lambda i: i < 20)
    udf_codes = {r[0]: list(r[1]) for r in quantize_int8(q).collect()}
    for i, codes in zip(ids, _int8_codes(X)):
        assert [int(c) for c in codes] == udf_codes[int(i)]
    qtab = quantized_embeddings_table(spark, sf_dir)
    collected = quantized_cosine_topk(emb, q, k=5, quantized_corpus=qtab)
    driver = quantized_cosine_topk(
        emb, q, k=5, quantized_corpus=qtab,
        query_rows=_emb_rows(sf_dir, lambda i: i < 20),
    )
    assert _rows_set(collected) == _rows_set(driver)


def test_lsh_topk_driver_query_buckets_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _emb_rows, _t
    from pipes_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    for mp in (0, 2):
        collected = lsh_cosine_topk(emb, q, k=5, multiprobe=mp)
        driver = lsh_cosine_topk(
            emb, q, k=5, multiprobe=mp,
            query_rows=_emb_rows(sf_dir, lambda i: i < 20),
        )
        assert _rows_set(collected) == _rows_set(driver), f"multiprobe={mp}"


def test_ivf_topk_driver_query_probes_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _emb_rows, _t
    from pipes_spark.operators.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    collected = ivf_cosine_topk(emb, q, k=5)
    ids, X = _emb_rows(sf_dir)
    qm = ids < 20
    driver = ivf_cosine_topk(
        emb, q, k=5, corpus_rows=(ids, X), query_rows=(ids[qm], X[qm])
    )
    assert _rows_set(collected) == _rows_set(driver)


def test_round6_half_up_matches_spark_round(spark, sf_dir):
    """The in-kernel Decimal HALF_UP rounding must be bit-equal to Spark's
    F.round(double, 6) — checked over the live cosine distribution plus
    adversarial near-boundary values."""
    from pyspark.sql import functions as F

    from pipes_spark.catalog import _t
    from pipes_spark.operators.similarity import (
        _round6_half_up,
        cosine,
        cosine_neardup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    live = [
        r.c
        for r in emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            cosine(
                F.transform("a.embedding", lambda x: x.cast("double")),
                F.transform("b.embedding", lambda x: x.cast("double")),
            ).alias("c")
        )
        .limit(5000)
        .collect()
    ]
    adversarial = [0.2999995, 0.3000005, -0.1234565, 1.0, -1.0, 0.5e-6,
                   -0.5e-6, 0.1234564999999999, 2.5e-7, 123.4567895]
    vals = live + adversarial
    spark_rounded = [
        r.r
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(F.round("v", 6).alias("r"))
        .collect()
    ]
    ours = [_round6_half_up(v) for v in vals]
    assert ours == spark_rounded


# ---------------------------------------------------------------------------
# tfidf: document frequency derived from the persisted (doc, token) TF
# aggregate instead of a second tokenize pass — dfreq must still count a
# document ONCE however many times the token repeats inside it.
# ---------------------------------------------------------------------------


def test_tfidf_dfreq_counts_each_doc_once(spark):
    import math

    from pipes_spark.operators.text import tfidf

    docs = spark.createDataFrame(
        [
            (1, "x x x y"),  # x repeats in-doc: dfreq(x) must count doc 1 once
            (2, "x y y"),
            (3, "z z"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf(docs).collect()
    got = {(r.doc_id, r.token): (r.tf, r.idf) for r in rows}
    # dfreq(x)=2, dfreq(y)=2, dfreq(z)=1 of N=3
    idf_2 = round(math.log(3.0 / 2.0), 6)
    idf_1 = round(math.log(3.0 / 1.0), 6)
    assert got[(1, "x")] == (3, idf_2)
    assert got[(2, "x")] == (1, idf_2)
    assert got[(2, "y")] == (2, idf_2)
    assert got[(3, "z")] == (2, idf_1)
    # one row per distinct (doc, token): (1,x),(1,y),(2,x),(2,y),(3,z)
    assert len(rows) == 5
    assert got[(1, "y")] == (1, idf_2)
