"""Extension-operator tests: dedup (MinHash-LSH vs exact Jaccard, SimHash),
similarity search (LSH recall vs brute force), text analysis, multimodal
plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipes_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash32,
    simhash_pairs,
)
from pipes_spark.operators.multimodal import (
    binary_assets_from_text,
    extract_features,
    frame_sample,
)
from pipes_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from pipes_spark.operators.text import normalized_fingerprint
from pipes_spark.sources import load_table


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
        (3, "completely different text about spark query engines and distributed joins"),
        (4, "another unrelated document describing columnar storage and parquet files"),
        (5, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (6, "THE  Quick   Brown fox jumps over the lazy dog near the river bank today"),  # case/ws dup of 1
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup_normalization(docs_with_dups):
    kept = exact_dedup(docs_with_dups)
    ids = sorted(r.doc_id for r in kept.collect())
    # 1, 5, 6 normalize to the same fingerprint -> keep 1
    assert ids == [1, 2, 3, 4]


def test_ngram_jaccard_finds_near_dups(docs_with_dups):
    pairs = ngram_jaccard_pairs(docs_with_dups, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # one-word difference
    assert (1, 5) in got  # identical
    assert not any({3, 4} & {a, b} for a, b in got)  # unrelated docs not paired


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """LSH candidates at est_jaccard>=0.5 must recover the exact-Jaccard>=0.5
    pairs on the real corpus (planted near-dups)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert exact, "corpus should contain planted near-duplicates"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low ({len(exact)} exact pairs)"


def test_simhash_stable_and_close_for_near_dups(docs_with_dups):
    sh = {r.doc_id: r.sh for r in docs_with_dups.select(
        "doc_id", simhash32("text").alias("sh")).collect()}
    assert sh[1] == sh[5]  # identical text -> identical fingerprint
    ham_12 = bin(sh[1] ^ sh[2]).count("1")
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham_12 < ham_13, "near-dup should be closer in Hamming space"


def test_simhash_pairs_blocking(docs_with_dups):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(
        docs_with_dups, max_hamming=8).collect()}
    assert (1, 5) in pairs and pairs[(1, 5)] == 0


def test_lsh_topk_finds_planted_neighbors(spark):
    """Multi-table LSH must recover planted near-duplicate vectors (the
    high-similarity regime LSH is built for) as top-1 neighbors."""
    import math
    import random

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(50):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
        if i < 10:  # plant a noisy copy of the first ten vectors
            noisy = [float(x + rng.gauss(0, 0.05)) for x in v]
            rows.append((1000 + i, noisy))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = lsh_cosine_topk(emb, queries, k=3)
    top1 = {r.query_id: r.neighbor_id for r in approx.filter("rank = 1").collect()}
    hits = sum(1 for qid, nid in top1.items() if nid == 1000 + qid)
    assert hits >= 9, f"only {hits}/10 planted neighbors found: {top1}"


def test_lsh_topk_candidates_are_exact_cosines(spark, sf_dir):
    """Whatever LSH returns must carry the same cosine the exact operator
    computes (rerank is exact; only candidate generation is approximate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=500).collect()
    }
    for r in lsh_cosine_topk(emb, queries, k=5).collect():
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine


def test_normalized_fingerprint_is_portable(spark):
    """The fingerprint must equal DuckDB's md5 of the same normalization."""
    import duckdb

    df = spark.createDataFrame([(1, "  Hello   WORLD  ")], "id long, text string")
    got = df.select(normalized_fingerprint("text").alias("fp")).collect()[0].fp
    want = duckdb.sql("select md5('hello world')").fetchone()[0]
    assert got == want


def test_multimodal_feature_extraction(docs_with_dups):
    assets = binary_assets_from_text(docs_with_dups)
    assert [f.name for f in assets.schema] == ["asset_id", "content", "meta"]
    feats = extract_features(assets, fake=True)
    rows = {r.asset_id: r for r in feats.collect()}
    assert len(rows) == 6
    r1 = rows[1]
    assert r1.n_bytes == len(
        "the quick brown fox jumps over the lazy dog near the river bank today"
    )
    assert 0 <= r1.byte_min <= r1.byte_max <= 255
    assert len(r1.fake_embedding) == 8
    # determinism: same input bytes -> same features
    r5 = rows[5]
    assert (r1.byte_mean, r1.byte_min, r1.byte_max) == (r5.byte_mean, r5.byte_min, r5.byte_max)


def test_multimodal_real_decode_unsupported_raises(docs_with_dups):
    """Real mode decodes the engine's own formats (see
    test_real_mode_unified_decode); a format OUTSIDE the codec set —
    here raw text bytes — must still raise loudly, not fake an answer."""
    assets = binary_assets_from_text(docs_with_dups)
    with pytest.raises(Exception, match="unsupported media format"):
        extract_features(assets, fake=False).collect()


def test_real_mode_unified_decode(spark):
    """Round 11 (VERDICT r10 ask #2): generic real-mode feature
    extraction and perceptual hashing dispatch through the module's own
    codecs — the same operator decodes PNG, GIF, JPEG, and WAV assets in
    one pass, and features come from DECODED values, not bytes."""
    import numpy as np

    from pipes_spark.operators.multimodal import (
        block_gray_lattice,
        decode_asset_values,
        encode_image_assets,
        encode_wav_assets,
        extract_features,
        perceptual_hash,
        wav_encode_pcm16,
    )

    d = spark.createDataFrame(
        [(0, "png"), (1, "gif"), (2, "jpeg")],
        "doc_id long, codec string",
    ).select(
        "doc_id",
        F.lit(24).cast("int").alias("width"),
        F.lit(16).cast("int").alias("height"),
        "codec",
    )
    img = encode_image_assets(d, "doc_id", "width", "height", "codec")
    wav = encode_wav_assets(
        spark.createDataFrame([(3, 33, 8000)], "doc_id long, n int, r int"),
        "doc_id",
        "n",
        "r",
    )
    feats = {
        r.asset_id: r
        for r in extract_features(img.unionByName(wav), fake=False).collect()
    }
    assert {feats[i].format for i in (0, 1, 2)} == {"png", "gif", "jpeg"}
    for i in (0, 1, 2):
        px = block_gray_lattice(i, 24, 16).astype(np.int64)
        assert feats[i].val_sum == int(px.sum())
        assert feats[i].val_mean == float(px.mean())
        assert (feats[i].width, feats[i].height) == (24, 16)
    want = ((3 + np.arange(33)) * 2557) % 65536 - 32768
    assert feats[3].format == "wav" and feats[3].val_sum == int(want.sum())
    assert feats[3].width is None and feats[3].n_values == 33

    # perceptual_hash real mode equals the rule applied to decoded values
    hashes = {
        r.asset_id: r.phash for r in perceptual_hash(img, fake=False).collect()
    }
    _fmt, vals, _w, _h = decode_asset_values(
        bytes(img.filter("asset_id = 0").collect()[0].content)
    )
    pad = (-vals.size) % 64
    a = np.concatenate([vals, vals[:pad]]) if pad else vals
    blocks = a.reshape(64, -1).mean(axis=1)
    h = 0
    for b in blocks > a.mean():
        h = (h << 1) | int(b)
    if h >= 1 << 63:
        h -= 1 << 64
    assert hashes[0] == h


def test_resize_image_assets_box_mean(spark):
    """Real resize: decode → floor box mean with the floor-partition rule
    → PNG re-encode; verify against a literal numpy reference, including
    non-uniform boxes (10×6 → 3×4) and an upscale rejection."""
    import numpy as np

    from pipes_spark.operators.multimodal import (
        decoded_pixels,
        png_encode_array,
        resize_image_assets,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(6, 10), dtype=np.uint8)
    assets = spark.createDataFrame(
        [(1, bytearray(png_encode_array(px)))], "asset_id long, content binary"
    )
    out = resize_image_assets(assets, out_w=3, out_h=4)
    got = {
        (r.y, r.x): r.v for r in decoded_pixels(out).collect()
    }
    want = {}
    acc = {}
    for y in range(6):
        for x in range(10):
            key = (y * 4 // 6, x * 3 // 10)
            s, n = acc.get(key, (0, 0))
            acc[key] = (s + int(px[y, x]), n + 1)
    for key, (s, n) in acc.items():
        want[key] = s // n
    assert got == want
    meta = out.collect()[0]
    assert (meta.width, meta.height) == (3, 4)
    with pytest.raises(Exception, match="upscaling"):
        resize_image_assets(assets, out_w=11, out_h=4).collect()


def test_frame_sample_explodes(docs_with_dups):
    assets = binary_assets_from_text(docs_with_dups.filter("doc_id = 1"))
    frames = frame_sample(assets, every_n_bytes=16).collect()
    n_bytes = len("the quick brown fox jumps over the lazy dog near the river bank today")
    assert len(frames) == (n_bytes + 15) // 16
    assert [f.frame_no for f in frames] == list(range(len(frames)))


def test_tfidf_basics(spark):
    from pipes_spark.operators.text import tfidf

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    got = {(r.doc_id, r.token): (r.tf, r.idf, r.tfidf) for r in tfidf(docs).collect()}
    assert got[(1, "a")][0] == 2
    assert got[(1, "b")][1] == round(__import__("math").log(2.0), 6)  # df=1 of N=2
    assert got[(1, "a")][1] == 0.0  # token in every doc -> idf 0
    assert got[(2, "c")][2] == round(__import__("math").log(2.0), 6)


def test_pii_counts(spark):
    from pipes_spark.operators.text import with_pii_counts

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk thanks"),
            (2, "server at 10.0.255.7 rebooted, call +1 (415) 555-0199 now"),
            (3, "nothing to see"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_email, r.n_phone, r.n_ipv4, r.n_pii_total)
           for r in with_pii_counts(docs).collect()}
    assert got[1] == (1, 0, 0, 1)
    assert got[2][2] == 1 and got[2][1] >= 1
    assert got[3] == (0, 0, 0, 0)


def test_ivf_topk_candidates_are_exact_cosines(spark, sf_dir):
    """IVF results must carry the same cosines the exact operator computes,
    and per-query recall@5 vs exact must clear a sane floor."""
    from pipes_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=500).collect()
    }
    exact_top5 = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        exact_top5.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = ivf_cosine_topk(emb, queries, k=5).collect()
    assert len({r.query_id for r in approx}) == 20
    hits = total = 0
    for r in approx:
        assert exact_all[(r.query_id, r.neighbor_id)] == r.cosine
        total += 1
        hits += r.neighbor_id in exact_top5[r.query_id]
    assert hits / total >= 0.3  # coarse random-sample centroids, 4/16 probes


def test_resize_stub_shapes(spark, sf_dir):
    from pipes_spark.operators.multimodal import binary_assets_from_text, resize_stub

    d = load_table(spark, sf_dir, "documents").limit(20)
    out = resize_stub(binary_assets_from_text(d), width=8, height=4).collect()
    assert len(out) == 20
    for r in out:
        assert r.n_bytes == 32 and len(r.content) == 32
        assert (r.width, r.height) == (8, 4)


def test_ordered_within_partitions_contract(spark, sf_dir):
    """Every partition must hold each user's events contiguously and
    time-ordered — the per-sender FIFO analog."""
    from pipes_spark.operators.relational import ordered_within_partitions

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out = ordered_within_partitions(ev, ["user_id"], ["ts", "event_id"])

    def check(it):
        rows = list(it)
        keys = [(r.user_id, r.ts, r.event_id) for r in rows]
        assert keys == sorted(keys), "partition not sorted by (user, ts, id)"
        yield len(rows)

    total = sum(out.rdd.mapPartitions(check).collect())
    assert total == ev.count()


def test_asof_join_directions_and_tolerance(spark):
    from pipes_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 100, 30.0)],
        "k long, t long, lv double",
    )
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, 100, 2.0), (1, 150, 3.0), (2, 500, 4.0)],
        "k long, t long, rv double",
    )

    back = {r.t: r.asof_rv for r in asof_join(
        left.filter("k=1"), right, on="t", by=["k"], value_cols=["rv"]).collect()}
    assert back == {100: 2.0, 200: 3.0}  # tie at t=100 matches; latest <= t wins

    fwd = {r.t: r.asof_rv for r in asof_join(
        left.filter("k=1"), right, on="t", by=["k"], value_cols=["rv"],
        direction="forward").collect()}
    assert fwd == {100: 2.0, 200: None}  # tie matches forward too; nothing after 150

    tol = {(r.k, r.t): r.asof_rv for r in asof_join(
        left, right, on="t", by=["k"], value_cols=["rv"],
        tolerance_seconds=20e-6).collect()}  # 20 integer units (micros scale)
    assert tol[(1, 100)] == 2.0      # exact match, age 0
    assert tol[(1, 200)] is None     # nearest is 50 units back -> beyond tolerance
    assert tol[(2, 100)] is None     # only future right rows for k=2


def test_tiled_neardup_matches_broadcast_formulation(spark, sf_dir):
    """Block-cartesian tiling (forced to many tiles) must produce exactly
    the pairs + cosines of the broadcast formulation."""
    from pipes_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_tiled,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    want = {(r.id_a, r.id_b): r.cosine for r in cosine_neardup_pairs(emb, 0.3).collect()}
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_neardup_pairs_tiled(emb, 0.3, block_size=64).collect()
    }
    assert got == want


def test_lsh_verified_matches_exact_jaccard(spark, sf_dir):
    """The composed LSH→exact-verify scale path must produce exactly the
    pairs + jaccards of the bare exact verifier in the high-similarity
    regime the testdata's near-dups live in (banded-LSH recall ~1)."""
    from pipes_spark.operators.dedup import lsh_verified_pairs, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in lsh_verified_pairs(docs, threshold=0.2).collect()
    }
    assert got == want
    assert len(got) > 0


def test_ivf_kmeans_centroids(spark, sf_dir):
    """IVF with a trained k-means codebook: same exact-rerank guarantees,
    recall at least as sane as the sampled codebook's floor."""
    from pipes_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=500).collect()
    }
    out = ivf_cosine_topk(emb, queries, k=5, num_centroids=8, centroids="kmeans").collect()
    assert len({r.query_id for r in out}) == 10
    for r in out:
        assert exact_all[(r.query_id, r.neighbor_id)] == r.cosine


def test_hll_sketch_rollup_estimates_daily_uniques(spark, sf_dir):
    """Unioning hourly HLL sketches to day grain must estimate daily
    distinct users within the sketch's error bound, cover exactly the
    (day, type) groups the raw data has, and — the property exact rollups
    lack — differ from the (wrong) sum of per-hour distincts whenever
    users span hours."""
    from pipes_spark.operators.rollup import hourly_user_sketches, reaggregate_distinct

    ev = load_table(spark, sf_dir, "events")
    got = {
        (r.day, r.event_type): r.approx_users
        for r in reaggregate_distinct(hourly_user_sketches(ev), "day").collect()
    }
    exact = {
        (r.day, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert got.keys() == exact.keys()
    for key, n in exact.items():
        assert abs(got[key] - n) <= max(2, 0.05 * n), (key, got[key], n)


def test_ivf_indexed_matches_exact_cosines(spark, sf_dir):
    """The persisted-index IVF path (warehouse codebook + list-partitioned
    corpus) must carry exact cosines and clear the same recall floor as the
    in-process variant."""
    from pipes_spark.operators.similarity import cosine_topk, ivf_cosine_topk_indexed
    from pipes_spark.warehouse import ivf_index_tables

    emb = load_table(spark, sf_dir, "embeddings")
    codebook, corpus = ivf_index_tables(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    exact_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=500).collect()
    }
    exact_top5 = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        exact_top5.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = ivf_cosine_topk_indexed(codebook, corpus, queries, k=5).collect()
    assert len({r.query_id for r in approx}) == 20
    hits = total = 0
    for r in approx:
        assert exact_all[(r.query_id, r.neighbor_id)] == r.cosine
        total += 1
        hits += r.neighbor_id in exact_top5[r.query_id]
    assert hits / total >= 0.3  # trained codebook; same floor as sampled variant


def test_deterministic_sample_stable_under_repartition(spark, sf_dir):
    """The sampled key set must be invariant to partitioning — the property
    Spark's seeded df.sample lacks and the reason these operators exist
    (stable holdout splits across pipeline re-runs at scale)."""
    from pipes_spark.operators.sampling import deterministic_sample

    orders = load_table(spark, sf_dir, "orders")
    base = {r.o_orderkey for r in deterministic_sample(orders, "o_orderkey", 0.2).collect()}
    shuffled = {
        r.o_orderkey
        for r in deterministic_sample(orders.repartition(13, "o_custkey"), "o_orderkey", 0.2)
        .collect()
    }
    assert base == shuffled
    n = orders.count()
    assert 0.15 * n < len(base) < 0.25 * n  # ~20% within uniformity slack


def test_sample_salts_are_independent(spark, sf_dir):
    """Distinct salts draw independent samples from the same keys: of the
    rows in sample a, only ~the base fraction (20%) also land in sample b.
    The same salt would give identical sets (overlap 1.0)."""
    from pipes_spark.operators.sampling import deterministic_sample

    orders = load_table(spark, sf_dir, "orders")
    a = {r.o_orderkey for r in deterministic_sample(orders, "o_orderkey", 0.2, salt="a").collect()}
    b = {r.o_orderkey for r in deterministic_sample(orders, "o_orderkey", 0.2, salt="b").collect()}
    overlap = len(a & b) / max(1, len(a))
    assert 0.1 < overlap < 0.35  # independent ≈ 0.2; same-salt would be 1.0
    same = {r.o_orderkey for r in deterministic_sample(orders, "o_orderkey", 0.2, salt="a").collect()}
    assert same == a


def test_train_test_split_membership_stable_under_growth(spark, sf_dir):
    """Adding documents must not move existing ones across the split —
    membership is a pure function of (doc_id, salt)."""
    from pipes_spark.operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    small = docs.filter(F.col("doc_id") < 100)
    full_split = {
        r.doc_id: r.split for r in train_test_split(docs, "doc_id", 0.1).collect()
    }
    small_split = {
        r.doc_id: r.split for r in train_test_split(small, "doc_id", 0.1).collect()
    }
    for doc_id, split in small_split.items():
        assert full_split[doc_id] == split


def test_corpus_pipeline_example(spark, sf_dir, tmp_path):
    """The end-to-end curation example: dedup → annotate → gate → split →
    fan-out to corpus write + stats report; the written corpus must agree
    with the report and be partitioned by split."""
    import glob
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "corpus_pipeline",
        os.path.join(os.path.dirname(__file__), "..", "examples", "corpus_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = str(tmp_path / "out")
    results = mod.build(spark, sf_dir, out).start().done()
    report_docs = sum(r.docs for r in results["report"])
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() == report_docs > 0
    assert glob.glob(os.path.join(out, "corpus", "split=*"))  # partitioned layout
    assert set(corpus.select("split").distinct().toPandas()["split"]) <= {"train", "test"}
    # decontamination: the stand-in eval docs never reach the corpus
    assert corpus.filter(F.col("doc_id") % 97 == 0).count() == 0
    # packing manifest: every train doc assigned exactly once, budget held
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    train_ids = {r.doc_id for r in corpus.filter(F.col("split") == "train").collect()}
    assert {r.doc_id for r in manifest.collect()} == train_ids
    fills = manifest.groupBy("seq_id").agg(
        F.sum("weight").alias("total"), F.count(F.lit(1)).alias("n")
    )
    assert fills.filter((F.col("total") > 1024) & (F.col("n") > 1)).count() == 0


def test_connected_components_resolves_chain_and_clique(spark):
    from pipes_spark.operators.components import connected_components

    # component A: a 5-node chain 10-11-12-13-14 (worst case for naive
    # label propagation); component B: a triangle clique 20-21-22
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    cc = {r.id: r.component for r in connected_components(pairs).collect()}
    assert cc == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 20: 20, 21: 20, 22: 20}


def test_drop_near_duplicates_keeps_canonical_and_untouched(spark):
    from pipes_spark.operators.components import drop_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # clusters {1,2,3} and {5,6}; 4 and 7 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in drop_near_duplicates(docs, pairs).select("doc_id").collect()
    )
    assert kept == [1, 4, 5, 7]


def test_quantized_topk_recall_and_exact_scores(spark, sf_dir):
    from pipes_spark.operators.similarity import cosine_topk, quantized_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5).collect()
    quant = quantized_cosine_topk(emb, q, k=5).collect()
    exact_pairs = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    quant_pairs = {(r.query_id, r.neighbor_id): r.cosine for r in quant}
    # recall@5 ≥ 0.9 over the probe set
    hits = len(set(exact_pairs) & set(quant_pairs))
    assert hits / len(exact_pairs) >= 0.9
    # every reported cosine on a shared pair is the EXACT value (rerank)
    for pair in set(exact_pairs) & set(quant_pairs):
        assert quant_pairs[pair] == exact_pairs[pair]


def test_quantize_int8_bounds_and_shape(spark, sf_dir):
    from pipes_spark.operators.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = quantize_int8(emb).collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.qvec) == 64
        assert max(abs(v) for v in r.qvec) == 127  # max-abs element saturates


def test_repetition_scores_hand_computed(spark):
    from pipes_spark.operators.text import repetition_scores

    df = spark.createDataFrame(
        [
            (1, "a a a a"),  # 1 distinct token; "a a"×3; "a a a"×2
            (2, "w x y z"),  # everything distinct
            (3, "solo"),  # no bigrams/trigrams → fractions 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_scores(df).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["dup_token_frac"] == 0.75  # (4-1)/4
    assert out[1]["top_bigram_frac"] == 1.0  # "a a" is all 3 bigrams
    assert out[1]["dup_trigram_frac"] == 0.5  # 2 trigrams, 1 distinct
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["top_bigram_frac"] == 0.333333  # max count 1 of 3 bigrams
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1
    assert out[3]["top_bigram_frac"] == 0.0
    assert out[3]["dup_trigram_frac"] == 0.0


def test_unigram_rarity_hand_computed(spark):
    from pipes_spark.operators.text import unigram_rarity

    df = spark.createDataFrame(
        [(1, "common common rare"), (2, "common other")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_rarity(df).collect()}
    # corpus counts: common=3, rare=1, other=1
    assert out[1] == {
        "doc_id": 1,
        "n_tokens": 3,
        "avg_token_count": round((3 + 3 + 1) / 3, 6),
        "min_token_count": 1,
    }
    assert out[2]["avg_token_count"] == 2.0 and out[2]["min_token_count"] == 1


def test_benchmark_contamination_window_overlap(spark):
    from pipes_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "one two three four five six")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # shares the shingle "one two three four five" with the benchmark
            (1, "zz one two three four five yy"),
            (2, "alpha beta gamma delta epsilon zeta"),  # clean
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in benchmark_contamination(corpus, bench, shingle_n=5).collect()
    }
    assert out[1]["n_shingles"] == 3
    assert out[1]["n_contaminated"] == 1
    assert out[1]["contamination_frac"] == 0.333333
    assert out[2]["n_contaminated"] == 0
    assert out[2]["contamination_frac"] == 0.0


def test_pack_greedy_invariants(spark, sf_dir):
    from pipes_spark.operators.packing import pack_greedy
    from pipes_spark.operators.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    rows = pack_greedy(d, budget=512, num_buckets=8).collect()
    # every document packed exactly once
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in d.select("doc_id").collect()
    )
    by_seq: dict[int, list] = {}
    for r in rows:
        by_seq.setdefault(r.seq_id, []).append(r)
    for seq in by_seq.values():
        total = sum(r.weight for r in seq)
        # budget respected unless a single oversize doc owns the sequence
        assert total <= 512 or len(seq) == 1
        assert all(r.seq_fill == total for r in seq)
        assert sorted(r.seq_pos for r in seq) == list(range(len(seq)))
    # deterministic across runs
    rows2 = pack_greedy(d, budget=512, num_buckets=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # FFD is within 2x of the fill lower bound even with 8 independent buckets
    lower = sum(r.weight for r in rows) / 512
    assert len(by_seq) <= 2 * lower + 8


def test_merge_upsert_row_level_precedence(spark):
    from pipes_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, v string, x double"
    )
    out = {r.k: (r.v, r.x) for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_scd2_merge_versions(spark):
    import datetime

    from pipes_spark.operators.relational import scd2_merge

    d0 = datetime.date(2020, 1, 1)
    d1 = datetime.date(2023, 5, 5)
    dim = spark.createDataFrame(
        [
            (1, "red", d0, d1, False),  # history row: must pass through
            (1, "blue", d1, None, True),  # current, unchanged in snapshot
            (2, "green", d0, None, True),  # current, changed in snapshot
            (3, "grey", d0, None, True),  # current, absent from snapshot
        ],
        "k long, color string, valid_from date, valid_to date, is_current boolean",
    )
    snapshot = spark.createDataFrame(
        [(1, "blue"), (2, "yellow"), (9, "new")], "k long, color string"
    )
    rows = {
        (r.k, r.color, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in scd2_merge(dim, snapshot, "k", ["color"], "2024-06-01").collect()
    }
    assert rows == {
        (1, "red", "2020-01-01", "2023-05-05", False),
        (1, "blue", "2023-05-05", "None", True),
        (2, "green", "2020-01-01", "2024-06-01", False),
        (2, "yellow", "2024-06-01", "None", True),
        (3, "grey", "2020-01-01", "2024-06-01", False),
        (9, "new", "2024-06-01", "None", True),
    }


def test_mixture_sample_proportions_and_stability(spark, sf_dir):
    from pipes_spark.operators.sampling import mixture_sample

    d = load_table(spark, sf_dir, "documents")
    weights = {f"src{i}": (4.0 if i < 4 else 1.0) for i in range(20)}
    out = mixture_sample(d, "source", weights, "doc_id")
    per_src = {r.source: r.n for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r.source: r.n for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # the heaviest-constrained groups are kept whole; light groups shrink
    for i in range(4):
        assert per_src[f"src{i}"] == full[f"src{i}"]
    light_kept = sum(per_src.get(f"src{i}", 0) for i in range(4, 20))
    light_full = sum(full[f"src{i}"] for i in range(4, 20))
    assert 0.15 * light_full < light_kept < 0.35 * light_full  # target 0.25
    # membership is hash-derived → invariant under repartitioning
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    ids_rep = {
        r.doc_id
        for r in mixture_sample(d.repartition(13), "source", weights, "doc_id")
        .select("doc_id")
        .collect()
    }
    assert ids == ids_rep
    # a group without a weight is dropped
    out2 = mixture_sample(d, "source", {"src0": 1.0}, "doc_id")
    assert {r.source for r in out2.select("source").distinct().collect()} == {"src0"}


def test_salted_two_phase_agg_matches_plain(spark, sf_dir):
    import pytest as _pytest

    from pipes_spark.operators.scale import salted_two_phase_agg

    li = load_table(spark, sf_dir, "lineitem")
    salted = {
        r.l_returnflag: (r.n, r.sum_qty, r.min_price, r.max_price)
        for r in salted_two_phase_agg(
            li,
            ["l_returnflag"],
            [
                ("count", "l_quantity", "n"),
                ("sum", "l_quantity", "sum_qty"),
                ("min", "l_extendedprice", "min_price"),
                ("max", "l_extendedprice", "max_price"),
            ],
            num_salts=8,
        ).collect()
    }
    plain = {
        r.l_returnflag: (r.n, r.sum_qty, r.min_price, r.max_price)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("l_quantity").alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .collect()
    }
    assert salted == plain
    with _pytest.raises(ValueError):
        salted_two_phase_agg(li, ["l_returnflag"], [("avg", "l_quantity", "a")])


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from pipes_spark.operators.components import pagerank

    # directed graph: hub 1 <- {2,3,4}; 1 -> 2; isolated-ish tail 5 -> 4
    edges = [(2, 1), (3, 1), (4, 1), (1, 2), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, num_iter=12, tol=None).collect()}

    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    r = np.ones(n)
    d = 0.85
    for _ in range(12):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / deg[idx[s]]
        r = (1 - d) + d * contrib
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    # the hub out-ranks everything else
    assert got[1] == max(got.values())


def test_percentile_approx_within_rank_error(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    approx = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000).alias("p")
    ).collect()[0].p
    vals = sorted(r.l_extendedprice for r in li.collect())
    n = len(vals)
    for q, a in zip([0.5, 0.9, 0.99], approx):
        # GK accuracy 10000 → rank error <= n/10000
        lo = vals[max(0, int(q * n) - n // 10000 - 2)]
        hi = vals[min(n - 1, int(q * n) + n // 10000 + 2)]
        assert lo <= a <= hi, (q, a, lo, hi)


def test_winnowing_shared_substring_guarantees_shared_fingerprint(spark):
    """Winnowing's selection property: documents sharing a substring of at
    least k+w-1 chars MUST share at least one fingerprint; disjoint random
    texts should share none."""
    import random

    from pipes_spark.operators.text import winnowing_fingerprints

    rng = random.Random(7)

    def rand_text(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(n))

    shared = rand_text(40)  # > k+w-1 = 23 chars
    rows = [
        (1, rand_text(200) + shared + rand_text(200)),
        (2, rand_text(180) + shared + rand_text(220)),
        (3, rand_text(400)),  # no planted overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=8, w=16)
    sets = {
        r.doc_id: r.s
        for r in fps.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("s")).collect()
    }
    assert set(sets[1]) & set(sets[2]), "planted shared substring must collide"
    # doc 3 shares no 23-char substring with doc 1 (random 27-alphabet text)
    assert not set(sets[1]) & set(sets[3])


def test_top_ngrams_approx_exact_under_budget(spark, sf_dir):
    """With the tracking budget above the distinct n-gram count, the
    sketch must return exactly the exact operator's (ngram, count) set
    (ranking ties may order differently — compare as a set)."""
    from pipes_spark.operators.text import top_ngrams, top_ngrams_approx

    docs = load_table(spark, sf_dir, "documents")
    k = 10
    exact = {(r.ngram, r.n_docs) for r in top_ngrams(docs, n=3, k=k).collect()}
    approx = {
        (r.ngram, r.n_docs)
        for r in top_ngrams_approx(docs, n=3, k=k, max_items_tracked=1_000_000).collect()
    }
    # tie groups at the k-th count may differ member-wise; counts must agree
    assert sorted(c for _, c in approx) == sorted(c for _, c in exact)
    threshold = min(c for _, c in exact)
    assert {(g, c) for g, c in exact if c > threshold} <= approx


def test_schema_of_json_inference(spark):
    """schema_of_json (engine-specific output, so pytest not oracle): the
    inferred DDL for a fixed literal must round-trip through from_json."""
    df = spark.range(1)
    ddl = df.select(
        F.schema_of_json(F.lit('{"a": 1, "b": [1.5], "c": {"d": "x"}}')).alias("s")
    ).collect()[0].s
    assert "a" in ddl and "b" in ddl and "d" in ddl
    parsed = spark.createDataFrame(
        [('{"a": 7, "b": [2.5, 3.5], "c": {"d": "y"}}',)], "j string"
    ).select(F.from_json("j", ddl).alias("o")).collect()[0].o
    assert parsed.a == 7 and parsed.b == [2.5, 3.5] and parsed.c.d == "y"


def test_ivf_codebook_smaller_sample_than_centroids(spark):
    """Requesting more centroids than the corpus has vectors must clamp,
    not crash (every vector becomes its own centroid)."""
    from pipes_spark.operators.similarity import fit_ivf_centroids

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    C = fit_ivf_centroids(emb, num_centroids=16, method="kmeans")
    assert C.shape == (5, 4)
    import numpy as np

    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)


def test_fuzzy_match_golden(spark):
    from pipes_spark.operators.text import fuzzy_match

    names = spark.createDataFrame(
        [(1, "jonathan"), (2, "jonatan"), (3, "margaret"), (4, "xyz")],
        "id long, name string",
    )
    probes = spark.createDataFrame([(100, "jonathon")], "pid long, needle string")
    got = {
        (r.id, r.pid): r.distance
        for r in fuzzy_match(names, probes, "name", "needle", max_distance=2).collect()
    }
    assert got == {(1, 100): 1, (2, 100): 2}  # margaret/xyz out of range


def test_duplicate_ngram_spans_semantics(spark):
    """Constructed corpus: one shared 8-token span across two docs, one
    short doc (no grams), one all-unique doc — per-doc counts and the
    null-when-undefined ratio must come out exactly."""
    from pipes_spark.operators.dedup import duplicate_ngram_spans

    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, shared + " x y z"),
            (2, shared + " p q r"),
            (3, "u v w"),
            (4, "k l m n o p q r s t"),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_ngram_spans(docs, n=8).collect()}
    assert out[1]["n_tokens"] == 11 and out[1]["n_grams"] == 4
    assert out[1]["dup_starts"] == 1 and out[1]["dup_ratio"] == 0.25
    assert out[2]["dup_starts"] == 1
    assert out[3]["n_grams"] == 0 and out[3]["dup_starts"] == 0
    assert out[3]["dup_ratio"] is None
    assert out[4]["dup_starts"] == 0 and out[4]["dup_ratio"] == 0.0
    # empty-text docs must not vanish (they have no exploded token rows)
    assert out[5]["n_tokens"] == 0 and out[5]["dup_ratio"] is None


def test_remove_duplicate_spans_semantics(spark):
    """The shared 8-gram's tokens vanish from both docs; untouched docs
    pass through re-joined; overlapping coverage merges."""
    from pipes_spark.operators.dedup import remove_duplicate_spans

    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, shared + " x y z"),
            (2, "p q r " + shared),
            (3, "k l m n o u v w s t"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, n=8).collect()}
    assert out[1]["n_removed"] == 8 and out[1]["cleaned_text"] == "x y z"
    assert out[2]["n_removed"] == 8 and out[2]["cleaned_text"] == "p q r"
    assert out[3]["n_removed"] == 0 and out[3]["cleaned_text"] == "k l m n o u v w s t"
    assert out[4]["n_tokens"] == 0 and out[4]["cleaned_text"] == ""
    # a doc that is ONE duplicated span ends up empty, not null
    docs2 = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id bigint, text string"
    )
    out2 = {r["doc_id"]: r for r in remove_duplicate_spans(docs2, n=8).collect()}
    assert out2[1]["cleaned_text"] == "" and out2[1]["n_removed"] == 8


# ---------------------------------------------------------------------------
# distributed BPE training (text.bpe_learn_merges / bpe_segment)
# ---------------------------------------------------------------------------


def _reference_bpe(word_counts, n_merges, min_pair_count=2):
    """Pure-Python Sennrich-style BPE with the same deterministic
    tie-break (count desc, then (left, right) lexicographic)."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (l, r), cnt = best
        merges.append((l, r, l + r, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_learn_merges_matches_reference(spark):
    from pipes_spark.operators.text import bpe_learn_merges

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_learn_merges(df, "text", n_merges=8).orderBy("rank").collect()
    ]
    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    want = _reference_bpe(counts, 8)
    assert got == want
    assert len(got) == 8  # corpus supports all 8 rounds


def test_bpe_learn_merges_stops_below_min_count(spark):
    from pipes_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame([("ab cd",)], "text string")  # every pair count 1
    got = bpe_learn_merges(df, "text", n_merges=5, min_pair_count=2).collect()
    assert got == []


def test_bpe_segment_applies_learned_merges(spark):
    from pipes_spark.operators.text import bpe_learn_merges, bpe_segment

    texts = ["low low lower", "newest newest widest", "low newest"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = [
        (r["left"], r["right"])
        for r in bpe_learn_merges(df, "text", n_merges=6).orderBy("rank").collect()
    ]
    out = bpe_segment(df, merges, "text").collect()
    for row in out:
        # every </w>-terminated token group reassembles the original words
        rebuilt, cur = [], ""
        for tok in row["bpe_tokens"]:
            cur += tok
            if cur.endswith("</w>"):
                rebuilt.append(cur[: -len("</w>")])
                cur = ""
        assert cur == ""  # every word closed
        assert rebuilt == [w for w in row["text"].lower().split() if w]
    # hot path sanity: the most frequent word must have been compressed
    # below its character length by the learned merges
    low_row = next(r for r in out if r["text"] == "low newest")
    n_low_tokens = 0
    for tok in low_row["bpe_tokens"]:
        n_low_tokens += 1
        if tok.endswith("</w>"):
            break
    assert n_low_tokens < len("low") + 1


@pytest.mark.parametrize(
    "row_fn, expected",
    [
        # 1→0 inside a NON-empty batch: odd ids emit nothing
        (lambda aid, n: [(aid, n)] if aid % 2 == 0 else [], [(0, 0), (2, 2), (4, 1)]),
        # 1→N with a null in a bigint column: values past 2^53 stay exact
        (
            lambda aid, n: [(aid, k * 2**60 + aid if k else None) for k in range(n)],
            [(1, None), (2, None), (2, 2**60 + 2), (4, None), (5, None), (5, 2**60 + 5)],
        ),
        # every row → 0: the batch is emitted empty but typed
        (lambda aid, n: [], []),
    ],
    ids=["one_to_zero", "one_to_n_nulls", "all_empty"],
)
def test_map_rows_row_contract(spark, row_fn, expected):
    """``_map_rows`` — the plumbing under every per-row codec wrapper —
    turns each input row into the 0..n tuples its kernel returns."""
    from pipes_spark.operators.multimodal import _map_rows

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(6)], "asset_id bigint, n int"
    ).coalesce(1)  # one batch holding kept AND dropped rows
    out = _map_rows(df, ["asset_id", "n", None], row_fn, "asset_id bigint, v bigint")
    assert out.schema.simpleString() == "struct<asset_id:bigint,v:bigint>"

    def key(r):
        return r[0], r[1] is not None, r[1] or 0

    assert sorted(((r.asset_id, r.v) for r in out.collect()), key=key) == expected


def test_shipped_package_zip_lives_in_spark_driver_dir(spark):
    """The package zip handed to addPyFile sits under the driver's
    SparkFiles root — the directory Spark deletes when the SparkContext
    stops — not in the system temp directory, where one zip per driver
    process used to pile up."""
    import os
    import tempfile

    from pyspark import SparkFiles

    from pipes_spark.operators.multimodal import _ship_package

    _ship_package(spark)
    root = SparkFiles.getRootDirectory()
    driver_tmp = spark._jvm.org.apache.spark.SparkEnv.get().driverTmpDir().get()
    assert os.path.realpath(root) == os.path.realpath(driver_tmp)
    assert os.path.isfile(os.path.join(root, "pipes_spark_src", "pipes_spark_pkg.zip"))
    assert not os.path.exists(
        os.path.join(tempfile.gettempdir(), f"pipes_spark_pkg_{os.getpid()}.zip")
    )
