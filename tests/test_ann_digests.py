"""Result digests of the similarity operators, pinned on the tests'
embeddings table.

Each case hashes the sorted rows (and column names) of one operator call.
The digests were captured before the top-k operators moved onto shared
candidate / rerank / rank helpers, so any drift in a score, a tie-break,
a candidate set or a column name shows up here as a changed digest.

Index tables (int8 copy, IVF lists, IVFPQ codes) are written under a
temporary directory, never into the shared warehouse.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F


def _norm(v):
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _digest(df) -> str:
    rows = sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)
    return hashlib.sha256(repr((df.columns, rows)).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def ann(spark, sf_dir, tmp_path_factory):
    from pipes_spark.catalog import _emb_meta, _emb_rows
    from pipes_spark.operators import similarity as sim
    from pipes_spark.sources import load_table

    out = tmp_path_factory.mktemp("ann_index")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    q100 = emb.filter(F.col("vec_id") % 100 == 0)
    ids, X = _emb_rows(sf_dir)
    dim, n = _emb_meta(sf_dir)

    def saved(df, name, *part):
        path = str(out / name)
        df.write.partitionBy(*part).parquet(path)
        return spark.read.parquet(path)

    C = sim.fit_ivf_centroids(emb, 16, 42, corpus_rows=(ids, X))
    codebook = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        "list_id int, centroid array<double>",
    )
    # the trainings and index writes are independent small jobs: overlap
    # their per-job latency
    with ThreadPoolExecutor(max_workers=4) as pool:
        books = pool.submit(sim.fit_pq_codebooks, emb, m=8, num_codes=64, iters=5)
        ivfpq = pool.submit(
            sim.fit_ivfpq, emb, num_lists=8, m=8, num_codes=64, iters=5
        )
        ivf_corpus = pool.submit(
            saved, sim.assign_ivf_lists(emb, C), "ivf_corpus", "list_id"
        )
        q8 = pool.submit(saved, sim.quantize_int8(emb), "q8")
        Cq, bq = ivfpq.result()
        ivfpq_codes = pool.submit(
            saved, sim.ivfpq_encode(emb, Cq, bq), "ivfpq_codes", "list_id"
        )
        books = books.result()
    return {
        "sim": sim,
        "dim": {"dim": dim},
        "dn": {"dim": dim, "n_rows": n},
        "emb": emb,
        "q": q,
        "q100": q100,
        "rows": (ids, X),
        "rows_q": (ids[ids < 20], X[ids < 20]),
        "rows_q100": (ids[ids % 100 == 0], X[ids % 100 == 0]),
        "C": C,
        "codebook": codebook,
        "ivf_corpus": ivf_corpus.result(),
        "q8": q8.result(),
        "books": books,
        "pq_codes": sim.pq_encode(emb, books),
        "ivfpq": (Cq, bq),
        "ivfpq_codes": ivfpq_codes.result(),
    }


def _cases():
    def lsh(mp, rows, qid="query_id"):
        return lambda a: a["sim"].lsh_cosine_topk(
            a["emb"], a["q"], k=5, multiprobe=mp, query_id_col=qid,
            query_rows=a["rows_q"] if rows else None, **a["dn"],
        )

    def ivf(method, corpus_rows, query_rows):
        return lambda a: a["sim"].ivf_cosine_topk(
            a["emb"], a["q"], k=5, centroids=method,
            corpus_rows=a["rows"] if corpus_rows else None,
            query_rows=a["rows_q"] if query_rows else None, **a["dn"],
        )

    def indexed(rows, qid="query_id"):
        return lambda a: a["sim"].ivf_cosine_topk_indexed(
            a["codebook"], a["ivf_corpus"], a["q"], k=5, query_id_col=qid,
            codebook_rows=[list(r) for r in a["C"]] if rows else None,
            query_rows=a["rows_q"] if rows else None,
        )

    def quant(table, rows, qid="query_id"):
        return lambda a: a["sim"].quantized_cosine_topk(
            a["emb"], a["q"], k=5, query_id_col=qid,
            quantized_corpus=a["q8"] if table else None,
            query_rows=a["rows_q"] if rows else None, **a["dn"],
        )

    def pq(table, qid="query_id"):
        return lambda a: a["sim"].pq_adc_topk(
            a["emb"], a["q100"], a["books"], k=5, oversample=4, query_id_col=qid,
            encoded_corpus=a["pq_codes"] if table else None, **a["dim"],
        )

    def ivfpq(table, rows, qid="query_id"):
        return lambda a: a["sim"].ivfpq_topk(
            a["emb"], a["q100"], *a["ivfpq"], k=5, n_probe=4, oversample=4,
            query_id_col=qid,
            encoded_corpus=a["ivfpq_codes"] if table else None,
            query_rows=a["rows_q100"] if rows else None, **a["dim"],
        )

    return {
        "cosine_topk": lambda a: a["sim"].cosine_topk(
            a["emb"], a["q"], k=5, **a["dim"]
        ),
        "lsh_mp0": lsh(0, False),
        "lsh_mp0_rows": lsh(0, True),
        "lsh_mp2": lsh(2, False),
        "lsh_mp2_rows": lsh(2, True, "qid"),
        "ivf_sample": ivf("sample", False, False),
        "ivf_sample_rows": ivf("sample", True, True),
        "ivf_kmeans_rows": ivf("kmeans", True, True),
        "ivf_indexed": indexed(False),
        "ivf_indexed_rows": indexed(True, "qid"),
        "quantized": quant(False, False),
        "quantized_table_rows": quant(True, True, "qid"),
        "pq_adc": pq(False),
        "pq_adc_codes": pq(True, "qid"),
        "ivfpq": ivfpq(False, False),
        "ivfpq_codes_rows": ivfpq(True, True, "qid"),
        "neardup_pairs": lambda a: a["sim"].cosine_neardup_pairs(
            a["emb"], threshold=0.3, **a["dim"]
        ),
        "neardup_pairs_tiled": lambda a: a["sim"].cosine_neardup_pairs_tiled(
            a["emb"], threshold=0.3, block_size=128, **a["dn"]
        ),
        "knn_graph": lambda a: a["sim"].knn_graph(
            a["emb"], k=5, floor=0.2, **a["dn"]
        ),
        "hard_negatives": lambda a: a["sim"].hard_negatives(
            a["emb"], k=3, floor=0.2, **a["dn"]
        ),
        "embedding_contamination": lambda a: a["sim"].embedding_contamination(
            a["emb"], a["q"], threshold=0.5, **a["dim"]
        ),
        "assign_ivf_lists": lambda a: a["sim"].assign_ivf_lists(
            a["emb"], a["C"]
        ).select("vec_id", "list_id"),
        "mmr_rerank": lambda a: a["sim"].mmr_rerank(
            a["emb"], a["q"], k=5, pool=20, **a["dim"]
        ),
    }


CASES = _cases()

DIGESTS = {
    "assign_ivf_lists": "239bff44334c841c",
    "cosine_topk": "99a830f41f723584",
    "embedding_contamination": "16a55a50bde0df9d",
    "hard_negatives": "51853269eb5490ef",
    "ivf_indexed": "2cce1cd5bb029975",
    "ivf_indexed_rows": "c0ad729d0e4b943a",
    "ivf_kmeans_rows": "2cce1cd5bb029975",
    "ivf_sample": "1f89e38e31985c75",
    "ivf_sample_rows": "1f89e38e31985c75",
    "ivfpq": "6e79f3b3f171b12e",
    "ivfpq_codes_rows": "d55f64902589306e",
    "knn_graph": "2737df3d2f623c73",
    "lsh_mp0": "d8fe0f64d1fa7223",
    "lsh_mp0_rows": "d8fe0f64d1fa7223",
    "lsh_mp2": "bc035d9591bf49be",
    "lsh_mp2_rows": "647cfef1d2744ba7",
    "mmr_rerank": "6d1a7d40a41fa5aa",
    "neardup_pairs": "f4be39a5634913e6",
    "neardup_pairs_tiled": "f4be39a5634913e6",
    "pq_adc": "b1b3424e0d0e393f",
    "pq_adc_codes": "7ce918cd7d72ab36",
    "quantized": "99a830f41f723584",
    "quantized_table_rows": "cbe9fe98ec4e17bd",
}


@pytest.fixture(scope="module")
def digests(spark, ann):
    """Every case's digest. The cases run four at a time: each is a few
    small Spark jobs whose wall time is mostly per-job latency, which
    concurrent jobs overlap."""
    from pipes_spark.operators.multimodal import _ship_package

    _ship_package(spark)  # once, before threads race to write the zip
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {c: pool.submit(lambda c=c: _digest(CASES[c](ann))) for c in CASES}
        return {c: f.result() for c, f in futures.items()}


@pytest.mark.parametrize("case", sorted(CASES))
def test_ann_digest(digests, case):
    assert digests[case] == DIGESTS[case], case
