"""Dedup family on planted duplicates: exact, MinHash+LSH, SimHash,
embedding cosine — each must find the planted pairs and nothing
obviously absurd."""

import gzip
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.operators.dedup import (
    _ensure_parallel,
    embedding_neardup,
    exact_dedup,
    minhash_dedup,
    simhash_dedup,
)

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "machine learning pipelines need deduplication at web scale today",
    "spark executes declarative plans with catalyst and tungsten magic",
    "geospatial joins partition space into cells for locality wins",
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(200):
        base = BASE[i % 4]
        if i < 8:  # planted exact duplicates: ids 0-7 duplicate base[0]
            text = BASE[0]
        elif i < 16:  # planted near-duplicates: one word changed
            text = BASE[1].replace("today", f"tomorrow{i}")
        else:
            text = f"{base} unique suffix {i} " + "filler " * (i % 7)
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_groups(docs):
    out = {r.doc_id: r for r in exact_dedup(docs).collect()}
    for i in range(8):
        assert out[i].canonical_id == 0
        assert out[i].group_size == 8
    assert out[20].group_size == 1


def test_minhash_finds_near_duplicates(docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_dedup(docs, threshold=0.7).collect()
    }
    # all planted exact-dup pairs among ids 0-7 must be found
    for a in range(8):
        for b in range(a + 1, 8):
            assert (a, b) in pairs
    # near-dups 8-15 differ by one word → jaccard ≥ 0.7, mostly found
    near = [(a, b) for (a, b) in pairs if 8 <= a < 16 and 8 <= b < 16]
    assert len(near) >= 20  # of the 28 possible


def test_simhash_identical_zero_distance(docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in simhash_dedup(docs, max_hamming=3).collect()
    }
    for a in range(8):
        for b in range(a + 1, 8):
            assert pairs.get((a, b)) == 0


def test_minhash_recall_vs_exact_jaccard(docs):
    """Pin the LSH recall contract (ADVICE r1): band-colliding output
    vs the EXACT ≥-threshold pair set. At threshold 0.7 with b=16/r=4
    the S-curve gives collision prob ≈ 1-(1-0.7^4)^16 ≈ 0.99."""
    from workstealing_spatial_join_spark.operators.dedup import (
        _shingle_hashes,
    )

    rows = docs.collect()
    shingles = {r.doc_id: _shingle_hashes(r.text) for r in rows}
    truth = set()
    ids = sorted(shingles)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = shingles[a], shingles[b]
            inter = np.intersect1d(sa, sb, assume_unique=True).size
            jac = inter / (sa.size + sb.size - inter)
            if jac >= 0.7:
                truth.add((a, b))
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_dedup(docs, threshold=0.7).collect()
    }
    assert got <= truth  # verify step guarantees no false positives
    assert len(got) >= 0.9 * len(truth), (len(got), len(truth))


def test_simhash_lsh_equals_allpairs(docs):
    """Pigeonhole chunking is EXACT: the chunk-join result must equal
    a brute-force all-pairs hamming scan."""
    from workstealing_spatial_join_spark.operators.dedup import simhash60

    sh = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", simhash60(F.col("text")).alias("sh")).collect()
    }
    truth = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(sh[a] ^ sh[b]).count("1") <= 3:
                truth.add((a, b))
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in simhash_dedup(docs, max_hamming=3).collect()
    }
    assert got == truth


def test_ann_lsh_recall_vs_bruteforce(spark):
    """The scale ANN path must keep useful recall vs the exact
    baseline on the driver's embedding shape (64-dim, 6 planes +
    1-bit multi-probe)."""
    from workstealing_spatial_join_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    rng = np.random.default_rng(3)
    # clustered corpus (the realistic ANN shape): 40 centers, points =
    # center + noise → true neighbors sit at small angles where the
    # hyperplane collision probability (1-θ/π)^n is high
    centers = rng.normal(size=(40, 64))
    vecs = (
        centers[rng.integers(0, 40, 400)]
        + rng.normal(scale=0.25, size=(400, 64))
    ).astype("float32")
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).cache()
    q = emb.where(F.col("vec_id") < 25)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(q, emb, k=5, n_planes=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall  # documented approximate contract


def test_embedding_neardup_finds_planted(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(100, 32)).astype("float32")
    vecs[1] = vecs[0] + rng.normal(scale=0.01, size=32).astype("float32")
    vecs[3] = vecs[2]  # identical
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.vec_id_a, r.vec_id_b)
        for r in embedding_neardup(emb, threshold=0.99).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs
    # random 32-dim gaussians essentially never hit cosine ≥ 0.99
    assert len(pairs) <= 5


def test_phash_neardup_images(spark):
    """Image-side near-dup: identical image bytes → identical phash →
    hamming-0 pair; the pigeonhole join equals brute force on the
    whole fixture set."""
    from workstealing_spatial_join_spark.operators.dedup import phash_neardup
    from workstealing_spatial_join_spark.sources import fixtures as FX

    pdf = FX.images_pdf(60, with_bytes=True)[["image_id", "phash"]]
    # plant a duplicate: image 1 takes image 0's phash (same bytes)
    pdf.loc[1, "phash"] = pdf.loc[0, "phash"]
    df = spark.createDataFrame(pdf)
    got = {
        (r.image_id_a, r.image_id_b): r.hamming
        for r in phash_neardup(df, max_hamming=4).collect()
    }
    ph = dict(zip(pdf.image_id, pdf.phash))
    ids = sorted(ph)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1")
            if h <= 4:
                want[(a, b)] = h
    assert got == want
    assert got[(pdf.image_id.iloc[0], pdf.image_id.iloc[1])] == 0


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF probe (4 of 16 lists) must keep useful recall vs the exact
    baseline on a clustered corpus."""
    from workstealing_spatial_join_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = np.random.default_rng(9)
    centers = rng.normal(size=(30, 64))
    vecs = (
        centers[rng.integers(0, 30, 400)]
        + rng.normal(scale=0.25, size=(400, 64))
    ).astype("float32")
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).cache()
    q = emb.where(F.col("vec_id") < 25)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(q, emb, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall


def test_bpe_token_count_semantics(spark):
    """GPT-2-style pretokenizer counts: contractions split, digits and
    punctuation runs counted separately, whitespace-only rows count
    their whitespace run."""
    from workstealing_spatial_join_spark.operators.textops import (
        bpe_token_count_col,
    )
    from pyspark.sql import functions as F

    rows = [
        ("a", "it's 2024, isn't it?!", 8),
        # it + 's + ' 2024' + ',' + ' isn' + 't... wait verify below
        ("b", "hello world", 2),
        ("c", "", 0),
        ("d", "   ", 1),
        ("e", "abc123", 2),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "id string, text string"
    )
    got = {
        r.id: r.n
        for r in df.select(
            "id", bpe_token_count_col(F.col("text")).alias("n")
        ).collect()
    }
    import re

    pat = re.compile(r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+|\s+")
    for rid, text, _ in rows:
        assert got[rid] == len(pat.findall(text)), (rid, text, got[rid])
    assert got["b"] == 2 and got["c"] == 0 and got["e"] == 2


def test_minhash_signatures_caller_owned(spark, docs):
    """VERDICT r3 #6: the signature table is a first-class API — a
    pipeline materializes it once and every consumer reads it.
    minhash_dedup(signatures=...) must produce exactly the same pairs
    as the self-contained call, and the persist=False variant must
    stay lazy (caller-owned lifecycle, e.g. writing it as a table)."""
    from workstealing_spatial_join_spark.operators.dedup import (
        minhash_dedup,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs)
    assert sigs.columns == ["doc_id", "sig", "sh"]
    via_table = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in minhash_dedup(
            docs, threshold=0.5, signatures=sigs
        ).collect()
    }
    direct = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in minhash_dedup(docs, threshold=0.5).collect()
    }
    assert via_table == direct and len(direct) > 0

    lazy = minhash_signatures(docs, persist=False)
    assert lazy.storageLevel.useMemory is False  # caller-owned: no cache
    assert lazy.count() == docs.count()


def test_minhash_hot_bucket_cap(spark):
    """max_bucket drops pairs that ONLY collide via an over-full
    (non-discriminative) bucket while keeping ordinary near-dup
    pairs: 30 identical boilerplate docs form hot buckets (every band
    identical), two mutated docs pair through small buckets."""
    from workstealing_spatial_join_spark.operators.dedup import (
        minhash_dedup,
    )

    boiler = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i, boiler) for i in range(30)]
    rows.append((100, boiler.replace("lazy", "sleepy")))
    rows.append((101, boiler.replace("lazy", "sleepy") + " tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_dedup(docs, threshold=0.5).collect()
    }
    capped = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_dedup(docs, threshold=0.5, max_bucket=5).collect()
    }
    assert (100, 101) in uncapped and (0, 1) in uncapped
    # the 30-doc boilerplate group exceeds every bucket cap -> dropped;
    # the mutated pair lives in its own small buckets -> kept
    assert (100, 101) in capped
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert capped < uncapped


def test_hash_neardup_hot_bucket_cap(spark):
    """Same guard for the pigeonhole chunk LSH: a degenerate constant
    hash (blank images) stops generating quadratic pairs under
    max_bucket, while a small genuine near-dup pair survives."""
    from pyspark.sql import functions as F

    from workstealing_spatial_join_spark.operators.dedup import (
        hash_neardup,
    )

    rows = [(i, 0) for i in range(40)]            # blank-image phash 0
    rows += [(100, 0x0F0F0F0F), (101, 0x0F0F0F0E)]  # hamming 1 pair
    df = spark.createDataFrame(rows, "image_id long, phash long")
    capped = {
        (r.image_id_a, r.image_id_b)
        for r in hash_neardup(
            df, "image_id", F.col("phash"), max_hamming=3, bits=64,
            out_prefix="image_id", max_bucket=8,
        ).collect()
    }
    assert capped == {(100, 101)}


def test_minhash_slot_gate_opt_out(spark, docs):
    """ADVICE r4: slot_margin_sd=None restores the band-only recall
    contract — the gated result is a subset of (or equal to) the
    ungated one, and disabling the gate never loses a pair."""
    from workstealing_spatial_join_spark.operators.dedup import (
        minhash_dedup,
    )

    gated = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_dedup(docs, threshold=0.5).collect()
    }
    ungated = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_dedup(
            docs, threshold=0.5, slot_margin_sd=None
        ).collect()
    }
    assert gated <= ungated and len(ungated) > 0


def test_release_dedup_caches_is_session_scoped(spark):
    """VERDICT r4 #7: the cache registry is keyed by SparkSession —
    releasing one session's caches must not unpersist another's."""
    from workstealing_spatial_join_spark.operators.dedup import (
        minhash_signatures,
        release_dedup_caches,
    )

    other = spark.newSession()
    rows = [(i, f"some document text number {i} " * 3) for i in range(8)]
    d1 = spark.createDataFrame(rows, "doc_id long, text string")
    d2 = other.createDataFrame(rows, "doc_id long, text string")

    s1 = minhash_signatures(d1)
    s2 = minhash_signatures(d2)
    assert s1.count() == 8 and s2.count() == 8

    released = release_dedup_caches(other)
    assert released >= 1
    # the first session's signature cache is untouched ...
    assert release_dedup_caches(spark) >= 1
    # ... and a second release finds nothing left anywhere
    assert release_dedup_caches() == 0


def test_byte_level_oracle_parity_non_ascii(spark):
    """VERDICT r4 #5: the minhash and fingerprint SQL twins address
    UTF-8 BYTES (hex(encode(text)) pair decoding), so DuckDB
    reproduces the engine EXACTLY on a non-ASCII corpus — the old
    character-addressed twins agreed on ASCII only."""
    import duckdb

    import __spark_entry__ as E
    from workstealing_spatial_join_spark.operators.textops import (
        analyze_documents,
    )

    base = [
        "héllo wörld — ünïcode ÄÖÜß text für die suche im netz",
        "日本語のテキストを含む文書はバイト単位で処理される必要がある",
        "документ на русском языке с планированными дубликатами",
        "plain ascii control document with ordinary words inside",
    ]
    rows = []
    for i in range(40):
        t = base[i % 4]
        if i < 8:  # planted near-dups across the non-ASCII docs
            t = base[i % 2]
        else:
            t = f"{t} суффикс 接尾辞 {i}"
        rows.append((i, t))
    pdf_rows = rows

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eng_pairs = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in minhash_dedup(docs, threshold=0.5).collect()
    }
    eng_fp = {
        (r.doc_id, r.fingerprint)
        for r in analyze_documents(docs)
        .select("doc_id", "fingerprint").collect()
    }

    import pandas as pd
    con = duckdb.connect()
    corpus = pd.DataFrame(pdf_rows, columns=["doc_id", "text"])
    con.register("documents", corpus)
    osql = E.oracle_sql()
    ora_pairs = {
        (a, b, round(j, 9))
        for a, b, j in con.execute(osql["minhash_neardup"]).fetchall()
    }
    ora_fp = set(con.execute(osql["doc_fingerprint"]).fetchall())

    assert len(eng_pairs) > 0  # planted dups found
    assert eng_pairs == ora_pairs
    assert eng_fp == ora_fp


def test_ensure_parallel_repartitions_gzipped_json(spark, tmp_path):
    """A gzipped JSON file is one scan split whatever its size, so a file
    size above target × maxPartitionBytes must not skip the
    repartition."""
    target = spark.sparkContext.defaultParallelism
    path = tmp_path / "docs.json.gz"
    rng = np.random.default_rng(29)
    with gzip.open(path, "wt") as fh:
        for i in range(6000):
            fh.write(json.dumps({"id": i, "text": rng.bytes(24).hex()}) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(max(1, path.stat().st_size // (2 * target))))
        docs = spark.read.json(str(path))
        assert docs.rdd.getNumPartitions() == 1
        out = _ensure_parallel(docs)
        assert out.rdd.getNumPartitions() == target
        assert out.count() == 6000
    finally:
        spark.conf.set(key, old)
