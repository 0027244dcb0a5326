"""Tests for the training-data extension operators: dedup, similarity,
text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.extensions.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from trollflow2_spark.extensions.multimodal import (
    attach_fake_media,
    decode_media,
    media_metadata,
)
from trollflow2_spark.extensions.similarity import (
    ann_bucketed_topk,
    brute_force_topk,
)
from trollflow2_spark.extensions.text import lang_id, quality_features


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s1"),  # exact dup
        (3, "the quick brown fox leaps over the lazy dog", "en", "s1"),  # near dup
        (4, "der schnelle braune fuchs springt und springt", "de", "s1"),
        (5, "completely different text about spark engines", "en", "s2"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_exact_dedup(docs):
    out = exact_dedup(docs)
    assert out.count() == 4  # 5 docs, one exact pair
    dup = [r for r in out.collect() if r["n_copies"] == 2][0]
    assert dup["canonical_id"] == 1


def test_minhash_lsh_finds_near_dups(docs):
    sigs = minhash_signatures(docs, shingle_words=2, num_hashes=8)
    assert sigs.count() == 5
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide in every band
    # near-dup (1,3) should collide in at least one band with high prob;
    # unrelated (4,5) must not share all bands
    assert (4, 5) not in got or (1, 3) in got


def test_lsh_salted_degenerate_bucket(spark):
    """A hot template bucket (600 identical docs) is salted into bounded
    sub-buckets: pair generation happens per sub-bucket (so no single
    quadratic task), cross-sub-bucket pairs are the accepted recall
    loss, and the plan shows the round-robin redistribution."""
    n, t = 600, 256
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(n)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, shingle_words=2, num_hashes=8)
    pairs = lsh_candidate_pairs(
        sigs, num_hashes=8, bands=4, salt_threshold=t
    )
    # identical docs -> identical signatures -> every band has the same
    # membership; chunks are 256+256+88 by sorted id
    chunks = [256, 256, 88]
    expected = sum(c * (c - 1) // 2 for c in chunks)
    assert pairs.count() == expected
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan

    from trollflow2_spark.extensions.dedup import lsh_bucket_stats

    stats = lsh_bucket_stats(sigs, num_hashes=8, bands=4, salt_threshold=t).collect()[0]
    assert stats["n_salted"] == 4  # one oversized bucket per band
    assert stats["n_dropped"] == 0
    assert stats["max_bucket_size"] == n


def test_lsh_small_buckets_unchanged_by_salting(docs):
    """Salting must be a no-op below the threshold: same pairs as the
    plain guard path."""
    sigs = minhash_signatures(docs, shingle_words=2, num_hashes=8)
    plain = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, num_hashes=8, bands=4, salt_threshold=1000
        ).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, num_hashes=8, bands=4, salt_threshold=2
        ).collect()
    }
    assert salted <= plain


def test_ivf_topk_recall(spark, sf_dir):
    """The k-means IVF path must recover most of the exact top-k while
    scanning only the probed cells (candidate join is an equi-join on
    the cluster id)."""
    import os

    from trollflow2_spark.extensions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    k = 10
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=k).collect()
    }
    approx_df = ivf_topk(emb, queries, k=k, n_probe=4, n_clusters=8)
    approx = {(r["query_id"], r["vec_id"]) for r in approx_df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    # candidate generation is an equi-join on the cell id, no cartesian
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_kmeans_centroids_deterministic(spark, sf_dir):
    import os

    import numpy as np

    from trollflow2_spark.extensions.similarity import kmeans_centroids

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    c1 = kmeans_centroids(emb, k=4, n_iter=3)
    c2 = kmeans_centroids(emb, k=4, n_iter=3)
    np.testing.assert_array_equal(c1, c2)
    # unit-norm centroids
    np.testing.assert_allclose(np.linalg.norm(c1, axis=1), 1.0, rtol=1e-9)


def test_ngram_jaccard(docs):
    pairs = ngram_jaccard_pairs(
        docs, shingle_words=2, threshold=0.5, block_cols=["lang", "source"]
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got  # 6/10 shared 2-grams
    assert all(j >= 0.5 for j in got.values())


def test_simhash_similar_docs_close(docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[1] == out[2]  # identical text -> identical fingerprint
    ham13 = bin(out[1] ^ out[3]).count("1")
    ham15 = bin(out[1] ^ out[5]).count("1")
    assert ham13 < ham15  # near-dup closer than unrelated


def test_brute_force_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(df, q, k=2)
    got = [(r["vec_id"], r["rank"]) for r in out.collect()]
    assert got[0] == (1, 1)  # most similar first
    assert len(got) == 2


def test_ann_restricts_to_cell(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 0.9, 1.0, 1.0]),
        (2, [-1.0, 1.0, 1.0, 1.0]),  # different sign cell
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_bucketed_topk(df, q, k=5, n_bits=4)
    ids = {r["vec_id"] for r in out.collect()}
    assert ids == {1}  # vec 2 is outside the query's cell


def test_quality_and_lang(docs):
    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stopword_ratio"] > 0
    lang = {r["doc_id"]: r["predicted_lang"] for r in lang_id(docs).collect()}
    assert lang[1] == "en"
    assert lang[4] == "de"


def test_global_shuffle_matches_global_ordinal(spark, sf_dir):
    """The bucketed parallel ordinal must equal the plain global
    row_number over (hash, id) — and be a permutation of 1..N."""
    import os
    from pyspark.sql import Window
    from trollflow2_spark.extensions.sampling import ORD_HASH_MOD, global_shuffle
    from trollflow2_spark.extensions.hashing import hash64

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    got = global_shuffle(docs, seed=17, n_buckets=7)
    h = F.pmod(hash64(F.col("doc_id").cast("string"), seed=17), F.lit(ORD_HASH_MOD))
    want = docs.withColumn(
        "want_pos", F.row_number().over(Window.orderBy(h, F.col("doc_id")))
    )
    diff = got.join(want, "doc_id").filter("shuffle_pos <> want_pos")
    assert diff.count() == 0
    n = docs.count()
    agg = got.agg(F.min("shuffle_pos"), F.max("shuffle_pos"),
                  F.countDistinct("shuffle_pos")).collect()[0]
    assert tuple(agg) == (1, n, n)


def test_write_training_shards_roundtrip(spark, sf_dir, tmp_path):
    """Shards are contiguous, non-overlapping slices of the shuffle
    order, internally sorted, and lossless."""
    import os
    from trollflow2_spark.extensions.sampling import (
        global_shuffle,
        write_training_shards,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    shuffled = global_shuffle(docs)
    n = docs.count()
    manifest_df = write_training_shards(
        shuffled, str(tmp_path / "shards"), n_shards=4
    )
    # manifest comes from footer metadata only: its plan must be a local
    # relation, never a scan over the shard files' data pages
    plan = manifest_df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "parquet" not in plan.lower()
    manifest = manifest_df.collect()
    assert sum(r["n_rows"] for r in manifest) == n
    spans = sorted((r["min_pos"], r["max_pos"]) for r in manifest)
    assert spans[0][0] == 1 and spans[-1][1] == n
    for (lo_a, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert lo_a <= hi_a < lo_b  # non-overlapping, ordered ranges
    # each shard file is internally sorted by position (pyarrow reads
    # preserve physical row order, unlike a Spark scan)
    import glob
    import pyarrow.parquet as pq
    files = glob.glob(str(tmp_path / "shards" / "part-*.parquet"))
    assert len(files) == 4
    for f in files:
        pos = pq.read_table(f, columns=["shuffle_pos"])["shuffle_pos"].to_pylist()
        assert pos == sorted(pos)


def test_footer_manifest_uri_and_empty_path(spark, tmp_path):
    """The footer manifest lists shards through pyarrow.fs, so file://
    URIs (and by the same code path s3/s3a/hdfs) work; an empty or
    nonexistent path raises instead of silently emitting an empty
    manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from trollflow2_spark.extensions.sampling import _parquet_footer_manifest

    d = tmp_path / "shards"
    d.mkdir()
    pq.write_table(
        pa.table({"shuffle_pos": pa.array([1, 2, 3], type=pa.int64())}),
        d / "part-0.parquet",
    )
    for path in [str(d), f"file://{d}"]:
        rows = _parquet_footer_manifest(spark, path, "shuffle_pos").collect()
        assert len(rows) == 1
        assert (rows[0]["n_rows"], rows[0]["min_pos"], rows[0]["max_pos"]) == (
            3, 1, 3,
        )
        assert rows[0]["shard_file"].startswith("file://")
    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(FileNotFoundError):
        _parquet_footer_manifest(spark, str(empty), "shuffle_pos")
    with _pytest.raises(FileNotFoundError):
        _parquet_footer_manifest(spark, str(tmp_path / "missing"), "shuffle_pos")


def test_interleave_sources_stride(spark):
    """Weight-2 source contributes ~2x the weight-1 source in any
    mixture prefix; weight-0 sources are dropped."""
    from trollflow2_spark.extensions.sampling import interleave_sources

    rows = [(i, "a" if i < 40 else ("b" if i < 80 else "c"))
            for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = interleave_sources(df, {"a": 2.0, "b": 1.0, "c": 0.0})
    rows = out.orderBy("mix_key", "source", "doc_id").collect()
    assert all(r["source"] != "c" for r in rows)
    prefix = [r["source"] for r in rows[:30]]
    assert 18 <= prefix.count("a") <= 22  # ~2/3 of any prefix
    # per-source ranks are dense 1..n in hash order
    a_ranks = sorted(r["src_rank"] for r in rows if r["source"] == "a")
    assert a_ranks == list(range(1, 41))


def test_pii_scrub(spark):
    from trollflow2_spark.extensions.text import pii_scrub

    rows = [
        (1, "mail bob.smith+99@corp.example.org now"),
        (2, "server at 192.168.001.042 port open"),
        (3, "dial 555-0142 or 020 7946 for help"),
        (4, "clean text no pii here"),
        (5, "x@y.io and 10.0.0.1 and 555-0100"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["scrubbed"] == "mail [EMAIL] now"
    # dotted digits are IPs, not phones — staged counts don't double-count
    assert got[2]["n_ipv4"] == 1 and got[2]["n_phone"] == 0
    assert got[2]["scrubbed"] == "server at [IP] port open"
    assert got[3]["n_phone"] == 2
    assert got[3]["scrubbed"] == "dial [PHONE] or [PHONE] for help"
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (0, 0, 0)
    assert got[4]["scrubbed"] == "clean text no pii here"
    assert (got[5]["n_email"], got[5]["n_ipv4"], got[5]["n_phone"]) == (1, 1, 1)
    assert got[5]["scrubbed"] == "[EMAIL] and [IP] and [PHONE]"


def test_pii_scrub_matches_python_re(spark):
    """Java-regex (Spark) and python-re replays of PII_RULES agree on
    adversarial inputs — the patterns stay in the dialect-portable
    subset."""
    import re as _re

    from trollflow2_spark.extensions.text import PII_RULES, pii_scrub

    cases = [
        "a+b.c_d%e@sub.domain.co.uk trailing",
        "no-tld a@b stays",
        "999.999.999.999 still ip-shaped",
        "1.2.3.4.5 five octets",
        "v1.2.3.4 version-prefixed",
        "555-0142x 555 0142 555.0142",
        "email@ip 1.2.3.4@host.com mix",
        "dots..everywhere..5..6",
        "",
        "ip 10.0.0.1.",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    for i, text in enumerate(cases):
        s = text
        counts = {}
        for name, pat, token in PII_RULES:
            counts[name] = len(_re.findall(pat, s))
            s = _re.sub(pat, lambda _m, t=token: t, s)
        assert got[i]["scrubbed"] == s, (text, got[i]["scrubbed"], s)
        for name, _, _ in PII_RULES:
            assert got[i][f"n_{name}"] == counts[name], (text, name)


def test_multimodal_plumbing(spark, docs):
    media = attach_fake_media(docs)
    meta = {r["doc_id"]: r for r in media_metadata(media).collect()}
    assert meta[1]["n_bytes"] == len(
        "the quick brown fox jumps over the lazy dog".encode()
    )
    assert 16 <= meta[1]["width"] < 1040
    # fake decoder exercises the real mapInPandas path
    feats = {r["doc_id"]: r for r in decode_media(media, fake=True).collect()}
    assert feats[1]["n_bytes"] == meta[1]["n_bytes"]
    assert 0 < feats[1]["mean_byte"] < 255
    # the non-fake path is a clearly-marked stub for non-PNG types
    with pytest.raises(Exception):
        decode_media(media, fake=False).collect()


def test_decode_media_real_png_route(spark):
    """image/png rows are REALLY decoded (repo's stdlib decoder) while
    other types fall back to byte stats in the same batch."""
    import numpy as np
    import pandas as pd

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.sinks.imagery import encode_png

    px = np.arange(12, dtype=np.uint8).reshape(3, 4) * 10
    png = encode_png(px)
    rows = [
        (1, bytearray(png), {"media_type": "image/png", "width": 4,
                             "height": 3, "n_bytes": len(png)}),
        (2, bytearray(b"abc"), {"media_type": "audio/fake", "width": 0,
                                "height": 0, "n_bytes": 3}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in decode_media(df, fake=True).collect()}
    assert got[1]["width"] == 4 and got[1]["height"] == 3
    assert got[1]["n_channels"] == 1
    assert got[1]["n_bytes"] == 12  # decoded pixel count, not blob size
    assert got[1]["max_byte"] == 110
    assert got[1]["mean_byte"] == pytest.approx(float(px.mean()))
    # fake row: byte statistics, NULL dimensions
    assert got[2]["n_bytes"] == 3 and got[2]["width"] is None
    # all-PNG input works without fake=True (real decoder, no stub hit)
    real = decode_media(df.filter("doc_id = 1"), fake=False).collect()
    assert real[0]["max_byte"] == 110


def test_resize_media_real_png_route(spark):
    """image/png rows are REALLY resized (decode -> nearest-neighbor
    sample -> re-encode) while other types keep the metadata-only stub
    in the same batch."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import resize_media
    from trollflow2_spark.sinks.imagery import decode_png, encode_png

    px = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    png = encode_png(px)
    rows = [
        (1, bytearray(png), {"media_type": "image/png", "width": 8,
                             "height": 8, "n_bytes": len(png)}),
        (2, bytearray(b"abcdefgh"), {"media_type": "audio/fake", "width": 4,
                                     "height": 4, "n_bytes": 8}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in resize_media(df, target=(4, 4), fake=True).collect()}
    out = decode_png(bytes(got[1]["media"]))
    # nearest-neighbor index sampling: rows/cols 0,2,4,6 of the source
    expected = px[np.ix_([0, 2, 4, 6], [0, 2, 4, 6])]
    assert out.shape == (4, 4)
    assert (out == expected).all()
    assert got[1]["media_meta"]["width"] == 4
    assert got[1]["media_meta"]["n_bytes"] == len(bytes(got[1]["media"]))
    # non-PNG row keeps the deterministic truncation stub
    assert got[2]["media_meta"]["media_type"] == "audio/fake"
    assert len(bytes(got[2]["media"])) == got[2]["media_meta"]["n_bytes"]
    # all-PNG input works without fake=True (real path, no stub hit)
    real = resize_media(df.filter("doc_id = 1"), target=(2, 2), fake=False).collect()
    assert decode_png(bytes(real[0]["media"])).shape == (2, 2)
    # corrupt PNG: on_error='null' quarantines as a NULL media row
    broken = spark.createDataFrame(
        [(9, bytearray(png[:20]), {"media_type": "image/png", "width": 8,
                                   "height": 8, "n_bytes": 20})],
        df.schema,
    )
    q = resize_media(broken, target=(2, 2), on_error="null").collect()
    assert q[0]["media"] is None and q[0]["media_meta"] is None


def test_decode_media_quarantines_corrupt_blobs(spark):
    """on_error='null': a corrupt PNG yields a NULL-feature row instead
    of killing the job; on_error='raise' still fails fast."""
    import numpy as np
    import pytest as _pytest

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.sinks.imagery import encode_png

    px = np.arange(12, dtype=np.uint8).reshape(3, 4)
    good = encode_png(px)
    bad = good[:20]  # truncated mid-header
    rows = [
        (1, bytearray(good), {"media_type": "image/png", "width": 4,
                              "height": 3, "n_bytes": len(good)}),
        (2, bytearray(bad), {"media_type": "image/png", "width": 4,
                             "height": 3, "n_bytes": len(bad)}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in decode_media(df, on_error="null").collect()}
    assert got[1]["n_bytes"] == 12 and got[1]["width"] == 4
    assert got[2]["n_bytes"] is None and got[2]["mean_byte"] is None
    assert got[2]["width"] is None
    with _pytest.raises(Exception):
        decode_media(df, on_error="raise").collect()
    with _pytest.raises(ValueError):
        decode_media(df, on_error="typo")


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    import os
    from pyspark.sql import functions as F
    from trollflow2_spark.extensions.multimodal import (
        attach_fake_media,
        decode_media,
        frame_sample,
        resize_media,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(20)
    media = attach_fake_media(docs)

    resized = resize_media(media, target=(32, 32), fake=True)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(r["media_meta"]["width"] == 32 for r in rows)
    assert all(r["media_meta"]["n_bytes"] == len(r["media"]) for r in rows)

    frames = frame_sample(media, every_n_bytes=50, fake=True)
    fdf = frames.groupBy("doc_id").count()
    assert fdf.count() == 20  # every doc produced >=1 frame row
    # fan-out shape: at least one doc yields multiple frames
    assert fdf.agg(F.max("count")).collect()[0][0] >= 2

    decoded = decode_media(media, fake=True).collect()
    assert len(decoded) == 20
    assert all(0 <= r["mean_byte"] <= 255 for r in decoded)


def test_multimodal_stub_raises_without_fake(spark, sf_dir):
    import os
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException
    from trollflow2_spark.extensions.multimodal import attach_fake_media, resize_media

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(2)
    with _pytest.raises((PythonException, Py4JJavaError)):
        resize_media(attach_fake_media(docs), fake=False).collect()


def test_fast_hash_mode_same_dups_no_md5(docs):
    """The injectable xxhash64 path must find the same exact-dup
    collisions as the portable hash and keep md5 out of the plan."""
    from trollflow2_spark.extensions.hashing import fast_hash64

    sigs = minhash_signatures(docs, shingle_words=2, num_hashes=8, hash_fn=fast_hash64)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, bands=4, hash_fn=fast_hash64)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs collide under any hash family
    # _bucketed_pairs checkpoints the bucket arrays (r15), truncating
    # pairs' lineage to a LogicalRDD — inspect the hash family on the
    # banding stage that actually computes it (everything upstream of
    # the checkpoint), which is where an md5 would have to live
    from trollflow2_spark.extensions.dedup import _band_buckets

    plan = (
        _band_buckets(sigs, "doc_id", 8, 4, hash_fn=fast_hash64)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "md5" not in plan and "xxhash64" in plan

    sim = simhash(docs, hash_fn=fast_hash64)
    assert sim.count() == 5
    rows = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert rows[1] == rows[2]  # identical text -> identical fingerprint


def test_deterministic_split_fractions_and_stability(spark):
    from trollflow2_spark.extensions.sampling import deterministic_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = deterministic_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03  # exact-in-expectation
    # stability: same ids -> same assignment, independent of partitioning
    again = deterministic_split(
        df.repartition(17), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b


def test_stratified_sample_rates(spark):
    from trollflow2_spark.extensions.sampling import stratified_sample
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 4000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"))
    )
    out = stratified_sample(df, {"a": 0.25, "b": 0.0}, default_rate=1.0)
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert "b" not in counts  # rate 0 drops the stratum entirely
    assert abs(counts["a"] / 2000 - 0.25) < 0.05


def test_pack_sequences_budget_property(spark):
    from trollflow2_spark.extensions.sampling import pack_sequences
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", (F.col("doc_id") % 90 + 10).cast("bigint"))
    )
    out = pack_sequences(df, budget=500, n_shards=4).collect()
    assert len(out) == 1000
    # every bin's token total stays under budget + max doc size (spill
    # semantics), and bins are dense per shard starting at 0
    from collections import defaultdict

    bins = defaultdict(int)
    for r in out:
        bins[(r["shard"], r["bin"])] += r["n_tokens"]
    assert all(total < 500 + 99 for total in bins.values())
    for shard in {r["shard"] for r in out}:
        ids = sorted(b for s, b in bins if s == shard)
        assert ids[0] == 0 and ids == list(range(len(ids)))


def test_contamination_detects_planted_leak(spark):
    from trollflow2_spark.extensions.contamination import (
        contamination_scores,
        exact_overlap,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),  # verbatim copy of held-out doc 101
            (2, "totally unrelated words about engines and turbines and parquet"),
        ],
        ["doc_id", "text"],
    )
    held = spark.createDataFrame(
        [
            (101, "  ALPHA bravo charlie delta echo foxtrot golf hotel india "
                  "juliet kilo lima mike november oscar papa "),  # ws/case noise
            (102, "clean evaluation text nothing shared with the training set "
                  "at all in any shingle of eight words"),
        ],
        ["doc_id", "text"],
    )
    exact = exact_overlap(corpus, held).collect()
    assert [r["doc_id"] for r in exact] == [101]  # normalization catches it

    scores = {
        r["doc_id"]: r["contamination"]
        for r in contamination_scores(corpus, held, shingle_words=8).collect()
    }
    assert scores[102] == 0.0
    # doc 101 differs only in case/whitespace; shingles are case-sensitive
    # by design (exact_overlap handles normalization), so plant an exact
    # shingle match too
    held2 = spark.createDataFrame([(201, base + " quebec romeo")], ["doc_id", "text"])
    s2 = contamination_scores(corpus, held2, shingle_words=8).collect()[0]
    assert s2["n_matched"] > 0 and 0.0 < s2["contamination"] <= 1.0


def test_repetition_features_flags_boilerplate(spark):
    from trollflow2_spark.extensions.text import repetition_features

    rows = [
        (1, "buy now\nbuy now\nbuy now\nlimited offer"),  # 3/4 dup lines
        (2, "each line here\nis totally different\nfrom the others"),
        (3, "spam spam spam spam spam spam"),  # one bigram dominates
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == 0.5  # 4 lines, 2 distinct
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 1.0  # every bigram is "spam spam"
    assert got[2]["top_bigram_frac"] < 0.5


def test_decode_media_real_wav_route(spark):
    """audio/wav rows decode through the stdlib wave module — sample
    stats, rate/frames/channels — alongside png and fake rows in one
    batch."""
    import io
    import wave

    import numpy as np

    from trollflow2_spark.extensions.multimodal import decode_media

    samples = np.array([-100, 0, 100, 50], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(samples.tobytes())  # 2 frames x 2 channels
    rows = [
        (1, bytearray(buf.getvalue()),
         {"media_type": "audio/wav", "width": 0, "height": 0, "n_bytes": 0}),
        (2, bytearray(b"xyz"),
         {"media_type": "video/fake", "width": 0, "height": 0, "n_bytes": 3}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in decode_media(df, fake=True).collect()}
    wav = got[1]
    assert wav["n_bytes"] == 4  # total samples across channels
    assert wav["max_byte"] == 100
    assert wav["mean_byte"] == pytest.approx(12.5)
    assert wav["width"] == 16000 and wav["height"] == 2 and wav["n_channels"] == 2
    assert got[2]["width"] is None  # fake stays dimension-less


def test_ngram_contract_queries_use_lsh_candidates(spark, sf_dir):
    """Plan pin: the benched n-gram verify contract queries must consume
    LSH candidate pairs, never the quadratic within-block (lang, source)
    self-join — no Join node in either plan may key on the block
    columns, and the candidate equi-join on (id_a, id_b) must appear."""
    from trollflow2_spark.queries import (
        q_ngram_containment_pairs,
        q_ngram_jaccard_pairs,
    )

    for q in (q_ngram_jaccard_pairs, q_ngram_containment_pairs):
        plan = q(spark, sf_dir)._jdf.queryExecution().toString()
        join_lines = [l for l in plan.splitlines() if "Join" in l]
        assert join_lines, "expected joins in the verify plan"
        assert not any("lang" in l or "source" in l for l in join_lines), (
            "blocking self-join leaked back into the contract plan"
        )
        assert any("id_a" in l for l in join_lines)


def test_simhash_pairs_hamming_bands(spark):
    """Identical docs pair at hamming 0; a one-word edit stays within
    the banding's guaranteed-recall zone; unrelated text does not pair
    at a tight hamming gate."""
    from trollflow2_spark.extensions.dedup import simhash, simhash_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (4, "completely unrelated prose discussing distributed query engines"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = simhash(docs, bits=32)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(fp, bits=32, bands=4, max_hamming=8).collect()
    }
    assert got[(1, 2)] == 0  # exact dup: zero hamming distance
    assert (1, 3) in got and got[(1, 3)] > 0  # one appended word: near dup
    assert (1, 4) not in got and (2, 4) not in got


def test_simhash_pairs_salted_hot_bucket(spark):
    """The shared bucket guards apply to the simhash tier too: a hot
    template bucket is salted into sub-buckets (pairs bounded per task,
    cross-sub-bucket recall loss accepted), and oversized buckets drop."""
    from trollflow2_spark.extensions.dedup import simhash_pairs

    fp = spark.createDataFrame(
        [(i, 0) for i in range(40)] + [(100, 7), (101, 7)],
        ["doc_id", "simhash"],
    )
    salted = simhash_pairs(fp, bands=4, max_hamming=32, salt_threshold=10)
    got = {(r["id_a"], r["id_b"]) for r in salted.collect()}
    assert (100, 101) in got  # small bucket unaffected
    n_hot = len([p for p in got if p[0] < 100])
    assert 0 < n_hot < 40 * 39 // 2  # salted: fewer than all-pairs
    dropped = simhash_pairs(fp, bands=4, max_hamming=32, max_bucket=10)
    got_d = {(r["id_a"], r["id_b"]) for r in dropped.collect()}
    assert (100, 101) in got_d and not any(p[0] < 100 for p in got_d)


def test_decode_media_real_tiff_route(spark):
    """image/tiff decodes through the repo's stdlib GeoTIFF codec: pixel
    stats come from the actual inflated page-0 strips (deflate), and
    overview pages do not contaminate the statistics."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.sinks.imagery import block_mean_2d, encode_geotiff

    base = np.arange(48, dtype=np.uint8).reshape(6, 8) * 5
    with_ov = encode_geotiff(
        base, compress="DEFLATE", overviews=[block_mean_2d(base, 2)]
    )
    plain = encode_geotiff(np.full((3, 4), 7, dtype=np.uint8))
    rows = [
        (1, bytearray(with_ov),
         {"media_type": "image/tiff", "width": 8, "height": 6,
          "n_bytes": len(with_ov)}),
        (2, bytearray(plain),
         {"media_type": "image/tiff", "width": 4, "height": 3,
          "n_bytes": len(plain)}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in decode_media(df).collect()}
    assert got[1]["n_bytes"] == 48  # page 0 only, not page 0 + overview
    assert got[1]["mean_byte"] == pytest.approx(float(base.mean()))
    assert got[1]["max_byte"] == int(base.max())
    assert (got[1]["width"], got[1]["height"], got[1]["n_channels"]) == (8, 6, 1)
    assert got[2]["mean_byte"] == 7.0 and got[2]["width"] == 4


def test_resize_media_real_tiff_route(spark):
    """image/tiff resizes for real: decode -> nearest-sample -> re-encode
    as a single-page TIFF that round-trips through the codec."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import resize_media
    from trollflow2_spark.sinks.imagery import decode_geotiff, encode_geotiff

    base = np.arange(64, dtype=np.uint8).reshape(8, 8)
    blob = encode_geotiff(base, compress="DEFLATE")
    df = spark.createDataFrame(
        [(1, bytearray(blob),
          {"media_type": "image/tiff", "width": 8, "height": 8,
           "n_bytes": len(blob)})],
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    row = resize_media(df, target=(4, 4)).collect()[0]
    assert row["media_meta"]["media_type"] == "image/tiff"
    assert (row["media_meta"]["width"], row["media_meta"]["height"]) == (4, 4)
    pages, _tags = decode_geotiff(bytes(row["media"]))
    assert len(pages) == 1 and pages[0].shape == (4, 4)
    # nearest-neighbor sample: rows/cols 0,2,4,6 of the 8x8 ramp
    assert (pages[0] == base[::2, ::2]).all()


def test_corpus_stats_approx_default_close_to_exact(spark, sf_dir):
    """The default percentile mode is the approx sketch (100 TB form);
    at high accuracy it must sit within a tight tolerance of the exact
    percentiles, and the non-percentile columns must match exactly."""
    import os

    from trollflow2_spark.extensions.text import corpus_stats

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    exact = {r["source"]: r for r in corpus_stats(docs, percentile_mode="exact").collect()}
    approx = {r["source"]: r for r in corpus_stats(docs).collect()}
    assert set(exact) == set(approx)
    for src, e in exact.items():
        a = approx[src]
        assert (a["n_docs"], a["total_size"], a["mean_size"]) == (
            e["n_docs"], e["total_size"], e["mean_size"],
        )
        for col in ("p50_size", "p90_size", "p99_size"):
            # approx_percentile returns a true corpus value near the rank;
            # allow 5% relative slack
            assert abs(a[col] - e[col]) <= 0.05 * max(e[col], 1.0), (src, col)

    with pytest.raises(ValueError):
        corpus_stats(docs, percentile_mode="median-ish")


def test_lsh_salted_recovery_rounds(spark):
    """A >256-member template cluster loses cross-sub-bucket pairs to
    salting; a rotated recovery round buys a measurable fraction back
    (never exceeding all-pairs, never losing already-found pairs), and
    lsh_bucket_stats reports the recovered count."""
    from trollflow2_spark.extensions.dedup import lsh_bucket_stats

    n, t = 600, 256
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(n)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, shingle_words=2, num_hashes=8)
    base = lsh_candidate_pairs(sigs, num_hashes=8, bands=4, salt_threshold=t)
    rec = lsh_candidate_pairs(
        sigs, num_hashes=8, bands=4, salt_threshold=t, recover_rounds=1
    )
    base_pairs = {(r["id_a"], r["id_b"]) for r in base.collect()}
    rec_pairs = {(r["id_a"], r["id_b"]) for r in rec.collect()}
    # every pair canonical (id_a < id_b): the rotated chunks are ordered
    # by rotated hash, and an unsorted chunk used to leak reversed
    # duplicates like (360, 120) past the distinct()
    assert all(a < b for a, b in rec_pairs)
    assert base_pairs < rec_pairs  # strictly more recall, nothing lost
    assert len(rec_pairs) <= n * (n - 1) // 2
    stats = lsh_bucket_stats(
        sigs, num_hashes=8, bands=4, salt_threshold=t
    ).collect()[0]
    assert stats["n_salted"] == 4
    # one rotation round over the salted buckets finds exactly the
    # pairs the recovery path added
    assert stats["n_recovered"] == len(rec_pairs) - len(base_pairs)


def test_frame_sample_real_paged_tiff(spark):
    """frame_sample decodes paged-TIFF containers for real: every Nth
    page is one sampled frame with its max pixel; non-TIFF payloads
    still raise without fake=True."""
    import numpy as np
    from pyspark.errors.exceptions.captured import PythonException

    from trollflow2_spark.extensions.multimodal import frame_sample
    from trollflow2_spark.sinks.imagery import encode_geotiff

    pages = [np.full((2, 3), 10 * (f + 1), dtype=np.uint8) for f in range(5)]
    blob = encode_geotiff(pages[0], overviews=pages[1:])
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id long, media binary"
    )
    got = {
        r["frame_idx"]: r["frame_byte"]
        for r in frame_sample(df, every_n_frames=2).collect()
    }
    assert got == {0: 10, 2: 30, 4: 50}  # pages 0, 2, 4 sampled

    bad = spark.createDataFrame(
        [(2, bytearray(b"not-a-container"))], "doc_id long, media binary"
    )
    with pytest.raises(PythonException):
        frame_sample(bad).collect()


def test_decode_and_resize_media_real_jpeg_route(spark):
    """image/jpeg decodes and resizes through the repo's baseline JPEG
    codec: constant blocks give exact stats; resize re-encodes a valid
    JPEG at the target size."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import decode_media, resize_media
    from trollflow2_spark.extensions.jpeg import decode_jpeg, encode_jpeg_gray

    blob = encode_jpeg_gray(np.full((16, 8), 200, dtype=np.uint8), quality=50)
    df = spark.createDataFrame(
        [(1, bytearray(blob),
          {"media_type": "image/jpeg", "width": 8, "height": 16,
           "n_bytes": len(blob)})],
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = decode_media(df).collect()[0]
    assert got["mean_byte"] == 200.0 and got["max_byte"] == 200
    assert (got["width"], got["height"], got["n_channels"]) == (8, 16, 1)

    resized = resize_media(df, target=(8, 8)).collect()[0]
    assert resized["media_meta"]["media_type"] == "image/jpeg"
    arr = decode_jpeg(bytes(resized["media"]))
    assert arr.shape == (8, 8) and (arr == 200).all()


def test_decode_media_color_jpeg_channels(spark):
    """A 4:2:0 color JPEG decodes to 3-channel stats through the real
    route (n_channels=3, pixel count = w*h*3)."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.extensions.jpeg import encode_jpeg

    blob = encode_jpeg(
        np.full((16, 32, 3), 100, dtype=np.uint8), quality=50, subsample="420"
    )
    df = spark.createDataFrame(
        [(1, bytearray(blob),
          {"media_type": "image/jpeg", "width": 32, "height": 16,
           "n_bytes": len(blob)})],
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = decode_media(df).collect()[0]
    assert got["n_channels"] == 3 and got["n_bytes"] == 16 * 32 * 3
    assert got["mean_byte"] == 100.0 and got["max_byte"] == 100


def test_frame_sample_real_mjpeg(spark):
    """frame_sample splits MJPEG streams on SOI markers and decodes each
    sampled frame through the repo's JPEG codec."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import frame_sample
    from trollflow2_spark.extensions.jpeg import encode_jpeg_gray

    frames = [np.full((8, 8), 20 * (f + 1), dtype=np.uint8) for f in range(5)]
    blob = b"".join(encode_jpeg_gray(f, quality=50) for f in frames)
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id long, media binary"
    )
    got = {
        r["frame_idx"]: r["frame_byte"]
        for r in frame_sample(df, every_n_frames=2).collect()
    }
    assert got == {0: 20, 2: 60, 4: 100}


def test_decode_media_quarantines_corrupt_tiff_and_jpeg(spark):
    """on_error='null' quarantines corrupt blobs on the TIFF and JPEG
    routes too, keeping the good rows intact."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.sinks.imagery import encode_geotiff
    from trollflow2_spark.extensions.jpeg import encode_jpeg_gray

    tif = encode_geotiff(np.full((3, 4), 9, dtype=np.uint8))
    jpg = encode_jpeg_gray(np.full((8, 8), 50, dtype=np.uint8), quality=50)
    rows = [
        (1, bytearray(tif), {"media_type": "image/tiff", "width": 4,
                             "height": 3, "n_bytes": len(tif)}),
        (2, bytearray(tif[:10]), {"media_type": "image/tiff", "width": 4,
                                  "height": 3, "n_bytes": 10}),
        (3, bytearray(jpg), {"media_type": "image/jpeg", "width": 8,
                             "height": 8, "n_bytes": len(jpg)}),
        (4, bytearray(b"\x00" * 30), {"media_type": "image/jpeg", "width": 8,
                                      "height": 8, "n_bytes": 30}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in decode_media(df, on_error="null").collect()}
    assert got[1]["mean_byte"] == 9.0 and got[3]["mean_byte"] == 50.0
    assert got[2]["n_bytes"] is None and got[4]["n_bytes"] is None


def test_repeated_ngram_spans_merging(spark):
    """Hand-checked span algebra: two docs share the 6-token run
    'one two three four five six' — with n=3 the shared shingles sit at
    positions 0..3, overlapping into ONE merged span [0, 5] in each
    doc; the unique tails produce no spans. A doc with no cross-doc
    shingle yields nothing."""
    from trollflow2_spark.extensions.dedup import repeated_ngram_spans

    shared = "one two three four five six"
    docs = spark.createDataFrame(
        [
            (1, shared + " apple banana cherry"),
            (2, shared + " dog elephant fox goat"),
            (3, "totally different words only here"),
        ],
        ["doc_id", "text"],
    )
    rows = repeated_ngram_spans(docs, n=3, min_docs=2).collect()
    got = {(r["doc_id"]): (r["span_start"], r["span_end"], r["span_tokens"])
           for r in rows}
    assert set(got) == {1, 2}
    assert got[1] == (0, 5, 6)
    assert got[2] == (0, 5, 6)


def test_quantized_topk_recall_vs_float(spark, sf_dir):
    """int8 quantization is near-lossless for cosine ranking: the
    quantized top-k overlaps the float top-k >= 80% per query on the
    fixture, and quantized cosine equals cosine of the int arrays
    exactly (scales cancel — checked against a numpy replay)."""
    import os

    import numpy as np

    from trollflow2_spark.extensions.similarity import (
        brute_force_topk,
        quantized_topk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10).collect()
    quant = quantized_topk(emb, queries, k=10).collect()
    by_q_exact = {}
    by_q_quant = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in quant:
        by_q_quant.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid, ex in by_q_exact.items():
        overlap = len(ex & by_q_quant[qid]) / len(ex)
        assert overlap >= 0.8, (qid, overlap)

    # numpy replay of one quantized cosine
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id") < 5).collect()}
    def qz(v):
        m = np.abs(v).max()
        s = m / 127.0 if m > 0 else 1.0
        return np.round(v / s)
    got = {(r["query_id"], r["vec_id"]): r["cosine_sim"] for r in quant}
    for (qid, vid), sim in got.items():
        if qid in rows and vid in rows:
            a, b = qz(rows[qid]), qz(rows[vid])
            want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert abs(sim - round(want, 6)) <= 1e-6


def test_unigram_logprob_model_math(spark):
    """The smoothed LM math checked by hand on a 2-doc corpus: token
    counts a:3 b:1 c:1 (N=5, V=3), vocab_k=2 keeps {a, b} (tie b-vs-c
    broken on the token string), c falls to the OOV mass. Denominator
    = N + alpha*(V+1) = 7."""
    import math

    from trollflow2_spark.extensions.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r
        for r in unigram_logprob(docs, vocab_k=2, alpha=0.5).collect()
    }
    lp_a = math.log(3.5 / 7)
    lp_b = math.log(1.5 / 7)
    lp_oov = math.log(0.5 / 7)
    assert got[1]["n_tokens"] == 3 and got[1]["n_oov"] == 0
    assert got[1]["mean_logprob"] == round((2 * lp_a + lp_b) / 3, 6)
    assert got[2]["n_tokens"] == 2 and got[2]["n_oov"] == 1
    assert got[2]["mean_logprob"] == round((lp_a + lp_oov) / 2, 6)


def test_incremental_dedup_and_lsh_matches(spark):
    """Daily-increment dedup: batch docs flag against corpus digests
    first, then earlier batch occurrences; the LSH tier broadcasts the
    batch bands so the corpus side never shuffles."""
    from trollflow2_spark.extensions.dedup import (
        incremental_exact_dedup,
        incremental_lsh_matches,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),   # dup of corpus 1
            (11, "totally new content here"),  # new
            (12, "totally new content here"),  # dup of batch 11
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in incremental_exact_dedup(corpus, batch).collect()}
    assert got[10]["is_new"] == 0 and got[10]["dup_of"] == 1
    assert got[11]["is_new"] == 1 and got[11]["dup_of"] is None
    assert got[12]["is_new"] == 0 and got[12]["dup_of"] == 11

    cs = minhash_signatures(corpus, shingle_words=2, num_hashes=8)
    bs = minhash_signatures(batch, shingle_words=2, num_hashes=8)
    matches = incremental_lsh_matches(cs, bs, num_hashes=8, bands=4)
    pairs = {(r["batch_id"], r["corpus_id"]) for r in matches.collect()}
    assert (10, 1) in pairs  # identical docs collide in every band
    # the batch side is the broadcast side: no shuffle of corpus bands
    plan = matches._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_incremental_exact_dedup_never_shuffles_corpus(spark, sf_dir):
    """Both joins in the incremental exact-dedup plan are broadcast —
    batch digests broadcast into the corpus scan (semi-filter), the
    tiny match table broadcasts back onto the batch — so the corpus
    never hash-partitions: a daily increment against a 100 TB corpus
    must not pay a corpus-wide shuffle."""
    import os

    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.dedup import incremental_exact_dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    out = incremental_exact_dedup(corpus, batch)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # every hash exchange is batch- or match-bounded: the batch window,
    # the batch digest distinct, and the groupBy over corpus rows that
    # SURVIVED the broadcast semi-filter (at most one row per batch
    # digest) — never a partitioning of the raw corpus stream
    import re

    hash_exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(hash_exchanges) <= 3


def test_semantic_dedup_clusters_planted(spark):
    """Planted semantic near-dups (same direction, scaled/noised) must
    cluster to the min-id canonical; orthogonal vectors stay
    singletons. Centroids are passed explicitly so the test pins the
    clustering semantics, not the k-means sample."""
    import numpy as np

    from trollflow2_spark.extensions.similarity import (
        semantic_dedup_clusters,
    )

    rng_free = [
        [1.0, 0.0, 0.0, 0.0],   # 0: canonical of {0,1,2}
        [2.0, 0.02, 0.0, 0.0],  # 1: same direction, scaled
        [0.99, -0.01, 0.0, 0.0],  # 2: near-dup of 0
        [0.0, 1.0, 0.0, 0.0],   # 3: singleton
        [0.0, 0.0, 1.0, 0.0],   # 4: singleton
        [0.0, 0.0, 0.98, 0.2],  # 5: near-dup of 4
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng_free)],
        ["vec_id", "embedding"],
    )
    cents = np.eye(4)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_clusters(
            df, centroids=cents, threshold=0.9
        ).collect()
    }
    assert {out[i]["cluster_id"] for i in (0, 1, 2)} == {0}
    assert out[0]["is_canonical"] == 1
    assert out[1]["is_canonical"] == 0 and out[2]["cluster_size"] == 3
    assert out[3]["cluster_id"] == 3 and out[3]["cluster_size"] == 1
    assert out[4]["cluster_id"] == 4 and out[5]["cluster_id"] == 4
    # the kept corpus is exactly the canonical set
    kept = sorted(k for k, r in out.items() if r["is_canonical"] == 1)
    assert kept == [0, 3, 4]


def test_decode_media_real_webp_route_and_quarantine(spark):
    """image/webp routes through the from-scratch VP8L decoder (RGB
    stats of the gray ramp), corrupt webp blobs quarantine under
    on_error='null', and lossy VP8 is a decode failure (quarantined
    too, never silently mis-decoded)."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.extensions.webp import encode_webp_lossless

    good = encode_webp_lossless(np.full((3, 4), 7, dtype=np.uint8))
    lossy = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (8).to_bytes(4, "little") + b"\x00" * 8
    )
    rows = [
        (1, bytearray(good), {"media_type": "image/webp", "width": 4,
                              "height": 3, "n_bytes": len(good)}),
        (2, bytearray(good[: len(good) // 2]),
         {"media_type": "image/webp", "width": 4, "height": 3,
          "n_bytes": len(good) // 2}),
        (3, bytearray(lossy), {"media_type": "image/webp", "width": 4,
                               "height": 3, "n_bytes": len(lossy)}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    got = {r["doc_id"]: r for r in decode_media(df, on_error="null").collect()}
    assert got[1]["mean_byte"] == 7.0
    assert got[1]["n_channels"] == 3 and got[1]["n_bytes"] == 3 * 4 * 3
    assert got[1]["width"] == 4 and got[1]["height"] == 3
    assert got[2]["n_bytes"] is None
    assert got[3]["n_bytes"] is None


def test_resize_media_real_webp_route(spark):
    """image/webp resizes for real: VP8L decode -> nearest-neighbor
    sample -> VP8L re-encode; the output blob decodes to the sampled
    pixels exactly (lossless)."""
    import numpy as np

    from trollflow2_spark.extensions.multimodal import resize_media
    from trollflow2_spark.extensions.webp import decode_webp, encode_webp_lossless

    src = (np.arange(6 * 8) % 256).astype(np.uint8).reshape(6, 8)
    blob = encode_webp_lossless(src)
    df = spark.createDataFrame(
        [(1, bytearray(blob), {"media_type": "image/webp", "width": 8,
                               "height": 6, "n_bytes": len(blob)})],
        "doc_id long, media binary, media_meta struct<media_type:string,"
        "width:int,height:int,n_bytes:bigint>",
    )
    row = resize_media(df, target=(4, 3)).collect()[0]
    assert row["media_meta"]["width"] == 4
    out = decode_webp(bytes(row["media"]))
    ys = np.minimum((np.arange(3) * 6) // 3, 5)
    xs = np.minimum((np.arange(4) * 8) // 4, 7)
    want = np.stack([src[np.ix_(ys, xs)]] * 3, axis=-1)
    assert out.shape == (3, 4, 3) and (out == want).all()


def test_contamination_bloom_prunes_and_matches_exact(spark, sf_dir):
    """The bloom prefilter must (a) return byte-identical results to the
    broadcast-set tier — false positives die in the verify join — and
    (b) actually prune: corpus shingles surviving the map-side bloom
    test are a small fraction of the total (the whole point at 100 TB)."""
    import os

    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.contamination import (
        bloom_might_contain,
        build_hash_bloom,
        contamination_scores,
        contamination_scores_bloom,
    )
    from trollflow2_spark.extensions.hashing import hash64, word_shingles

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    held = docs.filter(F.col("doc_id") % 7 == 3)

    exact = {
        r["doc_id"]: r
        for r in contamination_scores(corpus, held, shingle_words=8).collect()
    }
    got = {
        r["doc_id"]: r
        for r in contamination_scores_bloom(
            corpus, held, shingle_words=8
        ).collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert got[k]["n_shingles"] == exact[k]["n_shingles"]
        assert got[k]["n_matched"] == exact[k]["n_matched"]
        assert got[k]["contamination"] == exact[k]["contamination"]

    held_hashes = (
        held.select(F.explode(word_shingles(F.col("text"), 8)).alias("__s"))
        .select(hash64(F.col("__s")).alias("__h"))
        .distinct()
    )
    bloom = build_hash_bloom(held_hashes, "__h")
    test = bloom_might_contain(spark, bloom)
    corpus_hashes = corpus.select(
        F.explode(word_shingles(F.col("text"), 8)).alias("__s")
    ).select(hash64(F.col("__s")).alias("__h"))
    total = corpus_hashes.count()
    survived = corpus_hashes.filter(test(F.col("__h"))).count()
    # held is ~1/7 of docs; with a 2^20-bit bloom the FP rate is tiny,
    # so survivors track the true overlap, far below the full scan
    assert survived < total * 0.5
    # no false negatives ever: every held hash tests positive
    n_held = held_hashes.count()
    assert held_hashes.filter(test(F.col("__h"))).count() == n_held


def test_bpe_train_and_greedy_encode_semantics():
    """Known tiny corpus: merge learning picks the most frequent pair
    (ties lexicographic), greedy encode takes the longest vocab prefix,
    unknown characters emit <unk> and advance one char."""
    from trollflow2_spark.extensions.tokenizer import (
        greedy_encode_word,
        train_bpe_vocab,
    )

    vocab = train_bpe_vocab(["abab", "abab", "abc"], n_merges=2)
    # pair counts round 1: (a,b)x5, (b,a)x2, (b,c)x1 -> merge "ab";
    # round 2: (ab,ab)x2, (ab,c)x1 -> merge "abab"
    assert "ab" in vocab and "abab" in vocab
    vs = set(vocab)
    ml = max(len(v) for v in vs)
    assert greedy_encode_word("abab", vs, ml) == ["abab"]
    assert greedy_encode_word("ababc", vs, ml) == ["abab", "c"]
    # 'z' never seen -> unk, then the known suffix still matches
    assert greedy_encode_word("zab", vs, ml) == ["<unk>", "ab"]
    # determinism: retraining yields the identical vocabulary
    assert train_bpe_vocab(["abab", "abab", "abc"], n_merges=2) == vocab


def test_tokenize_greedy_is_map_only(spark, sf_dir):
    """Encoding is a scan-stage map: the plan has no Exchange — at
    100 TB the token stream is produced without shuffling anything."""
    import os

    from trollflow2_spark.extensions.tokenizer import (
        sample_vocab,
        tokenize_greedy,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vocab = sample_vocab(docs, sample_n=32, n_merges=20)
    out = tokenize_greedy(docs, vocab)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = out.limit(5).collect()
    assert all(r["n_tokens"] >= 1 for r in rows)
    assert all(r["n_unk"] <= r["n_tokens"] for r in rows)


def test_nb_classifier_trains_and_scores_distributed(spark, sf_dir):
    """NB train->score: the model joins are all broadcast (no
    sort-merge of the token stream against the model), every scored doc
    gets exactly one prediction, scores are finite, and accuracy beats
    uniform-random guessing over the 5 language classes."""
    import os

    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.classify import nb_train_score

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    train = docs.filter(F.col("doc_id") % 3 != 0)
    score = docs.filter(F.col("doc_id") % 3 == 0)
    out = nb_train_score(train, score)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rows = out.collect()
    n_score = score.filter(F.length(F.trim("text")) > 0).count()
    assert len(rows) == n_score  # one prediction per scored doc
    assert all(r["score"] < 0 for r in rows)  # log-likelihoods
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert all(r["pred_lang"] in langs for r in rows)
    acc = sum(r["correct"] for r in rows) / len(rows)
    assert acc > 1.0 / len(langs)  # better than uniform chance


def test_ivf_quantized_recall_vs_float_ivf(spark, sf_dir):
    """int8 serving must not wreck ranking: top-k overlap with the
    float IVF at identical centroids/probes stays high (cosine is
    near-lossless under symmetric int8)."""
    import os

    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.similarity import (
        ivf_topk,
        ivf_topk_quantized,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, q, k=5, n_probe=3, n_clusters=8).collect()
    }
    quant = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk_quantized(
            emb, q, k=5, n_probe=3, n_clusters=8
        ).collect()
    }
    assert len(quant) == len(base)
    overlap = len(base & quant) / len(base)
    assert overlap >= 0.8


def test_temperature_sample_rebalances_toward_flat(spark, sf_dir):
    """Temperature sampling must flatten the mixture: the dominant
    stratum's share shrinks vs the input, rare strata's shares grow,
    sample size lands near target, and alpha=1 is a no-op mixture
    (rates equal for every stratum: target_frac everywhere)."""
    import os

    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.sampling import (
        temperature_rates,
        temperature_sample,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "lang")
    n = docs.count()
    in_share = {
        r["lang"]: r["c"] / n
        for r in docs.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    out = temperature_sample(docs, alpha=0.5, target_frac=0.6)
    rows = out.collect()
    m = len(rows)
    assert 0.4 * n < m < 0.8 * n  # near target (hash granularity)
    out_share = {}
    for r in rows:
        out_share[r["lang"]] = out_share.get(r["lang"], 0) + 1 / m
    top = max(in_share, key=in_share.get)
    rare = min(in_share, key=in_share.get)
    assert out_share[top] < in_share[top]
    assert out_share.get(rare, 0) >= in_share[rare]
    # alpha=1: q == p, so every stratum's rate is exactly target_frac
    counts = {k: int(v * n) for k, v in in_share.items()}
    rates = temperature_rates(counts, alpha=1.0, target_frac=0.3)
    assert all(abs(v - 0.3) < 1e-9 for v in rates.values())


def test_hashed_embedding_feeds_vector_neardup(spark):
    """The hashing-trick vectors plug into the embedding near-dup tier:
    re-worded duplicates of a document land at high cosine, unrelated
    text does not — a model-free text->vector->dedup path end to end."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.similarity import cosine
    from trollflow2_spark.extensions.text import hashed_embedding

    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river"),
        (1, "the quick brown fox jumps over the lazy dog near the river "
            "today"),  # near-dup of 0
        (2, "completely different subject matter entirely about spark "
            "plans and shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    emb = hashed_embedding(df, dim=64)
    a = emb.select(F.col("doc_id").alias("ia"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("doc_id").alias("ib"),
                   F.col("embedding").alias("eb"))
    pairs = {
        (r["ia"], r["ib"]): r["cos"]
        for r in a.crossJoin(b).filter(F.col("ia") < F.col("ib")).select(
            "ia", "ib",
            F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cos"),
        ).collect()
    }
    assert pairs[(0, 1)] > 0.9
    assert pairs[(0, 2)] < 0.5 and pairs[(1, 2)] < 0.5


def test_line_dedup_keeps_first_occurrence_and_audits_empty(spark):
    """A line repeated across docs survives only at its lowest
    (doc_id, pos); a doc whose every line appeared earlier comes back
    empty with n_lines_kept = 0."""
    from trollflow2_spark.extensions.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\ngamma"),
            (2, "beta\ndelta"),
            (3, "alpha\nbeta"),
            (4, "beta\nbeta"),  # in-doc repeat: only one survives
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert rows[1]["text"] == "alpha\nbeta\ngamma"
    assert rows[1]["n_lines"] == 3 and rows[1]["n_lines_kept"] == 3
    assert rows[2]["text"] == "delta" and rows[2]["n_lines_kept"] == 1
    assert rows[3]["text"] == "" and rows[3]["n_lines_kept"] == 0
    assert rows[4]["text"] == "" and rows[4]["n_lines_kept"] == 0


def test_line_dedup_no_per_line_window(spark):
    """The first-occurrence tier must be an aggregation (map-side
    combinable on the boilerplate hot key), never a per-line window —
    no Window operator may appear in the plan."""
    from trollflow2_spark.extensions.dedup import line_dedup

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_chunk_documents_overlap_semantics(spark):
    """20-token text, chunk=8, overlap=3 -> stride 5: starts 0,5,10,15
    with the last chunks short; consecutive chunks share 3 tokens."""
    from trollflow2_spark.extensions.text import chunk_documents

    words = [f"w{i}" for i in range(20)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "only two"), (3, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=8, overlap=3)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in out.collect())
    )
    d1 = [r for r in rows if r[0] == 1]
    assert [r[1] for r in d1] == [0, 1, 2, 3]
    assert d1[0][2] == " ".join(words[0:8])
    assert d1[1][2] == " ".join(words[5:13])  # 3-token overlap with chunk 0
    assert d1[3][2] == " ".join(words[15:20])  # short tail kept
    assert [r for r in rows if r[0] == 2] == [(2, 0, "only two")]
    assert not [r for r in rows if r[0] == 3]  # zero-token doc: no chunks
    with __import__("pytest").raises(ValueError):
        chunk_documents(df, chunk_tokens=5, overlap=5)


def test_chunk_documents_zero_shuffle(spark):
    """Chunking is scan-stage Column algebra: no Exchange in the plan."""
    from trollflow2_spark.extensions.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_corpus_diff_statuses(spark):
    from trollflow2_spark.extensions.snapshot import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # the join must carry digests, not document payloads
    plan = (
        corpus_diff(old, new)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "md5" in plan


def test_dsir_prefers_target_domain(spark):
    """Docs written in the target domain's vocabulary must weigh higher
    than off-domain docs, and survive resampling at full rate."""
    from trollflow2_spark.extensions.text import dsir_resample, dsir_weights

    rows = [(i, "alpha beta gamma alpha beta", "t") for i in range(6)]
    rows += [(10 + i, "zig zag zog zig zag", "o") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = df.where("lang = 't'").select("doc_id", "text")
    w = {
        r["doc_id"]: r["mean_log_ratio"]
        for r in dsir_weights(df, target, vocab_k=50).collect()
    }
    assert min(w[i] for i in range(6)) > max(w[10 + i] for i in range(6))
    out = {
        r["doc_id"]: r
        for r in dsir_resample(df, target, vocab_k=50).collect()
    }
    assert all(out[i]["keep_prob"] == 1.0 and out[i]["kept"] == 1
               for i in range(6))
    assert all(out[10 + i]["keep_prob"] < 1.0 for i in range(6))


def test_dsir_scoring_join_is_broadcast(spark):
    """Both unigram models broadcast into the scoring pass — the corpus
    token stream must never sort-merge."""
    from trollflow2_spark.extensions.text import dsir_weights

    df = spark.createDataFrame(
        [(1, "a b", "t"), (2, "c d", "o")],
        "doc_id long, text string, lang string",
    )
    target = df.where("lang = 't'").select("doc_id", "text")
    plan = (
        dsir_weights(df, target)._jdf.queryExecution().executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan


def test_concat_chunk_spans_semantics(spark):
    """Docs of 5/3/7 tokens (+1 EOS each) concat to 18 tokens; 8-token
    examples: spans must tile the stream exactly, crossing boundaries."""
    from trollflow2_spark.extensions.sampling import concat_chunk_spans

    df = spark.createDataFrame(
        [(1, 5), (2, 3), (3, 7)], "doc_id long, n_tokens int"
    )
    rows = sorted(
        (r["example_id"], r["doc_id"], r["doc_tok_start"], r["n_toks"])
        for r in concat_chunk_spans(df, 8, shard_size=2).collect()
    )
    # stream: doc1 tokens 0..5 (6), doc2 6..9 (4), doc3 10..17 (8)
    assert rows == [
        (0, 1, 0, 6), (0, 2, 0, 2),
        (1, 2, 2, 2), (1, 3, 0, 6),
        (2, 3, 6, 2),
    ]
    # spans per example sum to example_tokens (except the tail)
    import collections
    per_ex = collections.Counter()
    for ex, _d, _s, n in rows:
        per_ex[ex] += n
    assert per_ex[0] == 8 and per_ex[1] == 8 and per_ex[2] == 2


def test_concat_chunk_spans_no_global_window(spark):
    """The cumsum must shard: the only unpartitioned window runs over
    the shard-total aggregate (control-sized), never over the rows."""
    from trollflow2_spark.extensions.sampling import concat_chunk_spans

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit(5).alias("n_tokens")
    )
    plan = (
        concat_chunk_spans(df, 64, shard_size=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    # every row-level Window must be partitioned by the shard column
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert any("__shard" in w for w in wins)


def test_pca_project_zero_shuffle_and_variance_order(spark):
    """PCA projection is scan-stage Column algebra (no Exchange after
    the sample fit) and the leading component carries the most
    variance."""
    import numpy as np

    from trollflow2_spark.extensions.similarity import pca_project

    rng = np.random.default_rng(5)
    X = rng.normal(size=(300, 6)) @ np.diag([8, 3, 1, 0.2, 0.1, 0.05])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    out = pca_project(df, n_components=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = out.collect()
    var = [float(np.var([r[f"pc{k}"] for r in rows])) for k in range(3)]
    assert var[0] > var[1] > var[2]
    # projections are centered (sample == full data here)
    assert abs(float(np.mean([r["pc0"] for r in rows]))) < 1e-3


def test_pq_topk_recall_vs_brute_force(spark):
    """PQ asymmetric-distance top-k must keep most of the exact top-k
    (the standard IVF-PQ recall check) and put a query's own vector
    first."""
    import numpy as np

    from trollflow2_spark.extensions.similarity import (
        brute_force_topk,
        pq_codebooks_np,
        pq_encode,
        pq_topk,
    )

    rng = np.random.default_rng(9)
    # clustered data (the regime PQ is built for — pure isotropic noise
    # has no recoverable neighborhood structure at 4 bytes/vector)
    centers = rng.normal(size=(10, 16)) * 3
    labels = rng.integers(0, 10, size=400)
    X = (
        centers[labels] + rng.normal(size=(400, 16)) * 0.3
    ).astype("float64")
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    books = pq_codebooks_np(X[:128], m=4, k=16)
    codes = pq_encode(df, books).cache()
    queries = [(i, X[i]) for i in range(4)]
    got = pq_topk(codes, books, queries, k=10).collect()
    # at 4 bytes/vector PQ's contract is NEIGHBORHOOD recall, not exact
    # rank order: returned neighbors must come from the query's true
    # cluster, and the query's own vector must score first
    for qid in range(4):
        mine = [r for r in got if r["query_id"] == qid]
        assert min((r["adc_dist"], r["vec_id"]) for r in mine)[1] == qid
        same = sum(1 for r in mine if labels[r["vec_id"]] == labels[qid])
        assert same / len(mine) >= 0.8, (qid, same, len(mine))
    # sanity: exact search agrees on the cluster property too
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(4)],
        "query_id long, embedding array<float>",
    )
    exact = brute_force_topk(df, qdf, k=10).collect()
    for qid in range(4):
        e = [r for r in exact if r["query_id"] == qid]
        assert all(labels[r["vec_id"]] == labels[qid] for r in e)


def test_pq_encode_is_map_side(spark):
    from trollflow2_spark.extensions.similarity import (
        pq_codebooks_np,
        pq_encode,
    )
    import numpy as np

    rng = np.random.default_rng(1)
    X = rng.normal(size=(64, 8))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    books = pq_codebooks_np(X, m=2, k=4)
    plan = (
        pq_encode(df, books)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_bigram_logprob_penalizes_scrambled_text(spark):
    """Documents with the corpus's transitions score higher than the
    same tokens scrambled (word soup) — the signal unigram LMs miss."""
    from trollflow2_spark.extensions.text import bigram_logprob

    natural = "the cat sat on the mat and the dog sat on the rug"
    scrambled = "mat the dog on sat the and rug cat the on sat the"
    rows = [(i, natural) for i in range(20)]
    rows.append((100, scrambled))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["mean_bigram_logprob"]
        for r in bigram_logprob(df, vocab_k=50, bigram_k=100).collect()
    }
    assert out[0] > out[100]
    plan = (
        bigram_logprob(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan  # both model tables broadcast


def test_semantic_dedup_hot_cell_salted(spark):
    """A hot k-means cell (one cell holding ~75% of the corpus — the
    embedding-space twin of the skew_seq fixture) must go through the
    shared salt/cap guard, not a single quadratic self-join task: with
    ``salt_threshold=16`` the hot cell's pairs come from bounded
    contiguous sub-buckets, so a clique that the unguarded path would
    merge into ONE cluster resolves into ceil(n_hot/16) chunk-cliques —
    observable proof that no task saw the full cell cross-product. The
    guard-stats audit reports the salting and the skipped-pair share."""
    import numpy as np

    from trollflow2_spark.extensions.similarity import (
        semantic_cell_guard_stats,
        semantic_dedup_clusters,
    )

    n_hot, n_cold = 300, 100
    rows = []
    for i in range(n_hot):  # all in cell 0, pairwise cosine ~1
        rows.append((i, [1.0, 1e-4 * (i % 7), 0.0, 0.0]))
    for j in range(n_cold):  # spread across cell 1, pairwise cosine ~1
        rows.append((n_hot + j, [0.0, 1.0, 1e-4 * (j % 5), 0.0]))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        ["vec_id", "embedding"],
    )
    cents = np.eye(4)[:2]

    stats = semantic_cell_guard_stats(
        df, centroids=cents, max_cell=100_000, salt_threshold=16
    ).collect()[0]
    assert stats["n_cells"] == 2
    assert stats["n_salted"] == 2 and stats["n_dropped"] == 0
    assert stats["max_cell_size"] == n_hot
    assert 0 < stats["pairs_skipped_share"] < 1

    guarded = semantic_dedup_clusters(
        df, centroids=cents, threshold=0.9, salt_threshold=16
    )
    clusters = {}
    for r in guarded.collect():
        clusters.setdefault(r["cluster_id"], []).append(r["vec_id"])
    hot_clusters = [c for c in clusters.values() if c[0] < n_hot]
    # sorted-id chunks of 16: 300/16 -> 18 full + 1 remainder = 19
    assert len(hot_clusters) == -(-n_hot // 16)
    assert max(len(c) for c in hot_clusters) <= 16
    # every vector still accounted for exactly once
    assert sum(len(c) for c in clusters.values()) == n_hot + n_cold

    # the unguarded path (threshold above any cell size) merges each
    # cell into one clique-cluster — and salting must be a strict
    # no-op below the threshold
    plain = semantic_dedup_clusters(
        df, centroids=cents, threshold=0.9, salt_threshold=1000
    )
    plain_clusters = {}
    for r in plain.collect():
        plain_clusters.setdefault(r["cluster_id"], []).append(r["vec_id"])
    assert sorted(len(c) for c in plain_clusters.values()) == [n_cold, n_hot]


def test_semantic_dedup_salting_noop_below_threshold(spark, sf_dir):
    """On the real fixture (balanced cells, all below the default
    salt threshold) the guarded path must produce byte-identical
    clustering to an effectively-unguarded run — the oracle-exactness
    precondition."""
    from trollflow2_spark.extensions.similarity import semantic_dedup_clusters
    from trollflow2_spark.queries import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {
        tuple(r)
        for r in semantic_dedup_clusters(emb, threshold=0.3).collect()
    }
    b = {
        tuple(r)
        for r in semantic_dedup_clusters(
            emb, threshold=0.3, salt_threshold=10**6
        ).collect()
    }
    assert a == b


def test_assert_cell_balance_gate(spark):
    """The pre-flight balance gate aborts with sizing guidance when a
    cell exceeds max_share, and passes (returning the histogram) on a
    balanced corpus."""
    import numpy as np
    import pytest

    from trollflow2_spark.extensions.similarity import assert_cell_balance

    cents = np.eye(4)[:2]
    hot = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
        + [(100 + j, [0.0, 1.0, 0.0, 0.0]) for j in range(10)],
        ["vec_id", "embedding"],
    )
    with pytest.raises(ValueError, match="max_share"):
        assert_cell_balance(hot, centroids=cents, max_share=0.5)

    balanced = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
        + [(100 + j, [0.0, 1.0, 0.0, 0.0]) for j in range(20)],
        ["vec_id", "embedding"],
    )
    stats = assert_cell_balance(balanced, centroids=cents, max_share=0.6)
    assert stats.count() == 2


def test_semantic_candidate_pairs_plan_salted(spark):
    """Plan pin for the SemDeDup guard: with a hot cell above the salt
    threshold, candidate generation shows the round-robin sub-bucket
    redistribution (bounded tasks), exactly like the lexical LSH tier —
    and the pair volume equals the closed-form chunked count, proving
    the cell cross-product never materialized."""
    import numpy as np

    from trollflow2_spark.extensions.similarity import semantic_candidate_pairs

    n = 100
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    pairs = semantic_candidate_pairs(
        df, np.eye(4)[:2], threshold=-1.0, salt_threshold=16
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    chunks = [16] * (n // 16) + ([n % 16] if n % 16 else [])
    assert pairs.count() == sum(c * (c - 1) // 2 for c in chunks)


def test_ivf_topk_balance_gate(spark):
    """The pre-flight balance gate is reachable from the IVF serving
    path too: a degenerate corpus (every vector in one cell) aborts
    with sizing guidance before any probe join runs."""
    import numpy as np
    import pytest

    from trollflow2_spark.extensions.similarity import ivf_topk

    df = spark.createDataFrame(
        [(i, [1.0, 1e-4 * (i % 7), 0.0, 0.0]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], ["query_id", "embedding"]
    )
    with pytest.raises(ValueError, match="max_share"):
        ivf_topk(
            df, q, centroids=np.eye(4)[:2], n_clusters=2,
            max_cell_share=0.8,
        )
    # gate off (None) -> the query itself still runs
    out = ivf_topk(df, q, centroids=np.eye(4)[:2], n_clusters=2, k=3)
    assert out.count() > 0


def test_decode_media_quarantine_reasons(spark):
    """In quarantine mode decode_media reports WHY each reject was
    skipped: corrupt bytes, unsupported codec, or an over-cap blob —
    and successful rows carry a NULL reason. Raise mode keeps the old
    schema (no reason column) and still fails fast on unsupported
    types."""
    import numpy as np
    import pytest

    from trollflow2_spark.extensions.multimodal import decode_media
    from trollflow2_spark.sinks.imagery import encode_png

    png = encode_png(np.full((4, 4), 7, dtype=np.uint8))
    rows = [
        (0, bytearray(png), {"media_type": "image/png"}),
        (1, bytearray(b"\x89PNG garbage"), {"media_type": "image/png"}),
        (2, bytearray(b"mp4 atoms"), {"media_type": "video/mp4"}),
        (3, bytearray(b"x" * 5000), {"media_type": "image/png"}),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media binary, media_meta map<string,string>"
    )
    out = {
        r["doc_id"]: r
        for r in decode_media(df, on_error="null", max_bytes=4096).collect()
    }
    assert out[0]["quarantine_reason"] is None
    assert out[0]["width"] == 4 and out[0]["max_byte"] == 7
    assert out[1]["quarantine_reason"] == "corrupt"
    assert out[2]["quarantine_reason"] == "unsupported_codec"
    assert out[3]["quarantine_reason"] == "oversized"
    for d in (1, 2, 3):  # features NULL on every reject
        assert out[d]["n_bytes"] is None and out[d]["width"] is None

    strict = decode_media(df.filter(F.col("doc_id") == 0))
    assert "quarantine_reason" not in strict.columns
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        decode_media(df.filter(F.col("doc_id") == 2)).collect()


def test_unigram_model_properties():
    """Unigram training: deterministic, chars never pruned, and the
    max-likelihood segmentation reconstructs the word exactly."""
    from trollflow2_spark.extensions.tokenizer import (
        best_segmentation,
        train_unigram_model,
    )

    words = ["thecat", "thedog", "the", "cat", "dog", "dogdog"] * 10
    model = dict(train_unigram_model(words, vocab_size=50))
    # deterministic re-train
    assert dict(train_unigram_model(words, vocab_size=50)) == model
    # full alphabet always present
    for ch in "abcdefghijklmnopqrstuvwxyz0123456789":
        assert ch in model
    # frequent substrings earn multi-char tokens
    assert any(len(t) > 1 for t in model)
    for w in ["thecat", "dogdog", "zzqqxx", "a"]:
        toks, score = best_segmentation(w, model)
        assert "".join(toks) == w
        # score equals the left-to-right sum of token logps
        s = 0.0
        for t in toks:
            s += model[t]
        assert s == score
    # ML segmentation never scores below the all-chars baseline
    toks, score = best_segmentation("thecat", model)
    chars_score = 0.0
    for ch in "thecat":
        chars_score += model[ch]
    assert score >= chars_score


def test_tokenize_unigram_map_only(spark, sf_dir):
    """Unigram encoding is a zero-shuffle map stage (broadcast model),
    and n_tokens is consistent with tokens_str."""
    from trollflow2_spark.extensions.tokenizer import (
        sample_unigram_model,
        tokenize_unigram,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = sample_unigram_model(docs, sample_n=64)
    out = tokenize_unigram(docs.limit(40), model)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for r in out.collect():
        n = 0 if r["tokens_str"] == "" else len(r["tokens_str"].split(" "))
        assert r["n_tokens"] == n


def test_distinct_state_merges_incrementally(spark, sf_dir):
    """Mergeable distinct-count state: three daily batches sketched
    independently and merged estimate the same distinct-user count as
    sketching the whole table (HLL union semantics), within sketch
    tolerance of the exact answer — the property that makes
    distinct-counts incrementally maintainable at all."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.snapshot import (
        distinct_state,
        merge_distinct_state,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batches = [ev.where(F.dayofmonth("ts") % 3 == i) for i in range(3)]
    state = distinct_state(batches[0], ["event_type"], "user_id")
    for b in batches[1:]:
        state = merge_distinct_state(
            state, distinct_state(b, ["event_type"], "user_id"),
            ["event_type"],
        )
    est = {
        r["event_type"]: r["n"]
        for r in state.select(
            "event_type",
            F.hll_sketch_estimate("sketch").alias("n"),
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(3, 0.05 * n), (k, est[k], n)


def test_scd2_merge_invariants(spark):
    """SCD2 merge invariants: (1) re-applying the SAME update batch is
    a no-op — idempotent re-deliveries; (2) history rows are never
    lost or mutated; (3) exactly one current row per live key."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.profile import scd2_merge

    history = spark.createDataFrame(
        [
            (1, "A", 10.0, "2023-01-01", None),
            (2, "B", 20.0, "2023-01-01", None),
            (2, "Bold", 15.0, "2022-01-01", "2023-01-01"),  # closed
        ],
        ["k", "seg", "bal", "valid_from", "valid_to"],
    )
    updates = spark.createDataFrame(
        [
            (1, "A", 11.0, "2024-06-01"),   # changed bal
            (2, "B", 20.0, "2024-06-01"),   # no-op
            (9, "N", 0.0, "2024-06-01"),    # new key
        ],
        ["k", "seg", "bal", "ts"],
    )
    m1 = scd2_merge(history, updates, "k", ["seg", "bal"], ts_col="ts")
    m2 = scd2_merge(m1, updates, "k", ["seg", "bal"], ts_col="ts")
    rows1 = sorted(map(tuple, m1.collect()))
    rows2 = sorted(map(tuple, m2.collect()))
    assert rows1 == rows2  # idempotent
    # closed history passed through untouched
    assert (2, "Bold", 15.0, "2022-01-01", "2023-01-01") in rows1
    # key 1: old row closed at ts, new current row opened
    k1 = [r for r in rows1 if r[0] == 1]
    assert (1, "A", 10.0, "2023-01-01", "2024-06-01") in k1
    assert (1, "A", 11.0, "2024-06-01", None) in k1
    # exactly one current row per key
    cur = m1.where(F.col("valid_to").isNull()).groupBy("k").count()
    assert all(r["count"] == 1 for r in cur.collect())
    assert {r[0] for r in rows1 if r[4] is None} == {1, 2, 9}


def test_cdc_apply_semantics(spark):
    """CDC apply: latest seq wins, winning delete removes the key,
    delete-then-reinsert survives, and duplicated log segments
    (at-least-once delivery) change nothing."""
    from trollflow2_spark.extensions.profile import cdc_apply

    feed = [
        (1, 10, "I", 1.0, "a"),
        (1, 20, "U", 2.0, "b"),    # key 1 -> latest is U(2.0, b)
        (2, 10, "I", 5.0, "x"),
        (2, 30, "D", None, None),  # key 2 -> deleted
        (3, 10, "D", None, None),
        (3, 40, "I", 7.0, "z"),    # key 3 -> reinserted after delete
    ]
    changes = spark.createDataFrame(
        feed, ["entity_id", "seq", "op", "val", "tag"]
    )
    out = cdc_apply(changes, "entity_id", "seq", "op", ["val", "tag"])
    got = {r["entity_id"]: r for r in out.collect()}
    assert set(got) == {1, 3}
    assert (got[1]["val"], got[1]["tag"], got[1]["last_seq"],
            got[1]["n_changes"]) == (2.0, "b", 20, 2)
    assert (got[3]["val"], got[3]["tag"]) == (7.0, "z")
    # at-least-once: replaying a duplicated segment is a no-op
    dup = changes.unionAll(changes.where(F.col("seq") >= 20))
    out2 = cdc_apply(dup, "entity_id", "seq", "op", ["val", "tag"])
    got2 = {r["entity_id"]: (r["val"], r["tag"], r["last_seq"])
            for r in out2.collect()}
    assert got2 == {k: (v["val"], v["tag"], v["last_seq"])
                    for k, v in got.items()}


def test_k_anonymity_flags(spark):
    """at_risk fires on group_size < k; homogeneous fires when every
    member shares one sensitive value, independent of size."""
    from trollflow2_spark.extensions.profile import k_anonymity_audit

    rows = (
        # big diverse group: safe on both axes
        [("US", "A", i, i % 3) for i in range(6)]
        # big homogeneous group: size-safe, attribute-disclosing
        + [("US", "B", i, 42) for i in range(5)]
        # tiny group: at risk
        + [("FR", "A", 1, 7), ("FR", "A", 2, 8)]
    )
    df = spark.createDataFrame(rows, ["nation", "seg", "i", "sens"])
    out = {
        (r["nation"], r["seg"]): r
        for r in k_anonymity_audit(df, ["nation", "seg"], "sens", k=5)
        .collect()
    }
    us_a, us_b, fr_a = out[("US", "A")], out[("US", "B")], out[("FR", "A")]
    assert (us_a["group_size"], us_a["l_distinct"],
            us_a["at_risk"], us_a["homogeneous"]) == (6, 3, 0, 0)
    assert (us_b["group_size"], us_b["l_distinct"],
            us_b["at_risk"], us_b["homogeneous"]) == (5, 1, 0, 1)
    assert (fr_a["group_size"], fr_a["at_risk"]) == (2, 1)


def test_merge_agg_state_equals_full_recompute(spark, sf_dir):
    """Incremental state invariant: splitting the corpus into ANY
    partition of batches and folding each in reproduces the full
    recompute exactly (associativity of the additive merge)."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.snapshot import merge_agg_state

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def agg(part):
        return part.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )

    state = agg(docs.where(F.col("doc_id") % 4 == 0))
    for i in (1, 2, 3):
        state = merge_agg_state(
            state, agg(docs.where(F.col("doc_id") % 4 == i)),
            ["lang"], ["n", "chars"],
        )
    got = {r["lang"]: (r["n"], r["chars"]) for r in state.collect()}
    ref = {r["lang"]: (r["n"], r["chars"]) for r in agg(docs).collect()}
    assert got == ref


def test_hamming1_pairs_duplicate_heavy_vs_bruteforce(spark):
    """Fuzzy matching equals the quadratic reference on a
    duplicate-HEAVY table (the case that used to blow variant buckets
    up): candidates generate over DISTINCT strings — alphabet-bounded
    buckets — and ids re-attach by class."""
    from trollflow2_spark.extensions.dedup import hamming1_pairs

    strings = ["abc", "abd", "xbc", "abc", "abc", "zzz", "abd", "ab"]
    rows = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, ["id", "s"])
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in hamming1_pairs(df, "id", "s").collect()
    )

    def lev1(a, b):
        return len(a) == len(b) and sum(
            x != y for x, y in zip(a, b)
        ) <= 1

    expected = sorted(
        (i, j)
        for i in range(len(strings))
        for j in range(i + 1, len(strings))
        if lev1(strings[i], strings[j])
    )
    assert got == expected


def test_group_split_domain_atomic_on_url_chain(spark, sf_dir):
    """Every registrable domain lands in exactly ONE split, and the
    messy-URL variants (www/subdomain/port/case/tracking params) of
    the same site all collapse to that domain — the leakage-safety
    contract on the production canonicalize->PSL chain."""
    from trollflow2_spark.queries import QUERIES

    out = QUERIES["group_split"](spark, sf_dir)
    rows = out.collect()
    by_domain: dict = {}
    for r in rows:
        by_domain.setdefault(r["domain"], set()).add(r["split"])
    assert by_domain and all(len(v) == 1 for v in by_domain.values())
    # the four URL spellings of site k all canonicalized to one eTLD+1
    assert all(d.endswith(".co.uk") and d.startswith("site")
               for d in by_domain)
    # docs of one site class share the domain across all 4 variants
    doms = {r["doc_id"] % 50: r["domain"] for r in rows}
    for r in rows:
        assert doms[r["doc_id"] % 50] == r["domain"]


def test_compaction_plan_bins_fill_to_target(spark):
    """Sorted-fill semantics: bins fill to the target before the next
    opens; an oversized file gets its own bin; per-stratum plans are
    independent."""
    from trollflow2_spark.extensions.profile import compaction_plan

    mb = 1048576
    rows = [
        (1, "a", 700 * mb),  # oversized -> own bin
        (2, "a", 300 * mb),
        (3, "a", 200 * mb),
        (4, "a", 100 * mb),
        (5, "b", 10 * mb),
        (6, "b", 10 * mb),
    ]
    out = compaction_plan(
        spark.createDataFrame(rows, "file_id long, part string, bytes long"),
        target_bytes=512 * mb,
        strata_col="part",
    ).collect()
    bins = {r["file_id"]: r["bin"] for r in out}
    assert bins[1] == 0  # 700MB opens bin 0 alone
    assert bins[2] == 1 and bins[3] == 1  # 300+200 fill bin 1
    assert bins[4] == 2  # next 100 spills to bin 2 (bin 1 at 500+100>512)
    assert bins[5] == 0 and bins[6] == 0  # stratum b independent


def test_parquet_layout_audit_reads_footers_distributed(spark, sf_dir):
    """The audit's numbers come from footers only (values == rows for
    non-null scalar columns) and every corpus table is covered."""
    import os

    from trollflow2_spark.extensions.profile import parquet_layout_audit
    from trollflow2_spark.tables import TABLE_NAMES

    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLE_NAMES]
    rows = parquet_layout_audit(spark, paths).collect()
    files = {r["file_name"] for r in rows}
    assert files == {f"{t}.parquet" for t in TABLE_NAMES}
    li = [r for r in rows if r["file_name"] == "lineitem.parquet"]
    assert all(r["n_values"] == r["n_rows"] for r in li)
    assert all(r["compressed_bytes"] > 0 and r["ratio"] >= 0.9 for r in li)


def test_lsh_recall_audit_counts(spark):
    """Near-identical pairs are both true and recalled (identical
    shingle sets share every band); unrelated docs contribute to
    neither; counts and ratios are consistent."""
    from trollflow2_spark.extensions.dedup import lsh_recall_audit

    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "stone wall by the garden fountain where visitors walk daily"
    )
    other = (
        "spark partitions shuffles joins aggregations windows adaptive "
        "query execution replanning stages from runtime statistics"
    )
    rows = [
        (1, base + " a"), (2, base + " a"),      # identical pair
        (3, other + " x"), (4, other + " x"),    # identical pair
        (5, "completely unrelated tiny text"),
    ]
    out = lsh_recall_audit(
        spark.createDataFrame(rows, "doc_id long, text string"),
        threshold=0.5,
    ).first()
    assert out["n_true"] == 2 and out["n_hit"] == 2
    assert out["recall"] == 1.0
    assert out["n_candidates"] >= out["n_hit"]
    assert 0.0 < out["precision"] <= 1.0


def test_cdc_chunks_insertion_robustness(spark):
    """The CDC property fixed windows lack: inserting tokens into the
    middle of a document leaves every chunk outside the edited region
    byte-identical — the chunks re-synchronize at the next
    content-defined boundary."""
    from trollflow2_spark.extensions.text import cdc_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine")
    toks = base.split()
    edited = " ".join(toks[:17] + ["INSERTED", "WORDS"] + toks[17:])
    df = spark.createDataFrame(
        [(1, base), (2, edited)], ["doc_id", "text"]
    )
    rows = cdc_chunks(df, mod=4, seed=37).collect()
    a = {r["chunk_text"] for r in rows if r["doc_id"] == 1}
    b = {r["chunk_text"] for r in rows if r["doc_id"] == 2}
    shared = a & b
    # every original chunk that doesn't contain the edit point survives
    assert len(shared) >= len(a) - 2
    # the edited doc gained at least the modified chunk
    assert b - a
    # chunk reassembly is lossless: concatenation == the token stream
    for doc_id, text in ((1, base), (2, edited)):
        ordered = sorted(
            (r for r in rows if r["doc_id"] == doc_id),
            key=lambda r: r["chunk_idx"],
        )
        assert " ".join(r["chunk_text"] for r in ordered) == text
        assert all(r["n_tokens"] == len(r["chunk_text"].split())
                   for r in ordered)


def test_cdc_chunks_empty_doc(spark):
    from trollflow2_spark.extensions.text import cdc_chunks

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "hello world")], ["doc_id", "text"]
    )
    rows = cdc_chunks(df, mod=4, seed=37).collect()
    assert {r["doc_id"] for r in rows} == {3}


def test_best_representatives_argmax_and_ties(spark):
    """Each cluster ships its highest-quality member; ties break to the
    smallest id; singletons represent themselves."""
    from trollflow2_spark.extensions.dedup import (
        best_representatives,
        duplicate_clusters,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    quality = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 7), (6, 9), (7, 1)],
        ["doc_id", "n_chars"],
    )
    clusters = duplicate_clusters(docs, pairs)
    reps = {
        r["cluster_id"]: r
        for r in best_representatives(clusters, quality).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie at 30 -> smallest id 2 wins
    assert reps[1]["doc_id"] == 2 and reps[1]["cluster_size"] == 3
    # cluster {5,6}: 6 (9) beats 5 (7)
    assert reps[5]["doc_id"] == 6 and reps[5]["cluster_size"] == 2
    # singletons 4 and 7 represent themselves
    assert reps[4]["doc_id"] == 4 and reps[7]["doc_id"] == 7
    assert len(reps) == 4


def test_cms_sketch_mergeable_and_one_sided(spark):
    """Two half-corpus sketches summed cell-wise equal the full-corpus
    sketch (the mergeable-state property), and estimates never
    undercount."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.snapshot import (
        cms_heavy_hitter_audit,
        cms_sketch,
    )

    rows = [(i, f"w{i % 5} w{i % 3} common") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = df.where(F.col("doc_id") < 20)
    b = df.where(F.col("doc_id") >= 20)
    full = {
        (r["row"], r["cell"]): r["cnt"]
        for r in cms_sketch(df, width=64).collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in cms_sketch(part, width=64).collect():
            k = (r["row"], r["cell"])
            merged[k] = merged.get(k, 0) + r["cnt"]
    assert merged == full

    audit = cms_heavy_hitter_audit(df, k=5, width=64).collect()
    assert len(audit) == 5
    for r in audit:
        assert r["overestimate"] >= 0  # CMS never undercounts
        assert r["cms_est"] == r["exact_cnt"] + r["overestimate"]
    top = max(audit, key=lambda r: r["exact_cnt"])
    assert top["tok"] == "common" and top["exact_cnt"] == 40


def test_expectations_rules_catch_planted_defects(spark):
    from trollflow2_spark.extensions.profile import (
        expect_foreign_key,
        expect_not_null,
        expect_range,
        expect_unique,
        expectations_report,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)],
        "id long, fk int",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    vals = spark.createDataFrame(
        [(1, 5.0), (1, 60.0), (2, None)], "k int, v double"
    )
    rep = {
        r["rule"]: r
        for r in expectations_report(
            [
                expect_not_null(child, "fk"),
                expect_unique(vals, "k"),
                expect_range(vals, "v", 0.0, 50.0),
                expect_foreign_key(child, "fk", parent, "pk"),
            ]
        ).collect()
    }
    assert rep["not_null:fk"]["n_violations"] == 1
    assert rep["unique:k"]["n_violations"] == 1  # k=1 twice
    # 60.0 out of range AND the NULL fails (unknown is not known-good)
    assert rep["range:v:[0.0,50.0]"]["n_violations"] == 2
    # fk=99 orphaned, fk=NULL orphaned
    assert rep["fk:fk->pk"]["n_violations"] == 2
    assert all(r["pass"] == 0 for r in rep.values())


def test_script_mixing_and_meta_robots(spark):
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.text import script_mixing_audit
    from trollflow2_spark.extensions.warc import meta_robots_flags

    # homoglyph plant: 'пример' is pure Cyrillic (not mixed), 'sаle'
    # hides a Cyrillic а inside a Latin word (mixed + confusable)
    rows = [(1, "clean ascii text"), (2, "big sаle now"),
            (3, "пример текста")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_mixing_audit(df).collect()}
    assert out[1]["suspicious"] == 0 and out[1]["n_confusable_chars"] == 0
    assert out[2]["n_mixed_tokens"] == 1 and out[2]["suspicious"] == 1
    assert out[2]["n_confusable_chars"] == 1
    # pure-Cyrillic text is foreign, not spoofed: no MIXED tokens
    assert out[3]["n_mixed_tokens"] == 0 and out[3]["suspicious"] == 0

    pages = spark.createDataFrame(
        [
            (1, '<head><meta name="robots" content="NOINDEX"></head>'
                '<body><a href="x">l</a></body>'),
            (2, '<head><meta content="none" name="robots"></head>'
                '<body><a href="x">l</a><a href="y" rel="nofollow">m</a>'
                "</body>"),
            (3, "<body><a href=\"x\" rel=\"nofollow\">l</a>"
                '<a href="y">m</a></body>'),
        ],
        "doc_id long, html string",
    )
    fl = pages.select("doc_id", meta_robots_flags(F.col("html")).alias("f"))
    got = {r["doc_id"]: r["f"] for r in fl.collect()}
    assert got[1]["noindex"] == 1 and got[1]["nofollow"] == 0
    # 'none' implies both, reversed attribute order parses, page-level
    # nofollow zeroes the follow count
    assert got[2]["noindex"] == 1 and got[2]["nofollow"] == 1
    assert got[2]["n_follow_links"] == 0
    assert got[3]["noindex"] == 0
    assert got[3]["n_links"] == 2 and got[3]["n_follow_links"] == 1


def _wav_bytes(samples, rate=8000, nch=1, width=2):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(width)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_audio_samples_decode_paths(spark):
    """Real stdlib decode: mono passthrough, channel 0 of stereo,
    non-PCM16 width quarantined (no row), junk bytes quarantined."""
    from trollflow2_spark.extensions.multimodal import audio_samples

    stereo = [1, -1, 2, -2, 3, -3]  # interleaved L/R
    rows = [
        (0, _wav_bytes([5, -6, 7])),
        (1, _wav_bytes(stereo, nch=2)),
        (2, _wav_bytes([1, 2], width=1)),  # 8-bit: skipped
        (3, b"not a wav"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r for r in audio_samples(df).collect()}
    assert set(got) == {0, 1}
    assert got[0]["samples"] == [5, -6, 7]
    assert got[1]["samples"] == [1, 2, 3]  # channel 0 only
    assert got[0]["rate"] == 8000


def test_audio_quality_stats_edges(spark):
    """Run folds and clip detection: all-silent clip (lead == run ==
    n), negative full-scale counts as clipped, empty clip yields
    zeros."""
    from trollflow2_spark.extensions.multimodal import (
        audio_quality_stats,
    )

    rows = [
        (0, 8000, [0, 1, -2, 0, 0]),            # all silent (thr=2)
        (1, 8000, [0, 0, 100, 0, 0, 0, 50]),     # lead 2, run 3
        (2, 8000, [32767, -32768, 100]),         # both rails clip
        (3, 8000, []),                            # empty
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, rate int, samples array<int>"
    )
    got = {r["doc_id"]: r for r in audio_quality_stats(df).collect()}
    assert (got[0]["lead_silence"], got[0]["longest_silence"]) == (5, 5)
    assert got[0]["n_clipped"] == 0
    assert (got[1]["lead_silence"], got[1]["longest_silence"]) == (2, 3)
    assert got[2]["n_clipped"] == 2
    assert got[2]["peak"] == 32768
    assert (got[3]["n_samples"], got[3]["peak"], got[3]["rms_milli"],
            got[3]["longest_silence"], got[3]["lead_silence"]) == (
        0, 0, 0, 0, 0)
    # rms fixed point: [100] -> exactly 100000 milli
    one = spark.createDataFrame(
        [(9, 8000, [100])], "doc_id long, rate int, samples array<int>"
    )
    assert audio_quality_stats(one).collect()[0]["rms_milli"] == 100000


def test_domain_boilerplate_gate(spark):
    """Boilerplate drops EVERY occurrence (vs line_dedup's
    keep-first); small domains are exempt; fully-boilerplate docs
    survive with empty text."""
    from trollflow2_spark.extensions.dedup import domain_boilerplate

    rows = [
        # domain A: 4 pages, 'nav' on all of them
        (1, "A", "nav\nbody1"),
        (2, "A", "nav\nbody2"),
        (3, "A", "nav\nbody3"),
        (4, "A", "nav"),          # only boilerplate -> empty
        # domain B: 2 pages (< min_pages): nothing dropped
        (5, "B", "nav\nbodyb"),
        (6, "B", "nav"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])
    got = {r["doc_id"]: r for r in domain_boilerplate(df).collect()}
    assert got[1]["text"] == "body1"
    assert got[2]["text"] == "body2"          # not just first kept
    assert (got[4]["text"], got[4]["n_lines_kept"]) == ("", 0)
    assert got[4]["n_lines"] == 1
    assert got[5]["text"] == "nav\nbodyb"     # exempt domain untouched
    assert got[6]["text"] == "nav"


def test_point_in_time_join_semantics(spark):
    """Version boundaries: ts exactly at valid_from belongs to the
    NEW version (half-open ranges); pre-history and unknown-key facts
    drop; the current (NULL valid_to) version is open-ended."""
    from datetime import datetime as DT

    from trollflow2_spark.extensions.profile import point_in_time_join

    hist = spark.createDataFrame(
        [
            (1, "v1", DT(2020, 1, 1), DT(2021, 1, 1)),
            (1, "v2", DT(2021, 1, 1), None),
        ],
        ["k", "ver", "valid_from", "valid_to"],
    )
    facts = spark.createDataFrame(
        [
            (10, 1, DT(2020, 6, 1)),   # inside v1
            (11, 1, DT(2021, 1, 1)),   # boundary -> v2
            (12, 1, DT(2030, 1, 1)),   # far future -> v2 (open)
            (13, 1, DT(2019, 1, 1)),   # pre-history -> dropped
            (14, 9, DT(2021, 1, 1)),   # unknown key -> dropped
        ],
        ["fid", "k", "ts"],
    )
    got = {r["fid"]: r["ver"]
           for r in point_in_time_join(facts, hist, "k").collect()}
    assert got == {10: "v1", 11: "v2", 12: "v2"}


def test_label_propagation_communities(spark):
    """Two dense triangles joined by one bridge edge must settle on
    two communities (CC would merge them into one); isolated nodes
    keep their own label; synchronous = deterministic."""
    from trollflow2_spark.extensions.dedup import (
        connected_components,
        label_propagation,
    )

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    loner = [(99, 99)]
    pairs = spark.createDataFrame(
        tri1 + tri2 + bridge + loner, ["id_a", "id_b"]
    )
    lp = {r["id"]: r["community"]
          for r in label_propagation(pairs, iters=4).collect()}
    assert lp[1] == lp[2] == lp[3]
    assert lp[10] == lp[11] == lp[12]
    assert lp[1] != lp[10]          # the bridge does NOT merge them
    assert lp[99] == 99
    cc = {r["id"]: r["cluster_id"]
          for r in connected_components(pairs).collect()}
    assert cc[1] == cc[12]          # reachability DOES merge them
    # determinism: a second run is identical
    lp2 = {r["id"]: r["community"]
           for r in label_propagation(pairs, iters=4).collect()}
    assert lp == lp2


def test_embedding_pair_gate(spark):
    """Aligned pairs pass, orthogonal/mismatched pairs fail, and the
    rounded-before-gate contract holds at the threshold itself."""
    from trollflow2_spark.extensions.similarity import embedding_pair_gate

    rows = [
        (1, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),     # identical -> 1.0
        (2, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),     # orthogonal -> 0.0
        (3, [1.0, 0.0, 0.0], [-1.0, 0.0, 0.0]),    # opposite -> -1.0
        (4, [3.0, 4.0, 0.0], [3.0, 4.0, 0.0]),     # scale-free
    ]
    df = spark.createDataFrame(
        rows, "pid long, vec_a array<double>, vec_b array<double>"
    )
    got = {r["pid"]: (r["pair_cos"], r["kept"])
           for r in embedding_pair_gate(df, threshold=0.8).collect()}
    assert got[1] == (1.0, 1)
    assert got[2] == (0.0, 0)
    assert got[3] == (-1.0, 0)
    assert got[4] == (1.0, 1)
    # exactly-at-threshold keeps (>=), on the rounded value
    at = spark.createDataFrame(
        [(9, [1.0, 0.5], [1.0, 0.5])],
        "pid long, vec_a array<double>, vec_b array<double>",
    )
    r = embedding_pair_gate(at, threshold=1.0).collect()[0]
    assert (r["pair_cos"], r["kept"]) == (1.0, 1)


def test_readability_features(spark):
    """Syllable heuristic (vowel runs, silent-e, floor), sentence
    floor for headline-like text, and known-text scores."""
    from trollflow2_spark.extensions.text import readability_features

    rows = [
        (1, "The cat sat."),            # 3 one-syllable words
        (2, "make"),                     # silent e: 1 syllable
        (3, "be"),                       # trailing e IS the vowel: 1
        (4, "readability"),              # rea-da-bi-li-ty -> 5 runs
        (5, "no terminator here"),       # sentence floor = 1
        (6, "One. Two! Three? "),        # 3 sentences
        (7, "rhythm"),                   # y as vowel: 1 run
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in readability_features(df).collect()}
    assert (got[1]["n_words"], got[1]["n_sentences"],
            got[1]["n_syllables"]) == (3, 1, 3)
    assert got[2]["n_syllables"] == 1
    assert got[3]["n_syllables"] == 1
    assert got[4]["n_syllables"] == 5
    assert got[5]["n_sentences"] == 1
    assert got[6]["n_sentences"] == 3
    assert got[7]["n_syllables"] == 1
    # flesch for 'The cat sat.': 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert abs(got[1]["flesch"] - 119.19) < 1e-9


def test_moments_profile_merge_invariance(spark):
    """The moments state must be partition-order invariant (exact
    decimal sums) and match closed-form stats on a known sample."""
    from trollflow2_spark.extensions.profile import moments_profile

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    df1 = spark.createDataFrame(
        [("g", v) for v in vals], ["g", "v"]
    ).repartition(1)
    df8 = spark.createDataFrame(
        [("g", v) for v in vals], ["g", "v"]
    ).repartition(8)
    r1 = moments_profile(df1, "v", ["g"]).collect()[0]
    r8 = moments_profile(df8, "v", ["g"]).collect()[0]
    assert r1.asDict() == r8.asDict()
    assert r1["mean"] == 4.5
    assert r1["variance"] == 5.25  # population variance of 1..8
    assert r1["skewness"] == 0.0   # symmetric
    assert (r1["min_units"], r1["max_units"]) == (1000, 8000)


def test_drift_psi_detects_shift(spark):
    """Identical snapshots -> PSI ~ 0; a shifted group scores far
    higher; empty buckets stay finite via smoothing."""
    from trollflow2_spark.extensions.profile import drift_psi

    base = [("a", float(v % 100)) for v in range(400)]
    ref = spark.createDataFrame(base, ["g", "v"])
    same = spark.createDataFrame(base, ["g", "v"])
    shifted = spark.createDataFrame(
        [("a", v + 150.0) for _, v in base], ["g", "v"]
    )
    psi_same = drift_psi(
        ref, same, "v", ["g"], bucket_width=25.0, n_buckets=10
    ).collect()[0]["psi"]
    psi_shift = drift_psi(
        ref, shifted, "v", ["g"], bucket_width=25.0, n_buckets=10
    ).collect()[0]["psi"]
    assert abs(psi_same) < 1e-9
    assert psi_shift > 1.0


def test_delta_log_snapshot_semantics(spark):
    """Add -> remove kills a file; re-add after remove revives it;
    same-commit add+remove resolves to remove; time travel hides
    later commits; duplicate adds keep the latest size."""
    from trollflow2_spark.extensions.profile import delta_log_snapshot

    lines = [
        (0, '{"add":{"path":"a","size":10}}'),
        (0, '{"add":{"path":"b","size":20}}'),
        (1, '{"remove":{"path":"a"}}'),
        (2, '{"add":{"path":"a","size":11}}'),      # revived
        (3, '{"add":{"path":"c","size":30}}'),
        (3, '{"remove":{"path":"c"}}'),              # same-commit: remove
        (4, '{"add":{"path":"b","size":21}}'),       # dup add: new size
        (5, '{"remove":{"path":"b"}}'),              # beyond as_of below
        (0, '{"metaData":{"id":"x"}}'),              # ignored action
        (0, "not json at all"),                      # ignored garbage
    ]
    log = spark.createDataFrame(lines, ["version", "line"])
    full = {r["path"]: (r["size"], r["last_version"])
            for r in delta_log_snapshot(log).collect()}
    assert full == {"a": (11, 2)}  # b removed at 5, c dead at 3
    asof4 = {r["path"]: (r["size"], r["last_version"])
             for r in delta_log_snapshot(log, as_of_version=4).collect()}
    assert asof4 == {"a": (11, 2), "b": (21, 4)}


def test_delta_checkpoint_replay_semantics(spark):
    """Checkpoint base + JSON tail: tail removes kill checkpoint
    files, tail re-adds revive them, untouched files report the
    checkpoint version; time travel before the checkpoint raises."""
    import pytest as _pytest
    from pyspark.sql import functions as _F

    from trollflow2_spark.extensions.profile import (
        delta_snapshot_from_checkpoint,
        parse_last_checkpoint,
    )

    ckpt = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 30)], ["p", "s"]
    ).select(
        _F.struct(
            _F.col("p").alias("path"), _F.col("s").cast("bigint").alias("size")
        ).alias("add"),
        _F.lit(None).cast("struct<path: string>").alias("remove"),
    )
    tail = spark.createDataFrame(
        [
            (15, '{"remove":{"path":"a"}}'),
            (16, '{"add":{"path":"a","size":11}}'),   # revived
            (17, '{"remove":{"path":"b"}}'),           # gone
            (18, '{"add":{"path":"d","size":40}}'),    # new file
            (14, '{"remove":{"path":"c"}}'),           # stale dup of ckpt-era commit: ignored
        ],
        ["version", "line"],
    )
    got = {
        r["path"]: (r["size"], r["last_version"])
        for r in delta_snapshot_from_checkpoint(ckpt, tail, 14).collect()
    }
    assert got == {"a": (11, 16), "c": (30, 14), "d": (40, 18)}
    asof = {
        r["path"]: r["last_version"]
        for r in delta_snapshot_from_checkpoint(
            ckpt, tail, 14, as_of_version=15
        ).collect()
    }
    assert asof == {"b": 14, "c": 14}  # a removed at 15
    with _pytest.raises(ValueError, match="vacuum"):
        delta_snapshot_from_checkpoint(ckpt, tail, 14, as_of_version=9)
    lc = parse_last_checkpoint('{"version": 14, "size": 3}')
    assert lc["version"] == 14 and lc["size"] == 3
    with _pytest.raises(ValueError):
        parse_last_checkpoint("{}")


def test_file_skip_plan_footer_decisions(spark, tmp_path):
    """Skip decisions come from real footer stats; a statless column
    (all-null) must degrade to must-scan, never a wrong skip."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trollflow2_spark.extensions.profile import file_skip_plan

    p1 = str(tmp_path / "a.parquet")
    pq.write_table(
        pa.table({"v": pa.array([1, 2, 3, 100, 200, 300], pa.int64())}),
        p1, row_group_size=3,
    )
    out = {(r["file_name"], r["rg"]): r for r in file_skip_plan(
        spark, [p1], "v", 50, 99
    ).collect()}
    # rg0: [1,3] below range -> skip; rg1: [100,300] above -> skip
    assert out[("a.parquet", 0)]["skippable"] == 1
    assert out[("a.parquet", 1)]["skippable"] == 1
    both = file_skip_plan(spark, [p1], "v", 2, 150).collect()
    assert all(r["skippable"] == 0 for r in both)  # both overlap
    # all-null column: pyarrow writes no usable min/max -> must scan
    p2 = str(tmp_path / "b.parquet")
    pq.write_table(
        pa.table({"v": pa.array([None, None], pa.int64())}), p2
    )
    r = file_skip_plan(spark, [p2], "v", 0, 1).collect()[0]
    assert r["skippable"] == 0


def test_dp_noisy_counts_mechanism(spark):
    """Suppression removes small groups entirely; noise is
    deterministic under a seed, changes with the seed, and has
    Laplace-ish spread (bounded sanity, not a statistical test)."""
    from trollflow2_spark.extensions.profile import dp_noisy_counts

    rows = [("a",)] * 20 + [("b",)] * 3 + [("c",)] * 50
    df = spark.createDataFrame(rows, ["g"])
    out = {r["g"]: r for r in dp_noisy_counts(
        df, ["g"], epsilon=1.0, seed=7, min_group=5
    ).collect()}
    assert set(out) == {"a", "c"}          # b suppressed, not zeroed
    assert out["a"]["n"] == 20
    assert out["a"]["noisy_n"] != 20       # noise actually applied
    again = {r["g"]: r["noisy_n"] for r in dp_noisy_counts(
        df, ["g"], epsilon=1.0, seed=7, min_group=5
    ).collect()}
    assert again["a"] == out["a"]["noisy_n"]   # replayable
    other = {r["g"]: r["noisy_n"] for r in dp_noisy_counts(
        df, ["g"], epsilon=1.0, seed=8, min_group=5
    ).collect()}
    assert other["a"] != out["a"]["noisy_n"]   # seed matters
    # tighter epsilon -> bigger noise magnitude for the same seed
    loose = {r["g"]: r["noisy_n"] for r in dp_noisy_counts(
        df, ["g"], epsilon=0.1, seed=7, min_group=5
    ).collect()}
    assert abs(loose["a"] - 20) > abs(out["a"]["noisy_n"] - 20)


def test_statistics_tier_known_values(spark):
    """Correlation hits +1/-1/0 on constructed columns; MI is 0 for
    independent columns and ln(2) for a perfect 2x2 coupling; the
    z-test signs follow the better variant."""
    import math

    from trollflow2_spark.extensions.profile import (
        correlation_matrix,
        mutual_information,
        two_proportion_ztest,
    )

    rows = [(float(i), float(2 * i), float(-3 * i), 5.0)
            for i in range(1, 9)]
    df = spark.createDataFrame(rows, ["a", "b", "c", "d"])
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in
           correlation_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert got[("a", "b")] == 1.0
    assert got[("a", "c")] == -1.0
    assert got[("a", "d")] is None  # constant column: no variance

    dep = spark.createDataFrame(
        [("x", "u")] * 10 + [("y", "v")] * 10, ["l", "s"]
    )
    mi = mutual_information(dep, "l", "s").collect()[0]
    assert abs(mi["mi_nats"] - math.log(2)) < 1e-6
    ind = spark.createDataFrame(
        [("x", "u")] * 5 + [("x", "v")] * 5
        + [("y", "u")] * 5 + [("y", "v")] * 5, ["l", "s"]
    )
    assert mutual_information(ind, "l", "s").collect()[0]["mi_nats"] == 0.0

    ab = spark.createDataFrame(
        [("A", 1)] * 30 + [("A", 0)] * 70
        + [("B", 1)] * 10 + [("B", 0)] * 90, ["v", "s"]
    )
    r = two_proportion_ztest(ab, "v", "s").collect()[0]
    assert (r["rate_a_pm"], r["rate_b_pm"]) == (300, 100)
    assert r["z"] > 3.0  # A better, strongly


def test_ks_test_exactness(spark):
    """Identical samples -> D = 0 exactly; disjoint samples -> D = 1;
    a known half-shift gives the hand-computed sup distance."""
    from trollflow2_spark.extensions.profile import ks_test

    same = [("g", float(v)) for v in range(10)]
    ref = spark.createDataFrame(same, ["g", "v"])
    cur = spark.createDataFrame(same, ["g", "v"])
    assert ks_test(ref, cur, "v", ["g"]).collect()[0]["d"] == 0.0
    hi = spark.createDataFrame(
        [("g", float(v + 100)) for v in range(10)], ["g", "v"]
    )
    assert ks_test(ref, hi, "v", ["g"]).collect()[0]["d"] == 1.0
    # ref = {0..9}, cur = {5..14}: sup gap at v=4.x is 5/10 = 0.5
    half = spark.createDataFrame(
        [("g", float(v + 5)) for v in range(10)], ["g", "v"]
    )
    r = ks_test(ref, half, "v", ["g"]).collect()[0]
    assert (r["d"], r["d_scaled"]) == (0.5, 50)


def test_delta_log_changes_semantics(spark):
    """added/removed/updated between versions; unchanged suppressed;
    inverted window raises."""
    import pytest as _pytest

    from trollflow2_spark.extensions.profile import delta_log_changes

    lines = [
        (0, '{"add":{"path":"a","size":10}}'),
        (0, '{"add":{"path":"b","size":20}}'),
        (0, '{"add":{"path":"c","size":30}}'),
        (5, '{"remove":{"path":"b"}}'),          # removed in window
        (6, '{"add":{"path":"c","size":31}}'),   # updated
        (7, '{"add":{"path":"d","size":40}}'),   # added
    ]
    log = spark.createDataFrame(lines, ["version", "line"])
    got = {r.path: r.change
           for r in delta_log_changes(log, 0, 10).collect()}
    assert got == {"b": "removed", "c": "updated", "d": "added"}
    # 'a' unchanged: suppressed entirely
    with _pytest.raises(ValueError, match="to_version"):
        delta_log_changes(log, 10, 0)
