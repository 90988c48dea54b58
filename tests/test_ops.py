"""Training-data-pipeline operator tests (ops/): dedup family, similarity,
text analysis, multimodal plumbing — small inputs, hand-checkable outputs.
The sf-scale oracle equivalence is covered by tools/check_queries.py /
the driver's DuckDB compare; these tests pin the operator *semantics*."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from datascrapexter_spark.ops import dedup, multimodal, similarity, textstats


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_keep_first(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "other"),
            (4, "same text"), (5, "other")]
    df = spark.createDataFrame(rows, "id long, text string")
    kept = sorted(r["id"] for r in
                  dedup.exact_dedup(df, ["text"], "id").collect())
    assert kept == [1, 3]
    kept_last = sorted(r["id"] for r in
                       dedup.exact_dedup(df, ["text"], "id", keep="last").collect())
    assert kept_last == [4, 5]


def test_exact_dedup_multi_column_separator(spark):
    # ("ab","c") must NOT collide with ("a","bc")
    df = spark.createDataFrame([(1, "ab", "c"), (2, "a", "bc")],
                               "id long, a string, b string")
    assert dedup.exact_dedup(df, ["a", "b"], "id").count() == 2


def test_shingles_col(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    got = df.select(dedup.shingles_col("text", 3).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == ["x y"]  # shorter than n -> single short shingle


def test_ngram_jaccard_pairs(spark):
    # doc1/doc2 share most shingles; doc3 disjoint
    rows = [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5 w6"), (3, "z1 z2 z3 z4")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # doc1: {123,234,345}; doc2: {123,234,345,456}; common=3, union=4
    assert got == {(1, 2): pytest.approx(0.75)}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base + " tail"), (3, "completely different words "
                                               "nothing shared here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", n=3,
                                    num_hashes=16, bands=4, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_minhash_signature_matches_python(spark):
    """Signature h_s = min over distinct shingles of the s-th 32-bit hex
    slice of md5(shingle + '#' + s//4) — 4 hash functions per digest."""
    text = "a b c d e"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sig = dedup.minhash_signature(df, "doc_id", "text", n=3,
                                  num_hashes=8).collect()[0]
    toks = text.split(" ")
    shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    for s in range(8):
        expect = min(
            hashlib.md5(f"{sh}#{s // 4}".encode()).hexdigest()
            [8 * (s % 4):8 * (s % 4) + 8]
            for sh in shingles)
        assert sig[f"h{s}"] == expect


def test_simhash_identical_and_mutated(spark):
    rows = [(1, "aa bb cc dd ee ff gg hh"), (2, "aa bb cc dd ee ff gg hh"),
            (3, "aa bb cc dd ee ff gg hh zz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"]
          for r in dedup.simhash_df(df, "doc_id", "text", bits=32).collect()}
    assert fp[1] == fp[2]  # identical text -> identical fingerprint
    pairs = dedup.simhash_pairs(df, "doc_id", "text", bits=32,
                                max_hamming=3, chunks=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    # one added token flips few bits; (1,3) expected within small distance
    h13 = bin(fp[1] ^ fp[3]).count("1")
    assert ((1, 3) in got) == (h13 <= 3)


def test_embedding_neardup(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_neardup_pairs(df, "vec_id", "embedding", 0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_embedding_neardup_lsh_subset_of_exact(spark):
    """The bucketed variant must emit a subset of the exact pairs with
    IDENTICAL cosine values (precision 1), and find same-bucket near-dups."""
    rows = [
        (1, [1.0, 0.05, 0.0, 0.0]),
        (2, [0.99, 0.06, 0.0, 0.0]),     # near-dup of 1
        (3, [0.0, 0.0, 1.0, 0.02]),
        (4, [0.0, 0.0, 0.99, 0.03]),     # near-dup of 3
        (5, [-1.0, 0.5, -0.5, 0.25]),    # far from everything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_neardup_pairs(
            df, "vec_id", "embedding", 0.99).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_neardup_pairs_lsh(
            df, "vec_id", "embedding", dim=4, threshold=0.99,
            n_planes=4, n_plane_sets=2).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == pytest.approx(exact[k])
    # identical-direction pairs share every bucket -> always recalled
    assert (1, 2) in lsh and (3, 4) in lsh


def test_ngram_jaccard_doc_freq_cap_keeps_exact_values(spark):
    """The cap prunes candidate generation only: surviving pairs report the
    exact UNCAPPED jaccard."""
    rows = [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5 w6"),
            (3, "w1 w2 w3 zz yy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.1).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.1,
            max_shingle_doc_freq=2).collect()
    }
    # shingle "w1 w2 w3" occurs in all 3 docs -> dropped from candidate
    # generation, but pairs still sharing a rarer shingle keep exact values
    assert set(capped) <= set(uncapped)
    for k, v in capped.items():
        assert v == pytest.approx(uncapped[k])
    assert (1, 2) in capped  # shares "w2 w3 w4" etc. (doc freq 2)


def test_minhash_doc_freq_cap(spark):
    """Capped signatures ignore boilerplate shingles; verification stays
    exact-uncapped so emitted jaccards equal the uncapped operator's."""
    boiler = "all rights reserved by the site"
    rows = [(1, f"u1 u2 u3 u4 {boiler}"), (2, f"u1 u2 u3 u4 {boiler}"),
            (3, f"z1 z2 z3 z4 {boiler}"), (4, f"q1 q2 q3 q4 {boiler}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=3, num_hashes=16, bands=4,
            threshold=0.3, max_shingle_doc_freq=3).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=3, num_hashes=16, bands=4,
            threshold=0.3).collect()
    }
    # true duplicates (1,2) survive the cap with the exact uncapped jaccard
    assert capped[(1, 2)] == pytest.approx(1.0)
    assert capped[(1, 2)] == pytest.approx(uncapped[(1, 2)])
    # boilerplate-only overlap: every shared shingle has doc freq 4 > cap,
    # so those pairs can no longer become candidates via boilerplate
    assert (3, 4) not in capped
    for k, v in capped.items():
        assert v == pytest.approx(uncapped[k])


def test_exact_dedup_null_positional_identity(spark):
    """('x', NULL) and (NULL, 'x') must NOT be conflated (concat_ws would
    silently skip the NULL without the sentinel coalesce)."""
    rows = [(1, "x", None), (2, None, "x"), (3, "x", None)]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    kept = dedup.exact_dedup(df, ["a", "b"], order_col="id")
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == [1, 2]  # 3 duplicates 1; 2 is distinct


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def _unit(vec):
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec]


def test_cosine_topk_exact(spark):
    corpus = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    corpus.append((10, _unit([1.0, 1.0, 0.0, 0.0])))
    df = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    got = similarity.cosine_topk(df, q, k=3).collect()
    ranked = [(r["rank"], r["cid"], r["cos"]) for r in got]
    assert ranked[0] == (1, 0, 1.0)                      # self first
    assert ranked[1][1] == 10 and ranked[1][2] == pytest.approx(0.707107)
    # dims 1..3 tie at 0 -> lowest cid wins rank 3
    assert ranked[2][1] == 1 and ranked[2][2] == 0.0


def test_srp_planes_deterministic():
    p1 = similarity.srp_plane(0, 8)
    p2 = similarity.srp_plane(0, 8)
    assert p1 == p2 and set(p1) <= {1.0, -1.0}
    assert similarity.srp_plane(1, 8) != p1


def test_ann_lsh_same_bucket_self_hit(spark):
    rows = [(i, [math.sin(i * 7.1 + j) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    got = similarity.ann_topk_lsh(df, q, dim=8, k=3, n_planes=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    # every query finds at least itself (same bucket), ranked 1 with cos 1.0
    for qid, rows_ in by_q.items():
        top = min(rows_, key=lambda r: r["rank"])
        assert top["cid"] == qid and top["cos"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------


def test_lang_id(spark):
    rows = [(1, "the cat and the dog sat on a mat"),
            (2, "der Hund und die Katze sind nicht da"),
            (3, "le chat est dans la maison avec les enfants"),
            (4, "el perro y el gato en la casa"),
            (5, "zzz qqq www")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["lang"] for r in
           df.select("id", textstats.lang_id_col("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world, foo!",), ("",)], "text string")
    got = df.select(
        textstats.token_count_col("text").alias("ws"),
        textstats.bpe_token_count_col("text").alias("bpe"),
    ).collect()
    assert (got[0]["ws"], got[0]["bpe"]) == (3, 5)  # hello world , foo !
    assert got[1]["ws"] == 0


def test_quality_and_fingerprint(spark):
    text = "The quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(text,), ("  The   QUICK brown fox jumps "
                                          "over the lazy dog ",)],
                               "text string")
    qc = textstats.quality_columns("text")
    row = df.select(*[v.alias(k) for k, v in qc.items()],
                    textstats.fingerprint_col("text").alias("fp")).collect()
    r0 = row[0]
    assert r0["n_tokens"] == 9
    assert r0["alpha_ratio"] == 1.0
    assert 0.0 < r0["stopword_ratio"] < 1.0
    assert r0["quality_score"] == pytest.approx(0.4 + 0.3 + 0.3)
    # fingerprint is whitespace/case-insensitive (normalized form)
    assert row[0]["fp"] == row[1]["fp"]
    expect = hashlib.md5(text.lower().encode()).hexdigest()[:16]
    assert r0["fp"] == expect


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_multimodal_fake_decode_and_frames(spark):
    df = spark.createDataFrame([(1, b"x" * 100), (2, b"y" * 7)],
                               "id long, payload binary")
    meta = multimodal.decode_media_df(df, "payload", fake=True)
    rows = {r["id"]: r for r in meta.collect()}
    assert rows[1]["byte_len"] == 100
    assert rows[1]["width"] == 64 + (100 % 577)
    assert rows[1]["height"] == 64 + ((100 * 31) % 433)
    assert rows[1]["n_frames"] == 1 + (100 % 7)
    assert "payload" not in meta.columns  # blob dropped after decode
    frames = multimodal.sample_frames_df(meta, every_nth=2)
    n1 = frames.filter(F.col("id") == 1).count()
    assert n1 == (rows[1]["n_frames"] + 1) // 2


def test_multimodal_real_codec_refused_at_plan_build(spark):
    df = spark.createDataFrame([(1, b"img")], "id long, payload binary")
    # sandbox ships no Pillow: resolution must refuse on the DRIVER at
    # plan-build time, never silently downgrade to the fake
    assert "pillow" not in multimodal.available_codecs()
    with pytest.raises(NotImplementedError, match="fake"):
        multimodal.decode_media_df(df, "payload", fake=False)


def test_multimodal_codec_seam_contract(spark, monkeypatch):
    """Mirror of test_html_backends for the image-codec seam: env pin
    errors on a missing codec; a registered codec is selected by
    preference and runs inside the mapInPandas pass."""
    df = spark.createDataFrame([(1, b"abcd")], "id long, payload binary")
    monkeypatch.setenv("DSX_IMAGE_CODEC", "libvips-not-installed")
    with pytest.raises(ValueError, match="not available"):
        multimodal.decode_media_df(df, "payload")
    monkeypatch.delenv("DSX_IMAGE_CODEC")

    multimodal.register_codec("pillow", lambda blob: (len(blob) * 10,
                                                      len(blob) * 20, 2))
    try:
        assert multimodal.select_codec() == "pillow"
        row = multimodal.decode_media_df(df, "payload").collect()[0]
        assert (row["width"], row["height"], row["n_frames"]) == (40, 80, 2)
        # explicit fake still wins over an importable real codec
        row = multimodal.decode_media_df(df, "payload",
                                         fake=True).collect()[0]
        assert row["width"] == 64 + (4 % 577)
    finally:
        multimodal._CODEC_REGISTRY.pop("pillow", None)


def test_attach_media_column(spark):
    df = spark.createDataFrame([(1, b"abc")], "id long, payload binary")
    out = multimodal.attach_media_column(df, "payload").collect()[0]
    assert out["media"]["media_type"] == "image"
    assert out["media"]["byte_len"] == 3
    assert out["media"]["width"] is None


# ---------------------------------------------------------------------------
# enrichment
# ---------------------------------------------------------------------------


def test_enrich_merge_and_conflict_semantics(spark):
    from datascrapexter_spark.ops.enrich import enrich

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, "keep"), (3, "c", "orig")],
        "k long, name string, note string")
    src = spark.createDataFrame(
        [(1, "X", "s1"), (2, "Y", "s2")],
        "k long, extra string, note string")

    # default fill-only: original non-null values win; unmatched keys null
    out = {r["k"]: r for r in enrich(df, src, on="k").collect()}
    assert out[1]["extra"] == "X" and out[1]["note"] == "s1"   # null filled
    assert out[2]["note"] == "keep"                            # kept
    assert out[3]["extra"] is None and out[3]["note"] == "orig"

    # overwrite: source wins where non-null
    ow = {r["k"]: r for r in enrich(df, src, on="k", overwrite=True).collect()}
    assert ow[2]["note"] == "s2" and ow[3]["note"] == "orig"

    # prefix applies to newly added columns
    pf = enrich(df, src, on="k", prefix="enr_")
    assert "enr_extra" in pf.columns and "note" in pf.columns

    # broadcast=True pins a broadcast hash join
    plan = (enrich(df, src, on="k", broadcast=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan

    import pytest
    with pytest.raises(ValueError, match="both sides"):
        enrich(df, src.drop("k"), on="k")


def test_ivf_topk_full_probe_equals_exact(spark):
    """Probing every cell (n_probe == n_centroids) must reproduce the exact
    brute-force top-k bit-for-bit — the IVF recall-1 identity."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3)

    exact = sorted(
        (r["qid"], r["rank"], r["cid"], r["cos"])
        for r in similarity.cosine_topk(df, queries, k=4).collect()
    )
    full_probe = sorted(
        (r["qid"], r["rank"], r["cid"], r["cos"])
        for r in similarity.ivf_topk(df, queries, k=4, n_centroids=4,
                                     n_probe=4).collect()
    )
    assert full_probe == exact

    # partial probe: a subset with identical (qid, cid) -> cos values
    part = {
        (r["qid"], r["cid"]): r["cos"]
        for r in similarity.ivf_topk(df, queries, k=4, n_centroids=4,
                                     n_probe=1).collect()
    }
    ex = {(r["qid"], r["cid"]): r["cos"]
          for r in similarity.cosine_topk(df, queries, k=40).collect()}
    for key, cos in part.items():
        assert cos == pytest.approx(ex[key])


def test_ivf_kmeans_balances_clustered_cells(spark):
    """train_centroids (seeded Lloyd) on a CLUSTERED fixture: a raw
    md5-ordered pick can land several init centroids in one blob (hot
    cells at scale — round-3 verdict item #6); after training, every
    cluster owns a centroid, so cell sizes are bounded (max <= 2x median)
    and training is bit-reproducible."""
    import random

    rng = random.Random(3)
    centers = [[5.0 if d == c else 0.0 for d in range(4)] for c in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [x + rng.uniform(-0.2, 0.2) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents1 = similarity.train_centroids(df, "vec_id", "embedding", 4,
                                        n_iters=3, sample_size=128)
    cents2 = similarity.train_centroids(df, "vec_id", "embedding", 4,
                                        n_iters=3, sample_size=128)
    assert cents1 == cents2  # bit-reproducible recurrence

    sizes = sorted(
        r["n"] for r in df.select(
            similarity.assign_cells_col(
                dedup.as_double_array("embedding"), cents1).alias("cell"))
        .groupBy("cell").agg(F.count("*").alias("n")).collect())
    assert len(sizes) == 4          # no empty cells
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 2 * median, sizes  # balanced on the clustered blob


def test_ivf_cell_assignment_deterministic(spark):
    """Cell assignment ties resolve to the smaller cell id and the
    assignment is reproducible across runs."""
    rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.0])
            for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.pick_centroids(df, "vec_id", "embedding", 3)
    assert len(cents) == 3
    out1 = df.select(
        "vec_id",
        similarity.assign_cells_col(
            dedup.as_double_array("embedding"), cents).alias("cell"),
    ).collect()
    out2 = df.select(
        "vec_id",
        similarity.assign_cells_col(
            dedup.as_double_array("embedding"), cents).alias("cell"),
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert all(0 <= r["cell"] < 3 for r in out1)


def test_repetition_columns(spark):
    rows = [
        (1, "a a a b"),                    # top token 'a' x3 of 4
        (2, "x y z w"),                    # all distinct
        (3, "l1\nl1\nl2\n\n"),             # duplicate line
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rc = textstats.repetition_columns("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[rc[k].alias(k) for k in rc]).collect()
    }
    assert got[1]["top_token_ratio"] == pytest.approx(0.75)
    assert got[1]["distinct_token_ratio"] == pytest.approx(0.5)
    # bigrams of doc1: "a a", "a a", "a b" -> 2 distinct of 3
    assert got[1]["dup_bigram_ratio"] == pytest.approx(1 - 2 / 3, abs=1e-6)
    assert got[2]["top_token_ratio"] == pytest.approx(0.25)
    assert got[2]["dup_bigram_ratio"] == pytest.approx(0.0)
    # doc3 lines: l1, l1, l2 (empty filtered) -> 2 distinct of 3
    assert got[3]["dup_line_ratio"] == pytest.approx(1 - 2 / 3, abs=1e-6)


def test_indexed_ann_partition_pruned(spark, tmp_path):
    """Persisted bucket/cell-partitioned ANN indexes: probes read ONLY the
    queries' partitions (PartitionFilters in the scan — the claim in
    similarity.py's scale notes, proven) and return results identical to
    the unindexed operators."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3)

    def rows_of(res):
        return sorted((r["qid"], r["rank"], r["cid"], r["cos"])
                      for r in res.collect())

    # SRP-LSH index
    lsh_path = str(tmp_path / "lsh_idx")
    similarity.write_lsh_index(df, lsh_path, dim=8, n_planes=4)
    lsh_idx = similarity.ann_topk_lsh_indexed(
        spark, lsh_path, queries, dim=8, k=4, n_planes=4)
    assert rows_of(lsh_idx) == rows_of(
        similarity.ann_topk_lsh(df, queries, dim=8, k=4, n_planes=4))
    # the scan must carry a real bucket filter, not an empty list
    import re

    plan = lsh_idx._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)

    # IVF index
    ivf_path = str(tmp_path / "ivf_idx")
    cents = similarity.write_ivf_index(df, ivf_path, n_centroids=4)
    ivf_idx = similarity.ivf_topk_indexed(
        spark, ivf_path, queries, cents, k=4, n_probe=2)
    assert rows_of(ivf_idx) == rows_of(
        similarity.ivf_topk(df, queries, k=4, n_centroids=4, n_probe=2))
    plan2 = ivf_idx._jdf.queryExecution().executedPlan().toString()
    m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", plan2)
    assert m2 and "cell" in m2.group(1)


def test_connected_components_chain_and_isolates(spark):
    """Min-label propagation: a 4-node chain collapses to its min id in
    O(diameter) rounds; isolated nodes are their own cluster; symmetric
    input edges are not required (pairs are symmetrized internally)."""
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 3-1-5-2 (min 1), pair (4,6) (min 4), isolate 0
    pairs = spark.createDataFrame(
        [(3, 1), (1, 5), (5, 2), (4, 6)], "id_a long, id_b long")
    comp = {r["doc_id"]: r["cluster_id"]
            for r in dedup.connected_components(nodes, pairs).collect()}
    assert comp == {0: 0, 1: 1, 3: 1, 5: 1, 2: 1, 4: 4, 6: 4}

    reps = sorted(
        r["doc_id"] for r in dedup.dedup_representatives(
            nodes, pairs).collect())
    assert reps == [0, 1, 4]


def test_connected_components_deterministic_and_caps(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long")
    a = sorted(map(tuple, dedup.connected_components(nodes, pairs).collect()))
    b = sorted(map(tuple, dedup.connected_components(nodes, pairs).collect()))
    assert a == b == [(i, 0) for i in range(6)]
    # hitting the iteration cap no longer aborts: the star fallback
    # finishes with identical labels (local_threshold=0 forces the
    # distributed loop so the cap is actually exercised)
    c = sorted(map(tuple, dedup.connected_components(
        nodes, pairs, max_iters=1, local_threshold=0).collect()))
    assert c == a


def test_connected_components_local_gate_parity(spark):
    """The size-gated local union-find must produce labels identical to
    the distributed propagation/star paths on the same graph (min node
    id per component), including isolates and a mid-chain minimum."""
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n + 6)],
                                  "doc_id long")
    perm = [(i * 17) % n + 6 for i in range(n)]    # ids 6..45 permuted
    chain = [(perm[i], perm[i + 1]) for i in range(n - 1)]
    pairs = spark.createDataFrame(chain + [(1, 4)], "id_a long, id_b long")
    local = sorted(map(tuple, dedup.connected_components(
        nodes, pairs).collect()))                   # default: local gate
    dist = sorted(map(tuple, dedup.connected_components(
        nodes, pairs, local_threshold=0).collect()))
    star = sorted(map(tuple, dedup.connected_components(
        nodes, pairs, max_iters=2, local_threshold=0).collect()))
    assert local == dist == star
    comp = dict(local)
    assert comp[1] == 1 and comp[4] == 1
    assert all(comp[i] == 6 for i in perm)


def test_connected_components_star_fallback_deep_chain(spark):
    """Round-5 verdict item: a near-dup chain deeper than max_iters
    (scraped serial content) must converge via large-star/small-star
    with labels identical to propagation, not raise."""
    n = 120
    nodes = spark.createDataFrame([(i,) for i in range(n + 10)],
                                  "doc_id long")
    # one path graph of diameter n-1, shuffled ids so the min sits
    # mid-chain; plus a pair and an isolate
    perm = [(i * 37) % n + 10 for i in range(n)]    # ids 10..129 permuted
    chain = [(perm[i], perm[i + 1]) for i in range(n - 1)]
    pairs = spark.createDataFrame(
        chain + [(3, 5)], "id_a long, id_b long")
    slow = {r["doc_id"]: r["cluster_id"] for r in
            dedup.connected_components(nodes, pairs, max_iters=500,
                                       local_threshold=0).collect()}
    fast = {r["doc_id"]: r["cluster_id"] for r in
            dedup.connected_components(nodes, pairs, max_iters=3,
                                       local_threshold=0).collect()}
    assert fast == slow
    assert fast[3] == 3 and fast[5] == 3
    assert all(fast[i] == 10 for i in perm)         # min chain id is 10
    # nodes outside the pair graph self-label
    assert fast[0] == 0 and fast[1] == 1 and fast[2] == 2


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    rows = [
        (1, ["alpha one", "boiler", "beta two"]),
        (2, ["boiler", "gamma three", "boiler"]),   # cross-doc + in-doc dup
        (3, ["boiler"]),                            # fully deduped -> drops
        (4, ["delta four", "boiler", "delta four"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, paras array<string>")
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df).collect()}
    assert set(out) == {1, 2, 4}                    # doc 3 dropped entirely
    assert out[1]["text"] == "alpha one\n\nboiler\n\nbeta two"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (3, 3)
    # doc 2: 'boiler' already seen in doc 1; in-doc second copy also gone
    assert out[2]["text"] == "gamma three"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (3, 1)
    # doc 4: keep-first within the doc, order preserved
    assert out[4]["text"] == "delta four"
    assert (out[4]["n_paras"], out[4]["n_kept"]) == (3, 1)


def test_split_paragraphs_col(spark):
    df = spark.createDataFrame(
        [("a b\n\nc d\n\n\n  \n\ne f",), ("   ",)], "t string")
    got = df.select(dedup.split_paragraphs_col("t").alias("p")).collect()
    assert got[0]["p"] == ["a b", "c d", "e f"]
    assert got[1]["p"] == []


def test_contamination_flags_ngram_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h tail words here"),   # contains bench 8-gram
         (2, "totally different words with no benchmark overlap at all"),
         (3, "x a b c d e f g h")],                # 8-gram at offset 2
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("a b c d e f g h",)], "text string")     # exactly one 8-gram
    out = {r["doc_id"]: r
           for r in dedup.contamination_flags(docs, bench, n=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated"] == 1
    assert out[3]["contaminated"] and out[3]["n_contaminated"] == 1
    assert not out[2]["contaminated"] and out[2]["n_contaminated"] == 0
    # boundary-spanning 8-grams ('b c d e f g h tail', ...) must not count
    assert out[1]["n_shingles"] == 4 and out[1]["n_contaminated"] == 1
    # non-broadcast path gives identical results
    nb = {r["doc_id"]: r for r in dedup.contamination_flags(
        docs, bench, n=8, broadcast_benchmark=False).collect()}
    assert {k: tuple(v) for k, v in out.items()} == \
           {k: tuple(v) for k, v in nb.items()}


def test_tfidf_topk_ranks_and_single_scan(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple banana common"),
         (2, "banana cherry common"),
         (3, "common common date")],
        "doc_id long, text string")
    out = textstats.tfidf_topk(docs, k=2).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    for rows in by.values():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] \
            == list(range(1, len(rows) + 1))
    # doc 1: apple tf=2 df=1 (score 2.0) beats banana tf=1 df=2 (0.5)
    top1 = min(by[1], key=lambda r: r["rank"])
    assert (top1["token"], top1["tf"], top1["df"]) == ("apple", 2, 1)
    assert top1["score"] == 2.0
    # 'common' df=3 never wins over a rarer term
    assert all(r["token"] != "common" or r["rank"] > 1 for r in out)
    # ties break alphabetically: doc 2 banana vs cherry both tf=1 df=2,1
    top2 = min(by[2], key=lambda r: r["rank"])
    assert top2["token"] == "cherry"        # df=1 outranks banana df=2
    # one corpus scan — df comes from a window, not a self-join re-scan
    plan = textstats.tfidf_topk(docs, k=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1 or "ExistingRDD" in plan


def test_process_pipeline_stages_and_observed_metrics(spark):
    from datascrapexter_spark.extract.fields import FieldConfig
    from datascrapexter_spark.extract.validation import ValidationRule
    from datascrapexter_spark.ops.pipeline import (PipelineConfig,
                                                   process_pipeline)

    def page(i, name, price):
        return (i, f"<html><head><title>P{i}</title></head><body>"
                   f"<h1 class='n'>{name}</h1>"
                   f"<span class='price'>${price}</span></body></html>")

    rows = [page(1, "alpha", "3.50"), page(2, "alpha", "4.00"),
            page(3, "beta", "9.99"), page(4, "gamma", "1.00")]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    dim = spark.createDataFrame([("ALPHA", "a-tier")],
                                "name string, tier string")
    cfg = PipelineConfig(
        fields=[FieldConfig(name="name", selector="h1.n", type="text"),
                FieldConfig(name="price", selector=".price",
                            type="number")],
        transforms={"name": [{"type": "uppercase"}]},
        validation_rules=[
            ValidationRule(field="name", type="string",
                           options=["ALPHA", "BETA"], default="OTHER")],
        dedup_cols=["name"], dedup_order_col="doc_id",
        enrich_source=dim, enrich_on="name", enrich_broadcast=True)
    run = process_pipeline(df, cfg)
    out = {r["name"]: r for r in run.df.collect()}
    # dedup keeps first doc per name; gamma fails the whitelist -> OTHER
    assert set(out) == {"ALPHA", "BETA", "OTHER"}
    assert out["ALPHA"]["doc_id"] == 1 and out["ALPHA"]["tier"] == "a-tier"
    assert out["OTHER"]["doc_id"] == 4 and out["OTHER"]["tier"] is None
    m = run.metrics()
    assert m["input"]["rows"] == 4
    assert m["extraction"]["rows"] == 4
    assert m["transformation"]["rows"] == 4
    assert m["validation"]["rows"] == 4
    assert m["validation"]["rows_with_violations"] == 1   # gamma
    assert m["deduplication"]["rows"] == 3
    assert m["enrichment"]["rows"] == 3

    # strict mode: the violating record is dropped, like Validate error
    cfg_strict = PipelineConfig(
        fields=cfg.fields, transforms=cfg.transforms,
        validation_rules=cfg.validation_rules, strict=True,
        dedup_cols=["name"], dedup_order_col="doc_id")
    run2 = process_pipeline(df, cfg_strict)
    names = {r["name"] for r in run2.df.collect()}
    assert names == {"ALPHA", "BETA"}
    assert run2.metrics()["validation"]["rows"] == 3      # survivors

    # skipped stages don't observe (nil components, pipeline.go:123-215)
    run3 = process_pipeline(df, PipelineConfig(fields=cfg.fields))
    run3.df.count()
    assert set(run3.metrics()) == {"input", "extraction"}


def _product_pages():
    """(doc_id, url, html) pages covering text/number/list/count/table
    fields, a missing price, an unparsable price and an implied tbody."""
    def page(i, name, brand, price, feats, reviews, specs):
        price_html = f"<span class='price'>{price}</span>" if price else ""
        return (i, f" https://shop.example.com/p/{i} ",
                f"<html><body><h1 class='n'>  {name} </h1>"
                f"<div class='brand'> {brand} </div>{price_html}"
                "<ul class='features'>"
                + "".join(f"<li>{f}</li>" for f in feats) + "</ul>"
                + "".join(f"<div class='review'>{r}</div>" for r in reviews)
                + f"<table class='specs'>{specs}</table></body></html>")

    return [
        page(1, "alpha one", "acme  corp", "$3.50", ["red", "big"], ["ok"],
             "<thead><tr><th>k</th><th>v</th></tr></thead>"
             "<tbody><tr><td>w</td><td>1</td></tr></tbody>"),
        page(2, "beta two", "globex", "N/A", [], ["a", "b", "c"],
             "<tr><td>h</td><td>2</td></tr><tr><td>d</td><td>3</td></tr>"),
        page(3, "gamma", "initech ltd", None, ["x"], [], ""),
    ]


def _batch_cfg():
    from datascrapexter_spark.extract.fields import FieldConfig

    fields = [
        FieldConfig(name="name", selector="h1.n"),
        FieldConfig(name="brand", selector="div.brand"),
        FieldConfig(name="price_text", selector="span.price"),
        FieldConfig(name="price", selector="span.price", type="number"),
        FieldConfig(name="features", selector="ul.features li", type="list"),
        FieldConfig(name="n_reviews", selector="div.review", type="count"),
        FieldConfig(name="specs", selector="table.specs", type="table"),
    ]
    transforms = {
        "name": [{"type": "trim"}, {"type": "uppercase"}],          # native
        "brand": [{"type": "normalize_spaces"},
                  {"type": "title_case"}],                           # Python
        # Python, on a passthrough column
        "url": [{"type": "trim"}, {"type": "title_case"}],
        # Python; parse_float fails on "N/A"
        "price_text": [{"type": "title_case"}, {"type": "parse_float"}],
    }
    return fields, transforms


def test_pipeline_python_chains_match_rowwise_port(spark):
    """Python chains applied inside the extraction batch give the cells of
    row-wise parse_html + extract_all + apply_chain, on extracted fields
    and on a passthrough column, with NULL for a failing chain; native
    chains stay Catalyst expressions."""
    from datascrapexter_spark.extract.fields import (extract_all,
                                                     get_default_value)
    from datascrapexter_spark.functions.transforms import (TransformError,
                                                           apply_chain)
    from datascrapexter_spark.html import parse_html
    from datascrapexter_spark.ops.pipeline import (PipelineConfig,
                                                   process_pipeline)

    rows = _product_pages()
    fields, transforms = _batch_cfg()
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    run = process_pipeline(df, PipelineConfig(fields=fields,
                                              transforms=transforms))
    got = {r["doc_id"]: r.asDict(recursive=True) for r in run.df.collect()}

    want = {}
    for doc_id, url, html in rows:
        data, errors, success = extract_all(parse_html(html), fields, True)
        rec = {"doc_id": doc_id, "url": url}
        for c in fields:
            rec[c.name] = data[c.name] if c.name in data \
                else get_default_value(c)
        for col, rules in transforms.items():
            try:
                rec[col] = apply_chain(rules, rec[col])
            except TransformError:
                rec[col] = None
        rec["_errors"] = [{"field": e.field_name, "message": e.message,
                           "code": e.code, "severity": e.severity}
                          for e in errors]
        rec["_success"] = success
        want[doc_id] = rec
    assert got == want
    assert got[1]["price_text"] == "3.50" and got[2]["price_text"] is None
    assert got[1]["url"] == "Https://Shop.Example.Com/P/1"
    assert got[2]["specs"]["count"] == 2 and got[2]["n_reviews"] == 3
    assert run.metrics()["transformation"]["rows"] == 3


def test_pipeline_python_chain_single_python_node(spark):
    """A pipeline with fields and a Python chain crosses into Python once:
    the extraction MapInArrow, with no pandas/Python UDF evaluation."""
    import re

    from datascrapexter_spark.ops.pipeline import (PipelineConfig,
                                                   process_pipeline)

    fields, transforms = _batch_cfg()
    df = spark.createDataFrame(_product_pages(),
                               "doc_id long, url string, html string")
    run = process_pipeline(df, PipelineConfig(
        fields=fields, transforms=transforms, dedup_cols=["name"]))
    plan = run.df._jdf.queryExecution().executedPlan().toString()
    python_nodes = re.findall(
        r"\b(?:Python)?MapIn(?:Arrow|Pandas)\b|ArrowEvalPython|"
        r"BatchEvalPython", plan)
    assert python_nodes == ["MapInArrow"], plan


def test_pipeline_chain_on_non_string_column_rejected(spark):
    from datascrapexter_spark.ops.pipeline import (PipelineConfig,
                                                   process_pipeline)

    fields, _ = _batch_cfg()
    df = spark.createDataFrame(_product_pages(),
                               "doc_id long, url string, html string")
    with pytest.raises(ValueError, match="non-string column 'price'"):
        process_pipeline(df, PipelineConfig(
            fields=fields, transforms={"price": [{"type": "title_case"}]}))


def test_pipeline_metrics_after_unexecuted_pipeline_on_same_input(spark):
    """A pipeline built but never run must not starve a later pipeline over
    the same input DataFrame of its stage observations."""
    import threading

    from datascrapexter_spark.ops.pipeline import (PipelineConfig,
                                                   process_pipeline)

    fields, transforms = _batch_cfg()
    df = spark.createDataFrame(_product_pages(),
                               "doc_id long, url string, html string")
    cfg = PipelineConfig(fields=fields, transforms=transforms)
    process_pipeline(df, cfg)                 # built, never executed
    run = process_pipeline(df, cfg)
    run.df.collect()
    got = {}
    t = threading.Thread(target=lambda: got.update(run.metrics()),
                         daemon=True)
    t.start()
    t.join(60)
    assert not t.is_alive(), "PipelineRun.metrics() blocked"
    assert {k: v["rows"] for k, v in got.items()} == {
        "input": 3, "extraction": 3, "transformation": 3}


def test_gopher_filter_rules(spark):
    # 60 distinct letter-only words + stopwords: passes every band
    good = ("the " + " ".join(f"word{a}{b}" for a in "abcdef"
                              for b in "abcdefghij") + " the a end")
    spammy = "spam " * 80
    short = "the a tiny doc"
    symbols = "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) !!!! " * 8
    df = spark.createDataFrame(
        [(1, good), (2, spammy.strip()), (3, short), (4, symbols.strip())],
        "doc_id long, text string")
    cols = textstats.gopher_filter_cols("text")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[v.alias(k) for k, v in cols.items()]).collect()}
    assert out[1]["keep"] and out[1]["reasons"] == []
    assert not out[2]["keep"]
    assert {"top_token", "dup_bigram"} <= set(out[2]["reasons"])
    assert not out[3]["keep"] and "token_count" in out[3]["reasons"]
    assert not out[4]["keep"]
    assert {"alpha_ratio", "stopwords"} <= set(out[4]["reasons"])
    # reasons keep the fixed rule order
    order = ["token_count", "mean_token_len", "alpha_ratio", "stopwords",
             "top_token", "dup_bigram", "dup_line"]
    for r in out.values():
        idx = [order.index(x) for x in r["reasons"]]
        assert idx == sorted(idx)


def test_host_mirror_stats_values(spark):
    from pyspark.sql import Row

    from datascrapexter_spark.ops.dedup import host_mirror_stats

    rows = [
        # a.com: 4 pages, one intra-dup pair (c1 twice), c2 also on b.com
        Row(host="a.com", text="c1"), Row(host="a.com", text="c1"),
        Row(host="a.com", text="c2"), Row(host="a.com", text="c3"),
        # b.com: 2 pages, no intra dup, c2 mirrored from a.com
        Row(host="b.com", text="c2"), Row(host="b.com", text="c4"),
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    out = {r["host"]: r for r in host_mirror_stats(
        df, content_cols=["text"]).collect()}
    a, b = out["a.com"], out["b.com"]
    assert a["n_pages"] == 4 and a["n_distinct"] == 3
    assert a["intra_dup_ppm"] == 250_000        # 1 of 4 pages is a repeat
    assert a["mirror_ppm"] == 250_000           # c2 appears on b.com too
    assert b["n_pages"] == 2 and b["n_distinct"] == 2
    assert b["intra_dup_ppm"] == 0 and b["mirror_ppm"] == 500_000


def test_host_mirror_stats_digest_col_and_errors(spark):
    from pyspark.sql import Row

    import pytest as _pytest

    from datascrapexter_spark.ops.dedup import host_mirror_stats

    df = spark.createDataFrame([Row(host="h", digest="d")],
                               "host string, digest string")
    out = host_mirror_stats(df, digest_col="digest").collect()
    assert out[0]["n_pages"] == 1 and out[0]["mirror_ppm"] == 0
    with _pytest.raises(ValueError):
        host_mirror_stats(df)


def test_host_mirror_stats_payload_never_shuffles(spark):
    from pyspark.sql import Row

    from datascrapexter_spark.ops.dedup import host_mirror_stats

    df = spark.createDataFrame([Row(host="h", text="x" * 10)],
                               "host string, text string")
    plan = host_mirror_stats(df, content_cols=["text"])._jdf \
        .queryExecution().executedPlan().toString()
    # digests enter the first exchange; the text column must not
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_inverted_index_semantics(spark):
    from pyspark.sql import Row

    from datascrapexter_spark.ops.textstats import inverted_index

    docs = [
        Row(doc_id=1, text="the cat sat"),
        Row(doc_id=2, text="the the dog"),
        Row(doc_id=3, text="The cat"),
        Row(doc_id=4, text="  "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["term"]: r.asDict()
           for r in inverted_index(df, min_df=2, max_postings=2).collect()}
    # lowercased: 'The' and 'the' merge; df counts docs, tf_total counts
    # occurrences
    assert out["the"]["df"] == 3 and out["the"]["tf_total"] == 4
    assert out["the"]["postings"] == [1, 2]       # capped at 2, doc order
    assert out["the"]["truncated"] is True
    assert out["cat"]["df"] == 2 and out["cat"]["postings"] == [1, 3]
    assert out["cat"]["truncated"] is False
    assert "sat" not in out and "dog" not in out  # min_df=2


def test_inverted_index_plan_group_limits_postings(spark):
    from datascrapexter_spark.ops.textstats import inverted_index

    df = spark.createDataFrame([(1, "a b"), (2, "a c")],
                               "doc_id long, text string")
    plan = inverted_index(df, max_postings=4)._jdf \
        .queryExecution().executedPlan().toString()
    # per-task postings cap retained before the term exchange
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan
