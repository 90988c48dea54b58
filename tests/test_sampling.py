"""Deterministic sampling / split assignment (ops/sampling.py) and
C4-style line cleaning (ops/textstats.c4_clean_cols) — semantics tests;
cross-engine exactness is gated by q36/q37 in the oracle compare."""

import hashlib

import pytest
from pyspark.sql import functions as F

from datascrapexter_spark.ops.sampling import (
    deterministic_sample,
    hash_unit_col,
    split_col,
    stratified_sample,
)
from datascrapexter_spark.ops.textstats import c4_clean_cols


def _py_u(key, seed):
    return int(hashlib.md5(f"{key}#{seed}".encode()).hexdigest()[:8], 16) / 2**32


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "en" if i % 3 == 0 else "de") for i in range(3000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_hash_unit_matches_python_twin(spark, docs):
    got = docs.limit(20).select(
        "doc_id", hash_unit_col("doc_id", seed=7).alias("u")).collect()
    for r in got:
        assert r["u"] == pytest.approx(_py_u(r["doc_id"], 7), abs=1e-12)


def test_deterministic_sample_stable_and_rate(spark, docs):
    a = {r["doc_id"] for r in
         deterministic_sample(docs, 0.3, "doc_id", seed=1).collect()}
    b = {r["doc_id"] for r in
         deterministic_sample(docs, 0.3, "doc_id", seed=1).collect()}
    assert a == b                       # re-run identical
    assert 0.25 < len(a) / 3000 < 0.35  # rate honored
    # monotone: a lower rate is a SUBSET (same u, smaller threshold)
    sub = {r["doc_id"] for r in
           deterministic_sample(docs, 0.1, "doc_id", seed=1).collect()}
    assert sub <= a
    with pytest.raises(ValueError):
        deterministic_sample(docs, 1.5, "doc_id")


def test_stratified_rates_per_stratum(spark, docs):
    kept = stratified_sample(docs, "lang", {"en": 0.2}, "doc_id", seed=3)
    counts = {r["lang"]: r["n"] for r in
              kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_en, n_de = 1000, 2000
    assert 0.14 < counts["en"] / n_en < 0.26      # sampled stratum
    assert counts["de"] == n_de                   # default_rate=1 keeps all


def test_split_disjoint_and_growth_stable(spark, docs):
    lab = docs.select("doc_id", split_col("doc_id", 0.1, 0.1, seed=5)
                      .alias("split"))
    counts = {r["split"]: r["n"] for r in
              lab.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["val"] / 3000 - 0.1) < 0.04
    # growth stability: the first 1000 docs get the SAME labels whether
    # or not the other 2000 exist
    small = {r["doc_id"]: r["split"] for r in
             docs.filter("doc_id < 1000").select(
                 "doc_id", split_col("doc_id", 0.1, 0.1, seed=5)
                 .alias("split")).collect()}
    full = {r["doc_id"]: r["split"] for r in lab.collect()}
    assert all(full[k] == v for k, v in small.items())
    with pytest.raises(ValueError):
        split_col("doc_id", 0.6, 0.6)


def test_c4_clean_cols_rules(spark):
    text = ("Good line with enough words.\n"
            "short.\n"                          # < 3 words
            "no terminal punctuation here\n"    # no punct
            "Uses javascript for menus.\n"      # forbidden word
            'He said "stop".\n'
            "Another proper sentence here!")
    df = spark.createDataFrame([(1, text), (2, "lorem ipsum rest fine.")],
                               "doc_id long, text string")
    cols = c4_clean_cols(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[v.alias(k) for k, v in cols.items()]).collect()}
    ok = out[1]
    assert not ok["doc_dropped"] and ok["n_lines"] == 6
    assert ok["n_kept_lines"] == 3
    assert ok["cleaned_text"].splitlines() == [
        "Good line with enough words.",
        'He said "stop".',
        "Another proper sentence here!"]
    bad = out[2]
    assert bad["doc_dropped"] and bad["n_kept_lines"] == 0
    assert bad["cleaned_text"] is None


def test_pii_scrub_and_counts(spark):
    from datascrapexter_spark.ops.pii import pii_count_cols, scrub_col

    rows = [
        (1, "mail a.b+c@sub.example.org or x@y.io, server 10.0.255.1, "
            "call +44 20 7946 0958 now"),
        (2, "no pii here, just 1234 and version 1.2 and name@ invalid"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    counts = pii_count_cols(F.col("text"))
    out = {r["id"]: r for r in df.select(
        "id", *[v.alias(k) for k, v in counts.items()],
        scrub_col(F.col("text")).alias("s")).collect()}
    a = out[1]
    assert (a["n_email"], a["n_ipv4"], a["n_phone"]) == (2, 1, 1)
    assert a["s"] == ("mail <EMAIL> or <EMAIL>, server <IP>, "
                      "call <PHONE> now")
    b = out[2]
    assert (b["n_email"], b["n_ipv4"], b["n_phone"]) == (0, 0, 0)
    assert b["s"] == rows[1][1]


def test_shuffle_shards_layout(spark):
    from datascrapexter_spark.ops.sampling import shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = shuffle_shards(df, "doc_id", 4, seed=7).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["seq"])
    # every shard's sequence is dense 0..k-1 (a valid write order)
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(len(seqs)))
    # hash-balanced: no shard hogs the corpus
    sizes = sorted(len(v) for v in by_shard.values())
    assert len(sizes) == 4 and sizes[0] > 0 and sizes[-1] < 2 * sizes[0]
    # fully deterministic across runs
    again = shuffle_shards(df, "doc_id", 4, seed=7).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["seq"])
                              for r in rows)
    assert key(out) == key(again)
    # a different seed produces a different layout
    other = shuffle_shards(df, "doc_id", 4, seed=8).collect()
    assert key(out) != key(other)

    import pytest as _pt
    with _pt.raises(ValueError, match="n_shards"):
        shuffle_shards(df, "doc_id", 0)


def test_cap_per_group_skew_and_equivalence(spark):
    from datascrapexter_spark.ops.sampling import cap_per_group, hash_unit_col
    from pyspark.sql import Window

    # skewed fixture: one hot group with 300 rows, two cold ones
    rows = ([(i, "hot") for i in range(300)]
            + [(1000 + i, "cold_a") for i in range(3)]
            + [(2000, "cold_b")])
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = cap_per_group(df, "grp", 5, "doc_id", seed=9).collect()
    by = {}
    for r in out:
        by.setdefault(r["grp"], set()).add(r["doc_id"])
    assert len(by["hot"]) == 5           # capped
    assert len(by["cold_a"]) == 3        # under-cap groups kept whole
    assert by["cold_b"] == {2000}
    # salted two-phase == the naive single-window rank (exactness)
    w = Window.partitionBy("grp").orderBy(F.col("_u").asc(),
                                          F.col("doc_id").asc())
    naive = (df.withColumn("_u", hash_unit_col("doc_id", 9))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 5).select("doc_id", "grp").collect())
    assert sorted((r["doc_id"], r["grp"]) for r in out) == \
           sorted((r["doc_id"], r["grp"]) for r in naive)
    # deterministic across runs
    again = cap_per_group(df, "grp", 5, "doc_id", seed=9).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))



def test_cap_per_group_plan_limits_before_exchange(spark):
    """One group exchange, with a WindowGroupLimit Partial below it: each
    map task keeps at most k rows per group before the shuffle."""
    from datascrapexter_spark.ops.sampling import cap_per_group

    df = spark.createDataFrame([(i, "hot") for i in range(300)],
                               "doc_id long, grp string")
    plan = cap_per_group(df, "grp", 5, "doc_id", seed=9)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.index("Exchange hashpartitioning(grp") < \
        plan.index("row_number(), 5, Partial"), plan

def test_take_token_budget_prefix_semantics(spark):
    from datascrapexter_spark.ops.sampling import (take_token_budget,
                                                   hash_unit_col)
    from pyspark.sql import Window

    df = spark.createDataFrame([(i, 10 + (i % 7)) for i in range(300)],
                               "doc_id long, n_tokens long")
    out = take_token_budget(df, 1000, "doc_id", seed=5).collect()
    assert out, "budget 1000 must keep some docs"
    assert max(r["cum_tokens"] for r in out) <= 1000
    # kept set == the naive single-window global prefix (exactness)
    w = (Window.orderBy(F.col("_u"), F.col("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    naive = (df.withColumn("_u", hash_unit_col("doc_id", 5))
             .withColumn("cum", F.sum("n_tokens").over(w))
             .filter(F.col("cum") <= 1000).collect())
    assert sorted((r["doc_id"], r["cum_tokens"]) for r in out) == \
           sorted((r["doc_id"], r["cum"]) for r in naive)
    # contiguity: the kept docs are a prefix — one more doc would overflow
    total = sum(r["n_tokens"] for r in out)
    assert total == max(r["cum_tokens"] for r in out)
    assert len(out) < 300  # the budget actually cut
    # degenerate budgets
    assert take_token_budget(df, 0, "doc_id", seed=5).count() == 0
    assert take_token_budget(df, 10**9, "doc_id", seed=5).count() == 300


def test_pack_sequences_next_fit(spark):
    import pytest as _pytest

    from datascrapexter_spark.ops.sampling import (hash_unit_col,
                                                   pack_sequences)

    rows = [(i, t) for i, t in enumerate([100, 150, 80, 300, 301, 10, 5])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, capacity=300, key_col="doc_id", n_shards=1)
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(got) == 7 and all(r["shard"] == 0 for r in got.values())

    # replay next-fit in the same (u, doc_id) order
    order = [r["doc_id"] for r in
             df.withColumn("_u", hash_unit_col("doc_id"))
               .orderBy("_u", "doc_id").collect()]
    toks = dict(rows)
    fill, b = 0, 0
    for i in order:
        t = toks[i]
        if fill > 0 and fill + t > 300:
            b, fill = b + 1, 0
        assert got[i]["bin_idx"] == b and got[i]["bin_offset"] == fill
        fill += t
    # oversize doc flagged, fits-exactly doc not
    assert got[4]["truncated"] is True and got[3]["truncated"] is False

    # bins never exceed capacity except single-oversize-doc bins
    per_bin = {}
    for r in got.values():
        per_bin.setdefault(r["bin_idx"], []).append(r["doc_id"])
    for docs in per_bin.values():
        tot = sum(toks[i] for i in docs)
        assert tot <= 300 or (len(docs) == 1 and tot > 300)

    with _pytest.raises(ValueError):
        pack_sequences(df, capacity=0, key_col="doc_id")


def test_pack_sequences_shard_independence(spark):
    from datascrapexter_spark.ops.sampling import pack_sequences

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).alias("n_tokens"))
    out = pack_sequences(df, capacity=64, key_col="doc_id",
                         n_shards=8).collect()
    assert len(out) == 200
    assert {r["shard"] for r in out} <= set(range(8))
    # every (shard, bin) stays within capacity (no oversize docs here)
    sums = {}
    for r in out:
        k = (r["shard"], r["bin_idx"])
        sums[k] = sums.get(k, 0) + r["n_tokens"]
        assert r["truncated"] is False
    assert all(v <= 64 for v in sums.values())
    # offsets are consistent: max offset + its doc <= capacity
    for r in out:
        assert r["bin_offset"] + r["n_tokens"] <= 64


def test_pack_sequences_plan_one_exchange_arrow_fold(spark):
    from datascrapexter_spark.ops.sampling import pack_sequences

    df = spark.range(50).select(F.col("id").alias("doc_id"),
                                (F.col("id") % 7 + 1).alias("n_tokens"))
    plan = pack_sequences(df, 64, "doc_id", n_shards=4)._jdf \
        .queryExecution().executedPlan().toString()
    # one hash exchange into shards; the fold is a single Arrow-batched
    # grouped-pandas node, never a row-at-a-time UDF
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_chunk_documents_windows(spark):
    """Overlapping chunker: exact window starts/lengths, short-doc
    identity, empty text single chunk, overlap >= max rejected."""
    import pytest as _pytest
    from datascrapexter_spark.ops.sampling import chunk_documents

    toks18 = " ".join(f"t{i}" for i in range(18))
    rows = [(1, toks18),            # 18 tokens, max 8 stride 6 -> starts 1,7,13
            (2, "a b c"),           # short -> 1 chunk
            (3, "")]                # empty -> 1 chunk of ''
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, max_tokens=8, overlap=2)
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
           for r in out.collect()}
    assert {k[0] for k in got} == {1, 2, 3}
    assert [k[1] for k in sorted(k for k in got if k[0] == 1)] == [0, 1, 2]
    assert got[(1, 0)] == (8, " ".join(f"t{i}" for i in range(8)))
    assert got[(1, 1)][1].startswith("t6 ")       # stride 6 -> starts at t6
    assert got[(1, 2)] == (6, " ".join(f"t{i}" for i in range(12, 18)))
    assert got[(2, 0)] == (3, "a b c")
    assert got[(3, 0)][1] == ""
    # overlap coverage: consecutive chunks share `overlap` tokens
    assert got[(1, 0)][1].split()[-2:] == got[(1, 1)][1].split()[:2]
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_chunk_documents_empty_doc_reports_zero_tokens(spark):
    """Round-5 advice regression: raw split() counted the empty string as
    one token, so empty/whitespace docs reported n_chunk_tokens=1. They
    must follow the repo-wide empty->0 contract: one empty chunk."""
    from datascrapexter_spark.ops.sampling import chunk_documents

    df = spark.createDataFrame(
        [(1, ""), (2, "   \t \n "), (3, "one two three")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           chunk_documents(df, max_tokens=8, overlap=2).collect()}
    assert len(got) == 3
    for d in (1, 2):
        assert got[d]["chunk_idx"] == 0
        assert got[d]["n_chunk_tokens"] == 0
        assert got[d]["chunk_text"] == ""
    assert got[3]["n_chunk_tokens"] == 3
