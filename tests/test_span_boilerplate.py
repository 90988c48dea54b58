"""Within-host boilerplate line removal + repeated-span dedup.

Hand-built fixtures assert the exact keep/strip semantics; the sf-scale
correctness is oracle-gated (q68/q69 in tools/check_queries.py).
"""

import pytest

from datascrapexter_spark.ops import dedup


def _rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


# ---------------------------------------------------------------------------
# host_boilerplate_lines / host_boilerplate_strip
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def host_docs(spark):
    rows = []
    for d in range(6):
        lines = [f"unique line {d} one", f"unique line {d} two"]
        if d != 0:
            lines.append("shared footer line")   # 5/6 docs -> boilerplate
        if d % 3 == 0:
            lines.append("rare promo line")      # 2/6 docs -> kept
        rows.append((d, "hostA", lines))
    # hostB has the same footer text but only 1/2 docs -> kept there
    rows.append((100, "hostB", ["solo line", "shared footer line"]))
    rows.append((101, "hostB", ["other line"]))
    return spark.createDataFrame(
        rows, "doc_id long, host string, lines array<string>")


def test_boilerplate_lines_threshold(spark, host_docs):
    out = dedup.host_boilerplate_lines(host_docs, min_docs=3, min_frac=0.5)
    rows = out.collect()
    # exactly one boilerplate line, on hostA only
    assert len(rows) == 1
    r = rows[0]
    assert r["host"] == "hostA"
    assert r["n_docs_with"] == 5 and r["n_docs_host"] == 6


def test_boilerplate_strip_is_per_host(spark, host_docs):
    out = dedup.host_boilerplate_strip(host_docs, min_docs=3, min_frac=0.5)
    by_id = {r["doc_id"]: r for r in out.collect()}
    # hostA docs lose the footer; below-threshold promo line survives
    assert by_id[3]["text"] == (
        "unique line 3 one\nunique line 3 two\nrare promo line")
    assert by_id[1]["text"] == "unique line 1 one\nunique line 1 two"
    assert by_id[1]["n_lines"] == 3 and by_id[1]["n_kept"] == 2
    # hostB keeps the identical footer text (its own frequency is 1/2)
    assert by_id[100]["text"] == "solo line\nshared footer line"


def test_boilerplate_strip_order_preserved(spark):
    # boilerplate line sits in the MIDDLE; survivors keep original order
    rows = [(i, "h", [f"a{i}", "mid boiler", f"z{i}"]) for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id long, host string, lines array<string>")
    out = dedup.host_boilerplate_strip(df, min_docs=3, min_frac=0.5)
    assert {r["text"] for r in out.collect()} == {
        f"a{i}\nz{i}" for i in range(4)}


def test_boilerplate_all_lines_boiler_drops_doc(spark):
    rows = [(i, "h", ["same line"]) for i in range(5)]
    df = spark.createDataFrame(
        rows, "doc_id long, host string, lines array<string>")
    out = dedup.host_boilerplate_strip(df, min_docs=3, min_frac=0.5)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# repeated_span_dedup
# ---------------------------------------------------------------------------


def test_span_dedup_keep_first_and_coverage(spark):
    rows = [
        (1, "a b c d e f g h i j"),        # winner: untouched
        (2, "x y a b c d e f g h i j z"),  # loses the copied 10-token run
        (3, "p q r"),                      # shorter than k: untouched
        (4, "a b c d e f g h i j"),        # exact dup: fully covered
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in dedup.repeated_span_dedup(df, k=5).collect()}
    assert out[1]["text"] == "a b c d e f g h i j"
    assert out[1]["n_tokens"] == 10 and out[1]["n_kept"] == 10
    # overlapping duplicated 5-windows merge into one removed run
    assert out[2]["text"] == "x y z"
    assert out[2]["n_kept"] == 3
    assert out[3]["text"] == "p q r"
    # full coverage keeps the row with empty text (spans removed, doc kept)
    assert out[4]["n_kept"] == 0 and out[4]["text"] == ""


def test_span_dedup_winner_is_global_min_id_pos(spark):
    # the span appears twice in doc 7 itself: first occurrence wins,
    # the later intra-doc copy is removed too
    rows = [(7, "a b c d e q q a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.repeated_span_dedup(df, k=5).collect()[0]
    assert out["text"] == "a b c d e q q"
    assert out["n_tokens"] == 12 and out["n_kept"] == 7


def test_span_dedup_no_duplicates_is_identity(spark):
    rows = [(i, " ".join(f"t{i}w{j}" for j in range(8))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.repeated_span_dedup(df, k=5)
    got = _rows(out, "doc_id", "text")
    assert got == {(i, " ".join(f"t{i}w{j}" for j in range(8)))
                   for i in range(6)}


# ---------------------------------------------------------------------------
# char_lm_surprisal
# ---------------------------------------------------------------------------


def test_lm_surprisal_self_trained_integers(spark):
    from datascrapexter_spark.ops import textstats
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "x")], "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in textstats.char_lm_surprisal(docs).collect()}
    # corpus grams: doc1 {aaa:2}, doc2 {aaa:1, aab:1}; T=4 (bits_t=3)
    # bits: aaa cnt=3 -> 2 bits; aab cnt=1 -> 1 bit
    # doc1: 2 grams, sum = 2*(3-2) = 2; avg = 1000
    assert (out[1]["n_grams"], out[1]["sum_bits"],
            out[1]["avg_millibits"]) == (2, 2, 1000)
    # doc2: aaa (3-2=1) + aab (3-1=2) = 3; avg = 1500
    assert (out[2]["n_grams"], out[2]["sum_bits"],
            out[2]["avg_millibits"]) == (2, 3, 1500)
    # shorter than n: zero score by contract, row kept
    assert (out[3]["n_grams"], out[3]["sum_bits"],
            out[3]["avg_millibits"]) == (0, 0, 0)


def test_lm_surprisal_external_model_unseen_gram_max(spark):
    from datascrapexter_spark.ops import textstats
    # external model: abc:2, bca:1, cab:1 -> T=4, bits_t=3
    grams = spark.createDataFrame(
        [("abc", 2), ("bca", 1), ("cab", 1)], "gram string, cnt long")
    score = spark.createDataFrame(
        [(9, "abczzz")], "doc_id long, text string")
    out = textstats.char_lm_surprisal(score, model=grams).collect()[0]
    # grams: abc (bits 2 -> surprisal 1), bcz/czz/zzz unseen -> 3 each
    assert out["n_grams"] == 4
    assert out["sum_bits"] == 1 + 3 + 3 + 3
    assert out["avg_millibits"] == (1000 * 10) // 4


def test_lm_surprisal_supplied_model_persists_nothing(spark):
    """With a supplied model the occurrence table has one consumer, so
    scoring leaves no cached RDD behind in the caller's session."""
    from datascrapexter_spark.ops import textstats
    model = spark.createDataFrame([("abc", 2)], "gram string, cnt long")
    docs = spark.createDataFrame([(7, "abcabd")], "doc_id long, text string")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = textstats.char_lm_surprisal(docs, model=model).collect()
    assert [r["n_grams"] for r in out] == [4]
    assert jsc.getPersistentRDDs().size() == before


# ---------------------------------------------------------------------------
# fit_vocabulary / oov_stats
# ---------------------------------------------------------------------------


def test_fit_vocabulary_topk_deterministic(spark):
    from datascrapexter_spark.ops import textstats
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c d")], "doc_id long, text string")
    out = [(r["token"], r["cnt"], r["rank"])
           for r in textstats.fit_vocabulary(docs, 3).orderBy("rank").collect()]
    # a:3 b:3 (tie -> token asc), c:2
    assert out == [("a", 3, 1), ("b", 3, 2), ("c", 2, 3)]
    plan = textstats.fit_vocabulary(docs, 3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_oov_stats_exact_ppm(spark):
    from datascrapexter_spark.ops import textstats
    docs = spark.createDataFrame(
        [(1, "a a b zz"), (2, "zz zz"), (3, "a"), (4, "")],
        "doc_id long, text string")
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_ppm"])
           for r in textstats.oov_stats(docs, vocab).collect()}
    assert out[1] == (4, 1, 250000)
    assert out[2] == (2, 2, 1000000)
    assert out[3] == (1, 0, 0)
    assert out[4] == (0, 0, 0)   # empty doc: zero contract, row kept


def test_span_dedup_winner_safe_for_full_range_ids(spark):
    """Round-5 advice regression: v1 packed the winner key as
    id * 2^20 + pos, which overflows/collides for |id| >= 2^43 —
    exactly the xxhash64-derived ids used elsewhere in this repo. The
    struct-min key must pick the smallest (id, pos) for ANY long id,
    including negative ones."""
    span = "a b c d e"
    neg_id = -(1 << 62) + 17          # would have overflowed the packed key
    big_id = (1 << 62) - 3
    rows = [
        (big_id, f"{span} tail1 tail2 tail3"),
        (neg_id, f"lead1 lead2 {span} tail4"),   # smallest id -> winner
        (5, f"{span} other words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.repeated_span_dedup(df, k=5).collect()}
    # winner: neg_id keeps its copy; both other docs lose the span
    assert out[neg_id]["text"] == f"lead1 lead2 {span} tail4"
    assert out[big_id]["text"] == "tail1 tail2 tail3"
    assert out[5]["text"] == "other words here"
