"""Text analysis for web-text corpora: language-ID, quality scoring, token
counting, document fingerprinting.

All pure Column expressions (whole-stage codegen; zero Python) and all
reproducible by an independent SQL engine — that is the correctness oracle.
The text-normalization semantics reuse the reference's CleanString family
(/root/reference/internal/utils/utils.go:57-107) where applicable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import tokens_col

# Top-frequency function words per language — a deterministic n-gram-free
# language-ID heuristic: score = |distinct tokens ∩ stopwords(lang)|,
# argmax with fixed tie order (en > de > fr > es > unknown).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
           "for", "on", "with", "as", "at", "by", "this", "are", "was", "be"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine",
           "zu", "den", "von", "für", "auf", "im", "dem", "sich", "auch"),
    "fr": ("le", "la", "les", "et", "est", "pas", "un", "une", "des", "du",
           "en", "que", "qui", "dans", "pour", "sur", "avec", "au", "ce"),
    "es": ("el", "la", "los", "las", "y", "es", "no", "un", "una", "de",
           "que", "en", "por", "para", "con", "su", "se", "del", "al"),
}
LANG_ORDER = ("en", "de", "fr", "es")


def token_count_col(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


# BPE-ish pre-tokenizer: word pieces OR single non-word-non-space symbols —
# the standard GPT-2-style pre-split shape, count only.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def bpe_token_count_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def lang_scores_col(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-overlap scores over distinct lowercase tokens."""
    toks = F.array_distinct(tokens_col(F.lower(F.col(text) if isinstance(text, str) else text)))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }


def lang_id_col(text: Column | str) -> Column:
    """argmax language, 'unknown' when no stopword hits at all.

    A WHEN-cascade in LANG_ORDER: the first language whose score is positive
    and >= all later languages wins, so ties resolve to the earlier language.
    """
    s = lang_scores_col(text)
    expr = None
    for i, lang in enumerate(LANG_ORDER):
        cond = s[lang] > 0
        for other in LANG_ORDER[i + 1:]:
            cond = cond & (s[lang] >= s[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def quality_columns(text: Column | str, round_to: int = 6) -> dict[str, Column]:
    """Deterministic quality features (the usual pre-training filters):

      n_chars_obs     observed character count
      n_tokens        whitespace tokens
      mean_token_len  avg token length
      alpha_ratio     fraction of chars that are ascii letters or space
      stopword_ratio  english stopword tokens / tokens
      quality_score   product-form score in [0,1]
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens_col(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    mean_tok = F.length(F.regexp_replace(c, "[ \\t\\n\\r]", "")) / safe_tokens
    alpha = F.length(F.regexp_replace(c, "[^a-zA-Z ]", "")) / F.greatest(n_chars, F.lit(1))
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en, F.lower(t))))
    stop_ratio = stop_hits / safe_tokens
    # score: length band [20, 100k] chars, token len band [2, 12], some alpha
    len_ok = (n_chars >= 20) & (n_chars <= 100000)
    tok_ok = (mean_tok >= 2.0) & (mean_tok <= 12.0)
    score = (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(tok_ok, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.least(alpha, F.lit(1.0)) * 0.3
    )
    return {
        "n_chars_obs": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": F.round(mean_tok, round_to).cast("double"),
        "alpha_ratio": F.round(alpha, round_to).cast("double"),
        "stopword_ratio": F.round(stop_ratio, round_to).cast("double"),
        "quality_score": F.round(score, round_to).cast("double"),
    }


def normalize_text_col(text: Column | str) -> Column:
    """Lowercase + collapse ASCII whitespace + trim — the fingerprint's
    canonical form (CleanString-style, utils.go:57-75 minus entity work)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), "[ \\t\\n\\r]+", " "))


def fingerprint_col(text: Column | str, hex_chars: int = 16) -> Column:
    """Content fingerprint: leading hex of md5(normalized text).

    16 hex chars = 64 bits — collision-safe for dedup bucketing at 10^10
    docs only as a *prefilter*; exact dedup still compares full digests.
    """
    return F.substring(F.md5(normalize_text_col(text)), 1, hex_chars)


def repetition_columns(text: Column | str, round_to: int = 6) -> dict[str, Column]:
    """Repetition-based quality features (Gopher-style repetition filters,
    Rae et al. 2021 §A1.1 — fraction-of-duplicates measures), all pure
    codegen and SQL-reproducible:

      distinct_token_ratio   |distinct tokens| / |tokens|
      top_token_ratio        occurrences of the most frequent token / |tokens|
      dup_bigram_ratio       1 - |distinct word 2-grams| / |2-grams|
      dup_line_ratio         1 - |distinct lines| / |lines|   (split on \\n)

    High top_token_ratio / dup_* values flag boilerplate and degenerate
    (repeated-phrase) documents for corpus filtering.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens_col(c)
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    distinct_ratio = F.size(F.array_distinct(toks)) / safe_n

    # most-frequent-token count without a shuffle: sort the per-doc array
    # and fold the longest equal-run — O(n log n) per doc (a naive
    # distinct×occurrences scan would go quadratic on long documents)
    sorted_t = F.array_sort(toks)
    run_acc = F.aggregate(
        sorted_t,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda a, t: F.struct(
            t.alias("prev"),
            F.when(t == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(t == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_ratio = run_acc["best"] / safe_n

    from .dedup import shingles_col

    bigrams = shingles_col(c, 2)
    n_bi = F.greatest(F.size(bigrams), F.lit(1))
    dup_bigram = F.lit(1.0) - F.size(F.array_distinct(bigrams)) / n_bi

    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    dup_line = F.lit(1.0) - F.size(F.array_distinct(lines)) / n_lines

    return {
        "distinct_token_ratio": F.round(distinct_ratio, round_to).cast("double"),
        "top_token_ratio": F.round(top_ratio, round_to).cast("double"),
        "dup_bigram_ratio": F.round(dup_bigram, round_to).cast("double"),
        "dup_line_ratio": F.round(dup_line, round_to).cast("double"),
    }


# -- C4-style line-level cleaning (Raffel et al. 2020, §2.2 heuristics) ----

C4_FORBIDDEN = ("lorem ipsum", "{")
C4_LINE_DROP_WORD = "javascript"


def c4_keep_line_col(line: Column, min_words: int = 3) -> Column:
    """The C4 line-keep predicate: a trimmed line survives iff it ends in
    terminal punctuation (. ! ? \"), has at least `min_words`
    whitespace-separated words, and does not mention 'javascript'.
    Pure codegen — evaluated per array element inside F.filter."""
    t = F.trim(line)
    return (
        t.rlike('[.!?"]$')
        & (F.size(F.split(t, " +")) >= min_words)
        & ~F.contains(F.lower(t), F.lit(C4_LINE_DROP_WORD))
    )


def c4_clean_cols(text: Column | str, min_words: int = 3,
                  forbidden: tuple[str, ...] = C4_FORBIDDEN) -> dict[str, Column]:
    """C4 page cleaning as columns over a newline-separated text:

      - doc_dropped: page contains any `forbidden` marker (lowercased) —
        C4 discards the whole page ('lorem ipsum' placeholder text, '{'
        as a code tell);
      - n_lines / n_kept_lines: before/after the line-keep predicate;
      - cleaned_text: surviving lines rejoined (NULL for dropped pages).

    Everything is built-in HOFs (split/filter/array_join) — zero Python,
    zero shuffle; at 100 TB this runs inside the scan's codegen stage.
    """
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(c)
    dropped = None
    for marker in forbidden:
        cond = F.contains(low, F.lit(marker))
        dropped = cond if dropped is None else (dropped | cond)
    dropped = F.coalesce(dropped, F.lit(False))
    lines = F.split(c, "\n")
    kept = F.filter(lines, lambda l: c4_keep_line_col(l, min_words))
    return {
        "doc_dropped": dropped,
        "n_lines": F.size(lines),
        "n_kept_lines": F.when(dropped, F.lit(0)).otherwise(F.size(kept)),
        "cleaned_text": F.when(dropped, F.lit(None).cast("string"))
                         .otherwise(F.array_join(kept, "\n")),
    }


# ---------------------------------------------------------------------------
# corpus-level keyword extraction (DataFrame op, not a pure Column: the
# document-frequency side is a corpus aggregate)
# ---------------------------------------------------------------------------


def tfidf_topk(docs, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text", round_to: int = 6):
    """Top-k keywords per document by TF-IDF rank.

    Scoring is the rational form tf/df — rank-identical to tf·(N/df)
    for any corpus size N, and chosen over the textbook tf·ln(N/df)
    because it contains no transcendentals: integer counts and one IEEE
    division reproduce bit-for-bit on every engine (the correctness
    oracle), where ln() is only accurate to ~1 ulp and can flip a rank.
    Note the weighting therefore differs from log-idf: rare terms weigh
    linearly, not logarithmically — documented contract.

    Scale: ONE corpus scan. Term counts are an explode→groupBy(doc,token)
    with map-side partial aggregation; document frequency is a window
    count over the already-aggregated tf rows partitioned by token — not
    a tf⋈df self-join, which would scan and re-aggregate the corpus twice
    (Spark does not reuse the shared subtree). Three keyed shuffles total
    (doc,token → token → doc), all on aggregated key-width rows; the
    final per-document window is bounded by document vocabulary.

    Returns (id, token, tf, df, score, rank) — k rows per document.
    """
    from pyspark.sql import DataFrame, Window

    toks = docs.select(F.col(id_col),
                       F.explode(tokens_col(text_col)).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token")))
    raw = F.col("tf").cast("double") / F.col("df")
    w = Window.partitionBy(id_col).orderBy(raw.desc(), F.col("token").asc())
    return (scored
            .withColumn("score", F.round(raw, round_to))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "token", "tf", "df", "score", "rank"))


def gopher_filter_cols(text: Column | str, *, min_tokens: int = 50,
                       max_tokens: int = 100_000,
                       min_mean_tok: float = 3.0,
                       max_mean_tok: float = 10.0,
                       min_alpha: float = 0.8,
                       min_stop_hits: int = 2,
                       max_top_token: float = 0.3,
                       max_dup_bigram: float = 0.2,
                       max_dup_line: float = 0.3,
                       round_to: int = 6) -> dict[str, Column]:
    """Gopher-style composite document filter (Rae et al. 2021 §A1.1):
    the thresholded keep/drop decision over the quality + repetition
    measures, with per-document failure reasons — the form the filter is
    actually applied in a corpus pipeline (drop with audit trail), not
    just the raw measures.

    Adaptations from the paper, documented: alpha is the char-level
    letters+space ratio (the paper thresholds %words-containing-alpha);
    the repeated-content caps use top-token / dup-bigram / dup-line
    fractions (the paper's family of duplicate-fraction measures).

    Every comparison runs on the round-6 measures the q19/q27 oracles
    already reproduce, so keep/reasons are bit-reproducible on an
    independent engine. Pure codegen; zero Python, zero shuffle.

    Returns measures + `stop_hits` (int) + `reasons`
    (array<string>, fixed rule order) + `keep` (reasons empty).
    """
    c = F.col(text) if isinstance(text, str) else text
    q = quality_columns(c, round_to)
    r = repetition_columns(c, round_to)
    toks = tokens_col(c)
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(en, F.lower(t))))
    checks = [
        ("token_count", (q["n_tokens"] < min_tokens)
         | (q["n_tokens"] > max_tokens)),
        ("mean_token_len", (q["mean_token_len"] < min_mean_tok)
         | (q["mean_token_len"] > max_mean_tok)),
        ("alpha_ratio", q["alpha_ratio"] < min_alpha),
        ("stopwords", stop_hits < min_stop_hits),
        ("top_token", r["top_token_ratio"] > max_top_token),
        ("dup_bigram", r["dup_bigram_ratio"] > max_dup_bigram),
        ("dup_line", r["dup_line_ratio"] > max_dup_line),
    ]
    reasons = F.array_compact(F.array(
        *[F.when(cond, F.lit(name)).otherwise(F.lit(None))
          for name, cond in checks]))
    return {
        "n_tokens": q["n_tokens"],
        "mean_token_len": q["mean_token_len"],
        "alpha_ratio": q["alpha_ratio"],
        "stop_hits": stop_hits.cast("int"),
        "top_token_ratio": r["top_token_ratio"],
        "dup_bigram_ratio": r["dup_bigram_ratio"],
        "dup_line_ratio": r["dup_line_ratio"],
        "reasons": reasons,
        "keep": F.size(reasons) == 0,
    }


def inverted_index(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_df: int = 1,
                   max_postings: int = 16) -> DataFrame:
    """Distributed inverted-index build: one row per term with ``df``
    (document frequency), ``tf_total`` (corpus occurrences), a
    doc-id-sorted postings array capped at ``max_postings`` entries, and
    ``truncated`` (df exceeded the cap). The search-side companion to
    ``tfidf_topk`` — what a crawl feeds an index shard writer.

    Scale shape (Zipf-aware — "the" appears in ~every document):

    1. (term, doc) term frequencies: explode → groupBy with MAP-SIDE
       partials — the only corpus-sized exchange, persisted because two
       consumers would otherwise each rescan the corpus (Spark does not
       reuse unpersisted shared subtrees — the q43 lesson).
    2. per-term df/tf_total: groupBy(term) over the persisted base —
       map-side partials collapse hot terms BEFORE the exchange, so no
       reducer ever materializes a hot term's full posting set. This is
       deliberately NOT a count-over-Window(term): a window partition
       for a stopword would hold 10^9 rows on one task.
    3. capped postings: row_number over (term ORDER BY doc) + filter —
       plans as WindowGroupLimit, each task keeps <= max_postings rows
       per term before the exchange — then sort_array(collect_list)
       groups the surviving <= max_postings rows per term.
    4. stats ⋈ postings on term: two already-aggregated key-width
       tables.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_col(F.lower(
            F.col(text_col) if isinstance(text_col, str) else text_col)))
        .alias("term")).filter(F.col("term") != "")
    base = (toks.groupBy("term", "doc")
            .agg(F.count(F.lit(1)).alias("tf")).persist())
    stats = (base.groupBy("term")
             .agg(F.count(F.lit(1)).alias("df"),
                  F.sum("tf").alias("tf_total"))
             .filter(F.col("df") >= min_df))
    w = Window.partitionBy("term").orderBy("doc")
    postings = (base
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_postings)
                .groupBy("term")
                .agg(F.sort_array(F.collect_list("doc")).alias("postings")))
    return (stats.join(postings, "term")
            .select("term", "df", "tf_total", "postings",
                    (F.col("df") > max_postings).alias("truncated")))


def char_lm_surprisal(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      model: DataFrame | None = None) -> DataFrame:
    """Corpus-trained character n-gram LM quality score, integer-exact.

    The CCNet/RedPajama quality step scores each document by KenLM
    perplexity — average per-token surprisal under a reference LM — and
    filters the high-perplexity (unusual-character-distribution) tail.
    This is that operator with the transcendental replaced by the
    bit-length integer: surprisal(g) = bitlen(T) - bitlen(count(g))
    (an integer within 1 of log2(T/count), the same trick as the HLL
    rho), so every value is a BIGINT an independent SQL engine
    reproduces bit-for-bit — the repo-wide oracle discipline
    (tfidf_topk's rationale). Ranking behavior matches log2 up to
    bucket granularity; the filter-threshold use case is unchanged.

    ``model`` is an optional (gram, cnt) table from a previous
    ``char_lm_surprisal`` corpus (score one corpus under another's LM —
    the actual CCNet setup, where the LM is trained on Wikipedia);
    default trains on ``docs`` itself. Grams absent from the model get
    the maximum surprisal bitlen(T).

    Scale shape: grams explode through a Generate that carries the text
    column (position sequence is the exploded side); scoring is done per
    OCCURRENCE (Σ bits over occurrences ≡ Σ tf·bits — identical
    integers), so no corpus-width (doc, gram) aggregate exists at all:
    the model rollup collapses to gram-width map-side, and the per-doc
    groupBy ships only doc-width partials. When the model is self-trained
    the (id, gram) occurrence table is persisted, because two consumers
    (model training + scoring join) would otherwise each rescan the
    corpus — the q43 lesson; a supplied model leaves one consumer and
    no persist. The model side of the scoring join is gram-keyed and
    aggregate-width; the one-row bits(T) total joins on a constant key
    (broadcast).
    Documents shorter than n chars score 0 by contract.

    Returns (id, n_grams, sum_bits, avg_millibits) — avg_millibits =
    (1000 * sum_bits) / n_grams in exact integer division.
    """
    base = docs.select(F.col(id_col).alias("_id"),
                       F.col(text_col).alias("_text"))
    grams = (base
             .filter(F.length("_text") >= n)
             .select("_id", "_text",
                     F.explode(F.sequence(
                         F.lit(1), F.length("_text") - (n - 1)))
                     .alias("gpos"))
             .select("_id",
                     F.col("_text").substr(F.col("gpos"), F.lit(n))
                     .alias("gram")))
    # r06: scoring happens at OCCURRENCE level — Σ_occurrences bits(gram)
    # is identical (integers) to the old Σ_grams tf·bits, so the
    # corpus-width (doc, gram) tf aggregate and its exchange are gone
    # entirely: the only exchanges left are the gram-width model rollup
    # and the doc-width partials of the per-doc groupBy (both collapse
    # map-side). Persisted only for a self-trained model (see docstring).
    if model is None:
        grams = grams.persist()
        model = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    model_bits = model.select(
        "gram", F.length(F.bin(F.col("cnt"))).cast("int").alias("bits"))
    totals = (model.agg(F.sum("cnt").alias("t"))
              .select(F.length(F.bin(F.col("t"))).cast("int")
                      .alias("bits_t"),
                      F.lit(1).alias("_k")))
    per_doc = (grams.join(model_bits, "gram", "left")
               .groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.coalesce("bits", F.lit(0)))
                    .alias("_wb")))
    sb = F.col("n_grams") * F.col("bits_t") - F.col("_wb")
    millibits = ((F.lit(1000) * sb - (F.lit(1000) * sb)
                  % F.col("n_grams")) / F.col("n_grams")).cast("long")
    return (base.select("_id")
            .join(per_doc, "_id", "left")
            .withColumn("_k", F.lit(1))
            .join(F.broadcast(totals), "_k")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("n_grams", F.lit(0)).cast("long")
                .alias("n_grams"),
                F.coalesce(sb, F.lit(0)).cast("long").alias("sum_bits"),
                F.coalesce(millibits, F.lit(0)).cast("long")
                .alias("avg_millibits")))


def fit_vocabulary(docs: DataFrame, vocab_size: int,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Tokenizer vocabulary induction: the ``vocab_size`` most frequent
    whitespace tokens corpus-wide, deterministic tie-break by token
    (count DESC, token ASC) so the fitted vocab is reproducible across
    engines and runs — the fit step before any OOV filtering or
    tokenizer training.

    Scale: explode → groupBy(token) with map-side partials (stopwords
    collapse before the exchange), then orderBy().limit() — which plans
    as TakeOrderedAndProject, the distributed two-phase top-k (each task
    keeps its local top ``vocab_size``, the driver merges task tops) —
    NOT a row_number over a global window, which would single-partition
    the full corpus vocabulary. Ranks are then assigned over the
    already-trimmed vocab_size rows.

    Returns (token, cnt, rank), rank 1-based.
    """
    from pyspark.sql import Window

    counts = (docs.select(F.explode(tokens_col(text_col)).alias("token"))
              .filter(F.col("token") != "")
              .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    top = (counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
           .limit(vocab_size))
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("token", "cnt", "rank"))


def oov_stats(docs: DataFrame, vocab: DataFrame,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-document out-of-vocabulary rate against a fitted vocabulary
    (`fit_vocabulary` output or any (token, ...) table): the filter
    signal for "this page is mostly tokens the tokenizer fragments"
    (non-target-language, codey, or garbled text).

    Scale: the vocab side broadcasts (a tokenizer vocab is bounded —
    32-256k rows); the corpus side aggregates per (doc, token) first so
    the join touches doc-vocabulary-width rows, then one groupBy(id)
    rollup. oov_ppm is exact integer arithmetic (same contract as
    host_mirror_stats).

    Returns (id, n_tokens, n_oov, oov_ppm).
    """
    toks = (docs.select(F.col(id_col),
                        F.explode(tokens_col(text_col)).alias("token"))
            .filter(F.col("token") != "")
            .groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf")))
    vb = F.broadcast(vocab.select("token").distinct()
                     .withColumn("_in", F.lit(1)))
    per_doc = (toks.join(vb, "token", "left")
               .groupBy(id_col)
               .agg(F.sum("tf").alias("n_tokens"),
                    F.sum(F.when(F.col("_in").isNull(), F.col("tf"))
                          .otherwise(0)).alias("n_oov")))
    ppm = ((F.lit(1_000_000) * F.col("n_oov")
            - (F.lit(1_000_000) * F.col("n_oov")) % F.col("n_tokens"))
           / F.col("n_tokens")).cast("long")
    return (docs.select(id_col)
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce("n_oov", F.lit(0)).cast("long")
                    .alias("n_oov"),
                    F.coalesce(ppm, F.lit(0)).alias("oov_ppm")))


def domain_quality_rollup(docs: DataFrame, domain_col: str = "source",
                          id_col: str = "doc_id", text_col: str = "text",
                          *, low_quality_ppm: int = 500_000,
                          min_docs: int = 5,
                          max_low_frac_ppm: int = 250_000,
                          max_dup_frac_ppm: int = 250_000) -> DataFrame:
    """Per-domain quality aggregation + blocklist decision (the
    RefinedWeb/C4 domain-level filter: drop whole sites whose pages are
    mostly junk or mirrors, instead of re-judging every page).

    One groupBy(domain) over pure-codegen per-doc features:

      n_docs                pages observed
      mean_quality_ppm      floor-mean of quality_score (ppm, integer)
      low_quality_frac_ppm  pages with quality < low_quality_ppm
      dup_frac_ppm          1 - distinct(fingerprint)/n_docs — the
                            within-domain exact-mirror rate
      mean_tokens           floor-mean whitespace tokens
      blocked               n_docs >= min_docs AND (low-quality or
                            mirror fraction over threshold)

    All outputs integer/boolean (ppm floor arithmetic — the repo's
    exact-compare convention), so an independent SQL engine reproduces
    them bit-for-bit. Scale: the only exchange is the domain-keyed agg
    with map-side partials; countDistinct(fingerprint) expands to the
    standard two-phase distinct agg on (domain, fingerprint) — still
    keyed, no row explosion beyond the corpus itself. The blocklist
    this emits is broadcast-sized (domains, not pages) and gates a
    crawl or corpus with a broadcast anti-join
    (`apply_domain_blocklist`).
    """
    qc = quality_columns(text_col)
    per_doc = docs.select(
        F.col(domain_col).alias("host"),
        F.round(qc["quality_score"] * 1_000_000).cast("long").alias("q_ppm"),
        qc["n_tokens"].alias("n_toks"),
        fingerprint_col(text_col).alias("fp"),
    )
    agg = per_doc.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("q_ppm").alias("_sq"),
        F.sum(F.when(F.col("q_ppm") < low_quality_ppm, 1).otherwise(0))
        .alias("_n_low"),
        F.countDistinct("fp").alias("_n_fp"),
        F.sum("n_toks").alias("_st"),
    )
    low_frac = F.expr("(1000000 * _n_low) div n_docs")
    dup_frac = F.expr("(1000000 * (n_docs - _n_fp)) div n_docs")
    return agg.select(
        "host",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr("_sq div n_docs").cast("long").alias("mean_quality_ppm"),
        low_frac.cast("long").alias("low_quality_frac_ppm"),
        dup_frac.cast("long").alias("dup_frac_ppm"),
        F.expr("_st div n_docs").cast("long").alias("mean_tokens"),
        (
            (F.col("n_docs") >= min_docs)
            & ((low_frac > max_low_frac_ppm) | (dup_frac > max_dup_frac_ppm))
        ).alias("blocked"),
    )


def apply_domain_blocklist(docs: DataFrame, rollup: DataFrame,
                           domain_col: str = "source") -> DataFrame:
    """Drop every page of a blocked domain: broadcast anti-join on the
    domain key (the blocklist is domains-sized, never pages-sized)."""
    blocked = rollup.filter(F.col("blocked")).select(
        F.col("host").alias(domain_col))
    return docs.join(F.broadcast(blocked), domain_col, "left_anti")


# common double-encoded-UTF8 artifacts (a Latin-1/cp1252 re-read of UTF-8
# bytes): the accented-letter family ("Ã©" is the mojibake of "é"),
# curly quotes/dashes ("â€™" is a right single quote), NBSP/degree
# leftovers. The 0x9D-family sequences (closing curly double quote) are
# deliberately absent: their middle byte is an unassigned cp1252 control.
MOJIBAKE_SEQS = (
    "Ã©", "Ã¨", "Ã¤",
    "Ã¶", "Ã¼", "Ã±",
    "â€™", "â€œ",
    "â€“", "â€”",
    "Â·", "Â°",
)


def encoding_noise_cols(text: Column | str) -> dict[str, Column]:
    """Encoding-noise signals (the ftfy-style cleanup gate every web
    corpus needs): replacement characters (U+FFFD — a decoder already
    gave up), stray C0 control bytes, and classic double-encoded-UTF8
    mojibake sequences. Occurrence counts come from length-delta over
    literal replace(), not regex, so any SQL engine reproduces them
    bit-for-bit; noise_ppm uses the repo's floor-div ppm convention
    (exact integers end to end).
    """
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)

    def occurrences(seq: str) -> Column:
        return ((n_chars - F.length(F.replace(c, F.lit(seq), F.lit(""))))
                / F.lit(len(seq))).cast("long")

    n_repl = occurrences("�")
    # C0 controls except \t \n \r: one regexp_replace (simple byte-range
    # class — identical semantics in Java regex and RE2)
    n_ctrl = (n_chars - F.length(F.regexp_replace(
        c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long")
    n_moji = sum((occurrences(s) for s in MOJIBAKE_SEQS),
                 F.lit(0).cast("long"))
    total = (n_repl + n_ctrl + n_moji).cast("long")
    safe = F.greatest(n_chars, F.lit(1))
    ppm = ((F.lit(1_000_000) * total
            - (F.lit(1_000_000) * total) % safe) / safe).cast("long")
    return {
        "n_replacement": n_repl,
        "n_control": n_ctrl,
        "n_mojibake": n_moji,
        "noise_ppm": ppm,
    }


def readability_cols(text: Column | str) -> dict[str, Column]:
    """Flesch reading-ease in exact integer MILLIpoints (repo convention:
    floor-div integer arithmetic so any SQL engine reproduces the value
    bit-for-bit; the classic constants 206.835/1.015/84.6 scaled x1000).

    Heuristic inputs, all codegen:
      words      whitespace tokens
      sentences  [.!?]+ runs (min 1)
      syllables  [aeiouy]+ vowel groups over the lowercased text (the
                 standard cheap approximation)

    flesch_milli = 206835 - (1015*words)//sentences - (84600*syll)//words
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.greatest(F.size(tokens_col(c)), F.lit(1)).cast("long")
    low = F.lower(c)
    sentences = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit("[.!?]+"), F.lit(0))),
        F.lit(1)).cast("long")
    syllables = F.size(
        F.regexp_extract_all(low, F.lit("[aeiouy]+"), F.lit(0))).cast("long")
    w1015 = F.lit(1015) * words
    s84600 = F.lit(84600) * syllables
    flesch = (F.lit(206835)
              - ((w1015 - w1015 % sentences) / sentences).cast("long")
              - ((s84600 - s84600 % words) / words).cast("long"))
    return {
        "n_words": words,
        "n_sentences": sentences,
        "n_syllables": syllables,
        "flesch_milli": flesch.cast("long"),
    }


def collocations(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 20,
                 min_count: int = 5) -> DataFrame:
    """Top-k collocations (adjacent word pairs) by integer-exact lift —
    lift_ppm = floor(1e6 * c_xy * N / (c_x * c_y)), the monotone
    transform of PMI (log of lift/1e6), so the PMI ordering is exact
    without a single float. Ties break on the bigram string.

    Scale: one bigram groupBy + one unigram groupBy (both map-side
    partial), the unigram table re-joined twice on the split words
    (token-keyed, aggregate-width), N joined on a constant key (one row
    -> BroadcastExchange, never a crossJoin), and the top-k ends in
    orderBy+limit = TakeOrderedAndProject (per-task local top-k, driver
    merge). BIGINT arithmetic holds to N * c_xy * 1e6 < 2^63 — beyond
    that (multi-trillion-bigram corpora) switch the three factors to
    DECIMAL(38,0); the expression shape is unchanged.

    Returns (bigram, n_pair, lift_ppm) — k rows.
    """
    from .dedup import shingles_col, tokens_col

    bi = (docs.select(F.explode(shingles_col(text_col, 2)).alias("bigram"))
          .groupBy("bigram").agg(F.count(F.lit(1)).alias("n_pair"))
          .filter(F.col("n_pair") >= min_count))
    uni = (docs.select(F.explode(tokens_col(text_col)).alias("token"))
           .filter(F.col("token") != "")
           .groupBy("token").agg(F.count(F.lit(1)).alias("n_tok")))
    total = (docs.select(F.explode(shingles_col(text_col, 2)).alias("b"))
             .agg(F.count(F.lit(1)).alias("n_total"))
             .withColumn("_k", F.lit(1)))
    w = F.split("bigram", " ")
    scored = (bi.withColumn("w1", w.getItem(0)).withColumn("w2", w.getItem(1))
              .join(uni.select(F.col("token").alias("w1"),
                               F.col("n_tok").alias("c1")), "w1")
              .join(uni.select(F.col("token").alias("w2"),
                               F.col("n_tok").alias("c2")), "w2")
              .withColumn("_k", F.lit(1))
              .join(F.broadcast(total), "_k"))
    num = F.lit(1_000_000) * F.col("n_pair") * F.col("n_total")
    den = F.col("c1") * F.col("c2")
    lift = ((num - num % den) / den).cast("long")
    return (scored.select("bigram", F.col("n_pair").cast("long")
                          .alias("n_pair"), lift.alias("lift_ppm"))
            .orderBy(F.col("lift_ppm").desc(), F.col("bigram").asc())
            .limit(k))


def soft404_columns(title_col: Column | str = "title",
                    text_col: Column | str = "text",
                    min_tokens: int = 16) -> list[Column]:
    """Soft-404 detection features — error pages served with HTTP 200,
    the crawl-corpus poison every archive pipeline filters (the
    reference's error taxonomy stops at transport errors; content-level
    error pages are what a 10^10-URL frontier actually drowns in).

    Pure codegen (lowercase + substring containment, no regex — regex
    dialect drift between engines is the oracle risk): title markers
    ("404", "not found", "error"), body apology phrases ("page ... not
    found", "does not exist", "no longer available"), and a tiny-body
    signal (< min_tokens whitespace tokens). Additive integer score,
    weighted so either a title marker or a body phrase alone clears
    the flag threshold but tiny-body alone does not.

    Returns [title_404, body_404, tiny_body, soft404_score, is_soft404].
    """
    t = F.lower(F.col(title_col) if isinstance(title_col, str)
                else title_col)
    b = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
    title_404 = (t.contains("404") | t.contains("not found")
                 | t.contains("error"))
    body_404 = (b.contains("not found") | b.contains("does not exist")
                | b.contains("no longer available")
                | b.contains("page unavailable"))
    tiny = F.size(tokens_col(b)) < min_tokens
    score = (title_404.cast("int") * 2 + body_404.cast("int") * 2
             + tiny.cast("int"))
    return [title_404.alias("title_404"), body_404.alias("body_404"),
            tiny.alias("tiny_body"),
            score.cast("int").alias("soft404_score"),
            (score >= 2).alias("is_soft404")]


def surprisal_buckets(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      model: DataFrame | None = None) -> DataFrame:
    """CCNet-style perplexity tertiles (Wenzek et al. 2020,
    arXiv:1911.00359): score every document with the char-LM surprisal
    (q70's integer-exact operator) and partition the corpus into
    head / middle / tail thirds by ascending surprisal — CCNet keeps
    head+middle and drops the tail as its quality gate.

    Cutoffs are exact integer ranks over the VALUE HISTOGRAM, not the
    corpus: avg_millibits lives in [0, 1000 * bitlen(T)] (~60k distinct
    values at most), so the groupBy(value) histogram is bounded by the
    value domain regardless of corpus size, and the running-sum window
    over it is aggregate-width — never a corpus-width sort. cut1/cut2
    are the smallest values whose cumulative count reaches N/3 and
    2N/3 (exact integer comparison 3*cum >= N, no float percentile),
    joined back on a constant key. Ties share a bucket, so the split
    is deterministic and independent of partitioning.

    Returns (id_col, avg_millibits, bucket) with bucket in
    {'head','middle','tail'}.
    """
    from pyspark.sql import Window

    # r06: TWO consumers read the scored table (value histogram + the
    # final bucket join) and Spark shares no subtrees — unpersisted, the
    # whole per-doc scoring join pipeline ran twice (only the (doc, gram)
    # base inside char_lm_surprisal was cached). (id, avg_millibits) is
    # corpus-width but two-column-narrow.
    scored = char_lm_surprisal(docs, id_col, text_col, n=n, model=model) \
        .select(id_col, "avg_millibits").persist()
    hist = (scored.groupBy("avg_millibits")
            .agg(F.count(F.lit(1)).alias("_c")))
    w = (Window.orderBy("avg_millibits")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("_cum", F.sum("_c").over(w)) \
        .withColumn("_k", F.lit(1))
    totals = hist.agg(F.sum("_c").alias("_n")).withColumn("_k", F.lit(1))
    cuts = (cum.join(F.broadcast(totals), "_k")
            .agg(F.min(F.when(F.lit(3) * F.col("_cum") >= F.col("_n"),
                              F.col("avg_millibits"))).alias("_cut1"),
                 F.min(F.when(F.lit(3) * F.col("_cum")
                              >= F.lit(2) * F.col("_n"),
                              F.col("avg_millibits"))).alias("_cut2"))
            .withColumn("_k", F.lit(1)))
    bucket = (F.when(F.col("avg_millibits") <= F.col("_cut1"), "head")
              .when(F.col("avg_millibits") <= F.col("_cut2"), "middle")
              .otherwise("tail"))
    return (scored.withColumn("_k", F.lit(1))
            .join(F.broadcast(cuts), "_k")
            .select(id_col, "avg_millibits", bucket.alias("bucket")))


def stupid_backoff_scores(train_docs: DataFrame, score_docs: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Word-bigram LM fluency score with stupid backoff (Brants et al.
    2007, "Large Language Models in Machine Translation"), integer-exact
    in ppm — the WORD-level companion to char_lm_surprisal (char LM =
    encoding anomalies; word LM = disfluent/boilerplate text, the CCNet
    quality axis a char model can't see).

    Per bigram instance (w1, w2) in a scored doc:
      seen:   s_ppm = (1_000_000 * c2(w1,w2)) div ctx(w1)
      backoff: s_ppm = (400_000 * uni(w2)) div T        (alpha = 0.4)
      (w2 unseen in training -> 0)
    where ctx(w) = training occurrences of w as a bigram START (the
    exact MLE conditional denominator: c2/ctx sums to 1 over w2) and
    uni(w) = occurrences as a bigram END (document-initial-only words
    back off to 0) — both derived from the bigram table, so the
    training text is scanned exactly once.
    Doc score = sum over bigram instances; avg_ppm = sum div n_bigrams.
    All quantities nonnegative BIGINTs with truncating division, so an
    independent SQL engine reproduces every value bit-for-bit (the
    bm25_topk / tfidf discipline: no log, no float).

    Scale shape (LM trained on a reference slice, scored over 100 TB):
    - train side: one scan -> bigram Generate -> three aggregate-width
      count tables (c2 keyed by the bigram, ctx/uni by the word, both
      rollups OF the c2 table — the Generate output is aggregated once,
      map-side); T is the one-row total, broadcast on a constant key.
    - score side: one scan -> per-OCCURRENCE scoring (Σ s_ppm over
      instances ≡ Σ k·s_ppm over distinct doc-bigrams — identical
      integers), so no corpus-width multiplicity aggregate exists; the
      c2 / ctx(w1) / uni(w2) lookups are aggregate-width equi-joins
      (runtime-broadcast) and the per-doc groupBy ships doc-width
      partials. Nothing rescans text.
    - docs with < 2 tokens score 0 with n_bigrams 0 by contract (the
      left join back to the id spine keeps them in the output).

    Returns (id, n_bigrams, sum_ppm, avg_ppm).
    """
    def bigrams(df: DataFrame) -> DataFrame:
        toks = tokens_col(F.lower(F.col(text_col)))
        return (df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
                .filter(F.size("_t") >= 2)
                .select("_id",
                        F.explode(F.zip_with(
                            F.slice("_t", 1, F.size("_t") - 1),
                            F.slice("_t", 2, F.size("_t") - 1),
                            lambda a, b: F.struct(a.alias("w1"),
                                                  b.alias("w2"))))
                        .alias("bg"))
                .select("_id", F.col("bg.w1").alias("w1"),
                        F.col("bg.w2").alias("w2")))
    c2 = (bigrams(train_docs).groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("c2")).persist())
    ctx = c2.groupBy("w1").agg(F.sum("c2").alias("ctx"))
    uni = c2.groupBy("w2").agg(F.sum("c2").alias("uni"))
    totals = (uni.agg(F.sum("uni").alias("t_total"))
              .withColumn("_k", F.lit(1)))
    # r06: per-OCCURRENCE scoring (the q70/q83 transformation) — summing
    # s_ppm over bigram instances ≡ Σ k·s_ppm over distinct (doc, w1,
    # w2), so the corpus-width multiplicity groupBy and its exchange are
    # gone; the lookup joins are aggregate-width (broadcast at runtime)
    # and the per-doc groupBy ships doc-width partials.
    scored = (bigrams(score_docs)
              .join(c2, ["w1", "w2"], "left")
              .join(ctx, "w1", "left")
              .join(uni, "w2", "left")
              .withColumn("_k", F.lit(1))
              .join(F.broadcast(totals), "_k")
              .withColumn("s_ppm", F.when(
                  F.col("c2").isNotNull(),
                  F.expr("(1000000 * c2) div ctx"))
                  .otherwise(F.coalesce(
                      F.expr("(400000 * uni) div t_total"), F.lit(0)))))
    per_doc = (scored.groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum("s_ppm").alias("sum_ppm")))
    spine = score_docs.select(F.col(id_col).alias("_id")).distinct()
    return (spine.join(per_doc, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("sum_ppm", F.lit(0)).cast("long")
                    .alias("sum_ppm"),
                    F.coalesce(F.expr("sum_ppm div n_bigrams"), F.lit(0))
                    .cast("long").alias("avg_ppm")))


def corpus_diff_keywords(a_docs: DataFrame, b_docs: DataFrame, k: int = 20,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Corpus-diff keywords: the tokens most over-represented in corpus
    A relative to corpus B (per direction), the mix-auditing question
    "what did this gate/source actually change" (Monroe et al. 2008
    "Fightin' Words" asks it with log-odds; this is the exact-integer
    rate form the oracle discipline allows — same ranking intent, no
    transcendentals).

    Per token: rate_ppm = (1_000_000 * count) div total (per corpus),
    diff_ppm = a_ppm - b_ppm, lift_milli = (1000 * (a_ppm + 1)) div
    (b_ppm + 1) (add-one so unseen-in-B tokens rank by A rate instead
    of dividing by zero). Top-k per direction by |diff_ppm| desc, token
    asc tie-break; `direction` marks 'a' (over-represented in A) or
    'b'.

    Scale shape: one scan per corpus -> token groupBy (map-side
    combinable, vocab-width); full-outer vocab-width equi-join; totals
    are 1-row broadcasts on a constant key; the two top-k's are
    TakeOrderedAndProject (k rows to the driver, never a global sort).
    """
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (df.select(F.explode(
            tokens_col(F.lower(F.col(text_col)))).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias(name)))
    ca = counts(a_docs, "a_n")
    cb = counts(b_docs, "b_n")
    # coalesce(total, 1): an EMPTY corpus side has sum() = NULL, which
    # would null every ppm and silently drop both directions' rows; with
    # total 1 the non-empty side still ranks (round-5 advice fix — no
    # effect on any non-empty corpus).
    ta = (ca.agg(F.coalesce(F.sum("a_n"), F.lit(1)).alias("a_t"))
          .withColumn("_k", F.lit(1)))
    tb = (cb.agg(F.coalesce(F.sum("b_n"), F.lit(1)).alias("b_t"))
          .withColumn("_k", F.lit(1)))
    j = (ca.join(cb, "token", "full_outer")
         .select("token",
                 F.coalesce("a_n", F.lit(0)).alias("a_n"),
                 F.coalesce("b_n", F.lit(0)).alias("b_n"))
         .withColumn("_k", F.lit(1))
         .join(F.broadcast(ta), "_k").join(F.broadcast(tb), "_k")
         .withColumn("a_ppm", F.expr("(1000000 * a_n) div a_t"))
         .withColumn("b_ppm", F.expr("(1000000 * b_n) div b_t"))
         .withColumn("diff_ppm", F.col("a_ppm") - F.col("b_ppm"))
         .withColumn("lift_milli",
                     F.expr("(1000 * (a_ppm + 1)) div (b_ppm + 1)")))
    cols = ["token", "a_n", "b_n", "a_ppm", "b_ppm", "diff_ppm",
            "lift_milli"]
    top_a = (j.filter(F.col("diff_ppm") > 0)
             .orderBy(F.desc("diff_ppm"), F.asc("token")).limit(k)
             .select(F.lit("a").alias("direction"), *cols))
    top_b = (j.filter(F.col("diff_ppm") < 0)
             .orderBy(F.asc("diff_ppm"), F.asc("token")).limit(k)
             .select(F.lit("b").alias("direction"), *cols))
    return top_a.unionByName(top_b)
