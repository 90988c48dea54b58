"""Query catalog: every operator family from SURVEY.md §2 as a named query
over the driver-generated testdata tables, each paired with an independent
ANSI-SQL oracle (DuckDB dialect) computing the same result.

Contract (driver): QUERIES[name](spark, sf_dir) -> DataFrame must match
ORACLES[name] run by DuckDB on the same parquet files — row count, schema,
and order-insensitive value hash. Column names/types are aligned on both
sides; doubles are rounded identically; hashing inside operators is md5 so
both engines compute bit-identical values.

Queries without an oracle entry (the iterative crawl engine) get the
driver's weaker rows-only check; their exactness is covered by the pytest
fixtures instead (tests/test_crawl_engine.py oracle simulator).
"""

from __future__ import annotations

import functools
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extract.config import FieldConfig
from .extract.engine import extract_fields_df
from .functions.transforms import compile_chain
from .functions.urlnorm import canonicalize_struct_udf
from .ops import dedup, graphrank, similarity, textstats

EMB_DIM = 64


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (guide §2.5 "input skew" /
    §6 input split size).

    The testdata tables are single-file, single-row-group parquet, so a
    scan yields ONE input split and every expression pipelined above it
    (shingle md5, simhash bit folds, SURT regexes, gram Generates, Arrow
    UDF crossings) runs on one core until the first Exchange — measured
    as the dominant cost of most catalog queries at bench scale. A
    round-robin repartition to cluster parallelism immediately above the
    scan frees that stage.

    Scale guard: the repartition is added ONLY when the input cannot
    already feed the cluster (fewer files than cores AND total bytes
    below cores x maxPartitionBytes). A 100-TB corpus (thousands of
    >=128 MB files) takes the no-op branch — an unconditional
    repartition there would be a pure extra corpus-width exchange.
    Non-local filesystems where the cheap size probe fails also take the
    no-op branch (conservative: at cluster scale inputs are many-file).
    Results are partitioning-independent: every catalog query is a
    deterministic function of the row SET (oracle-gated rows+hash).
    """
    par = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if len(files) >= par:
            return df
        total = 0
        for f in files:
            if f.startswith("file:"):
                f = f[5:]
                while f.startswith("//"):
                    f = f[1:]
            total += os.path.getsize(f)
    except Exception:
        return df
    try:
        max_split = int(spark.conf.get(
            "spark.sql.files.maxPartitionBytes",
            str(128 * 1024 * 1024)).lower().rstrip("b"))
    except ValueError:
        max_split = 128 * 1024 * 1024  # "128m"-style values: safe default
    if total >= par * max_split or total < 64 * 1024:
        return df
    return df.repartition(par * 2)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def loadw(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """load + scan-parallelism floor — for queries whose per-row work
    ABOVE the scan (hashing, regexes, Generates, Arrow crossings)
    dominates. Queries that are one cheap scan + keyed agg/window use
    plain `load`: for them the spread's extra exchange costs more than
    single-task decode of a bench-sized file (measured: q01 0.54->1.08 s
    when spread unconditionally; q99's shingle collapse 5.35->2.19 s with
    it, where it belongs)."""
    return _spread(load(spark, sf_dir, table), spark)


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _us(c: Column) -> Column:
    """Epoch microseconds of a (possibly NTZ) timestamp under UTC session tz —
    matches DuckDB epoch_us over naive parquet timestamps."""
    return F.unix_micros(c.cast("timestamp_ltz"))


# =============================================================================
# Relational core (scan/filter/project/join/agg/window/sort/set ops)
# =============================================================================


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan -> groupBy agg (map-side partials)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join with broadcast dims -> agg. nation/region are tiny: explicit
    broadcast keeps the big side shuffle-free."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q03_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per key (the politeness-budget primitive, relationally)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", "rank", "o_orderkey", "o_totalprice")
    )


def q04_priority_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global agg + computed ratio + sort (JobPriority ordering analog)."""
    orders = load(spark, sf_dir, "orders")
    total = orders.count()
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .withColumn("pct", F.round(F.col("n") / F.lit(total), 6))
        .orderBy("o_orderpriority")
    )


def q05_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window agg (streaming-adjacent, batch form)."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            _us(F.col("w.start")).alias("bucket_us"),
            "event_type", "n_events", "sum_value",
        )
    )


def q06_viewers_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: distinct viewers EXCEPT purchasers (left_anti — the URL-seen
    dedup primitive, relationally)."""
    ev = load(spark, sf_dir, "events")
    clickers = (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 300))
        .select("user_id").distinct()
    )
    big_buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 300))
        .select("user_id").distinct()
    )
    return clickers.join(big_buyers, "user_id", "left_anti")


def q07_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x 2 broadcast dims -> agg with expression inside."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q08_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + cumulative sum windows (30-min gap rule)."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _us(F.col("ts")) - _us(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = ev.withColumn("session_id", F.sum(new_sess).over(wsum))
    per_sess = with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_ev")
    )
    return per_sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.max("n_ev").alias("max_session_events"),
    )


def q09_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (the reference's `json` field type surface)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


# =============================================================================
# Engine surface: URL canonicalization, transforms, HTML field extraction
# =============================================================================


def q10_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier's canonicalization core (NormalizeURL parity UDF) over
    synthesized raw URLs: mixed-case host, default port, tracking + unsorted
    params, fragment, trailing slash."""
    orders = load(spark, sf_dir, "orders")
    raw = F.concat(
        F.lit("HTTPS://WWW.Shop"),
        (F.col("o_custkey") % 50).cast("string"),
        F.lit(".Example.COM:443/orders/"),
        F.col("o_orderkey").cast("string"),
        F.lit("/?utm_source=feed&ref=x&b=2&a=1#frag"),
    )
    df = orders.select(
        "o_orderkey", canonicalize_struct_udf(raw).alias("c")
    )
    return df.select("o_orderkey", "c.url_canon", "c.host", "c.domain")


def q11_transform_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transform chains (pipeline/types.go:48-281), compiled:
    native Catalyst chains for codegen-expressible rules, the Arrow-UDF exact
    port for the rest (pad_left is byte-based -> UDF path)."""
    part = load(spark, sf_dir, "part")
    name_norm = compile_chain(
        [{"type": "trim"}, {"type": "normalize_spaces"}, {"type": "uppercase"}]
    )
    brand_num = compile_chain([{"type": "extract_numbers"}])
    brand_dash = compile_chain(
        [{"type": "replace", "pattern": "#", "replacement": "-"}]
    )
    name_padded = compile_chain(
        [{"type": "pad_left", "params": {"length": 20, "char": "*"}}]
    )
    return part.select(
        "p_partkey",
        name_norm(F.col("p_name")).alias("name_norm"),
        brand_num(F.col("p_brand")).alias("brand_num"),
        brand_dash(F.col("p_brand")).alias("brand_dash"),
        name_padded(F.col("p_name")).alias("name_padded"),
    )


def _doc_html_col() -> Column:
    return F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body><h1 class="title">'),
        F.upper(F.col("source")),
        F.lit('</h1><p class="description">'),
        F.substring(F.col("text"), 1, 50),
        F.lit('</p><span class="price">$'),
        F.col("n_chars").cast("string"),
        F.lit('.99</span><a href="/d/'),
        F.col("doc_id").cast("string"),
        F.lit('">self</a><a href="/d/'),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('">next</a></body></html>'),
    )


def q12_field_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven CSS field extraction (the reference's core query):
    one mapInArrow pass, schema derived from the field config at plan time."""
    docs = loadw(spark, sf_dir, "documents")
    pages = docs.select("doc_id", _doc_html_col().alias("html"))
    fields = [
        FieldConfig(name="title", selector="title", type="text"),
        FieldConfig(name="heading", selector="h1.title", type="text"),
        FieldConfig(name="description", selector="p.description", type="text"),
        FieldConfig(name="price", selector=".price", type="number"),
        FieldConfig(name="link_count", selector="a", type="count"),
        FieldConfig(name="has_price", selector=".price", type="exists"),
    ]
    out = extract_fields_df(pages, fields)
    return out.select(
        "doc_id", "title", "heading", "description", "price",
        "link_count", "has_price",
    )


# =============================================================================
# Training-data pipeline: dedup family, similarity, text analysis, multimodal
# =============================================================================


def _augmented_docs(spark: SparkSession, sf_dir: str,
                    spread: bool = True) -> DataFrame:
    """documents UNION a near-duplicate of each doc (one appended token,
    shifted ids) — the dedup-family test corpus, reproducible in SQL.
    ``spread`` is the per-query scan-parallelism choice (A/B-measured:
    the shingle/md5-heavy consumers win with it, simhash does not)."""
    ld = loadw if spread else load
    docs = ld(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqzz")).alias("text"),
    )
    return docs.unionByName(mutated)


def q13_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy keep-first over an exact-duplicated
    corpus (each doc twice under different ids -> keep min id)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = docs.unionByName(dup)
    kept = dedup.exact_dedup(corpus, ["text"], order_col="doc_id")
    return kept.select("doc_id", F.md5("text").alias("digest"))


def q14_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 md5 min-hashes) + banded LSH (4 bands) candidate pairs,
    verified with exact shingle Jaccard >= 0.5."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        aug, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q35_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the q14
    minhash-LSH pair graph — every doc labeled with its cluster's min
    doc_id, representatives flagged (the keep-one-per-cluster step of a
    training-data dedup pipeline)."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        aug, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comp = dedup.connected_components(
        aug.select("doc_id"), pairs, id_col="doc_id")
    return comp.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"))


def q36_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2) over a
    deterministic multi-line rendering of the documents corpus: tokens
    grouped 8-per-line, every (doc_id+i)%4==0 line left unpunctuated
    (fails the terminal-punct rule), every doc_id%50==0 page injected
    with the 'lorem ipsum'/'{' markers (whole-page drop)."""
    from .ops.textstats import c4_clean_cols

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), " +")
    ng = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), ng - 1),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
            F.when((F.col("doc_id") + i) % 4 == 0, F.lit(""))
            .otherwise(F.lit("."))))
    joined = F.array_join(lines, "\n")
    text_ml = F.when(
        F.col("doc_id") % 50 == 0,
        F.concat(joined, F.lit("\nlorem ipsum filler {"))).otherwise(joined)
    ml = docs.select("doc_id", text_ml.alias("text_ml"))
    cols = c4_clean_cols(F.col("text_ml"), min_words=3)
    return ml.select(
        "doc_id",
        cols["doc_dropped"].alias("doc_dropped"),
        cols["n_lines"].alias("n_lines"),
        cols["n_kept_lines"].alias("n_kept_lines"),
        cols["cleaned_text"].alias("cleaned_text"),
    )


def q37_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix rebalance + split assignment: documents
    sampled per language (en halved, zh quartered, long tail kept whole)
    and labeled train/val/test — every decision a pure content-hash
    function of doc_id, bit-reproducible in any engine."""
    from .ops.sampling import split_col, stratified_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = stratified_sample(docs, "lang", {"en": 0.5, "zh": 0.25},
                             key_col="doc_id", seed=1)
    return kept.select(
        "doc_id", "lang",
        split_col("doc_id", val_frac=0.05, test_frac=0.05, seed=2)
        .alias("split"))


def q38_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (ops/pii.py) over documents with
    deterministically injected emails / IPv4s / phone numbers (the base
    corpus is synthetic and PII-free, so the query plants them — every
    doc_id%3 gets an email, %5 an IP, %7 a phone)."""
    from .ops.pii import pii_count_cols, scrub_col

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" from 192.168."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".7"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" call +1555010"),
                        F.lpad((F.col("doc_id") % 1000).cast("string"),
                               3, "0"))).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", injected.alias("t"))
    counts = pii_count_cols(F.col("t"))
    return d.select(
        "doc_id",
        *[v.alias(k) for k, v in counts.items()],
        scrub_col(F.col("t")).alias("scrubbed"),
    )


def q39_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global paragraph-level exact dedup (ops/dedup.paragraph_dedup).

    The synthetic corpus is single-line, so the query builds paragraphs
    deterministically: two text slices plus injected cross-document
    boilerplate (every doc_id%4 gets a newsletter line, %6 a copyright
    line) — the boilerplate survives only in the lowest doc_id that
    carries it, exactly what paragraph dedup exists to do.
    """
    from .ops.dedup import paragraph_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    raw = F.array(
        F.substring("text", 1, 120),
        F.substring("text", 121, 100000),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("subscribe to our newsletter for updates")),
        F.when(F.col("doc_id") % 6 == 0,
               F.lit("all rights reserved copyright notice")),
    )
    paras = F.filter(raw, lambda p: p.isNotNull() & (p != ""))
    d = docs.select("doc_id", paras.alias("paras"))
    return paragraph_dedup(d)


def q40_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle + shard assignment
    (ops/sampling.shuffle_shards): content hash = the shuffle order,
    floor(u*8) = the shard, per-shard rank = the write sequence."""
    from .ops.sampling import shuffle_shards

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(docs, "doc_id", 8, seed=42)


_BENCH_SENTENCE = "the quick brown fox jumps over the lazy dog tonight"


def q41_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ops/dedup.contamination_flags): every
    doc_id%11 document gets the benchmark sentence appended, so exactly
    those documents must come back contaminated — with n_contaminated =
    the sentence's 3 distinct word-8-grams (boundary-spanning 8-grams
    around the injection exist only in the doc, never in the benchmark,
    and must NOT count)."""
    from .ops.dedup import contamination_flags

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" " + _BENCH_SENTENCE)).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", injected.alias("text"))
    bench = spark.createDataFrame(
        [(_BENCH_SENTENCE,),
         ("completely unrelated benchmark passage nothing matches here",)],
        "text string")
    return contamination_flags(d, bench, n=8)


def q42_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document budget (ops/sampling.cap_per_group): at most
    10 docs per source, picked by stable content-hash order — the
    Gopher-style domain-mix cap."""
    from .ops.sampling import cap_per_group

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", 10, "doc_id", seed=3)


def q43_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (ops/textstats.tfidf_topk,
    rational tf/df scoring — rank-identical to tf*(N/df), transcendental-
    free so the oracle reproduces ranks bit-for-bit)."""
    from .ops.textstats import tfidf_topk

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(docs, k=5)


def q44_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget cut (ops/sampling.take_token_budget): keep documents
    in stable hash order until 10,000 whitespace tokens are consumed —
    the distributed prefix-sum mix carver."""
    from .ops.sampling import take_token_budget
    from .ops.textstats import token_count_col

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    token_count_col("text").cast("long").alias("n_tokens")))
    return take_token_budget(docs, 10_000, "doc_id", seed=4)


def q45_staged_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full five-stage Process() chain
    (ops/pipeline.process_pipeline, pipeline.go:115-215): CSS extraction
    → transform chains → options-whitelist validation with OTHER default
    → exact dedup on the heading → broadcast tier enrichment. One row
    per surviving heading."""
    from .extract.validation import ValidationRule
    from .ops.pipeline import PipelineConfig, process_pipeline

    docs = loadw(spark, sf_dir, "documents")
    pages = docs.select("doc_id", _doc_html_col().alias("html"))
    allowed = [f"SRC{i}" for i in range(20) if i not in (7, 13)]
    dim = spark.createDataFrame(
        [("SRC0", "gold"), ("SRC1", "silver"), ("OTHER", "quarantine")],
        "heading string, tier string")
    cfg = PipelineConfig(
        fields=[
            FieldConfig(name="title", selector="title", type="text"),
            FieldConfig(name="heading", selector="h1.title", type="text"),
            FieldConfig(name="description", selector="p.description",
                        type="text"),
            FieldConfig(name="price", selector=".price", type="number"),
        ],
        transforms={
            "title": [{"type": "uppercase"}],
            "description": [{"type": "trim"}, {"type": "lowercase"}],
        },
        validation_rules=[
            ValidationRule(field="heading", type="string",
                           options=allowed, default="OTHER"),
            ValidationRule(field="price", type="number", required=True),
        ],
        dedup_cols=["heading"],
        dedup_order_col="doc_id",
        enrich_source=dim,
        enrich_on="heading",
        enrich_broadcast=True,
    )
    run = process_pipeline(pages, cfg)
    return run.df.select(
        "doc_id", "heading", "title", "description", "price",
        F.size("_violations").alias("n_violations"), "tier")


def q46_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher composite quality filter (ops/textstats.gopher_filter_cols):
    thresholded keep/drop with per-document failure reasons."""
    from .ops.textstats import gopher_filter_cols

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    cols = gopher_filter_cols("text")
    return docs.select(
        "doc_id",
        *[v.alias(k) for k, v in cols.items() if k != "reasons"],
        F.array_join(cols["reasons"], ",").alias("reasons"))


def q47_pagerank_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank feeding frontier priority: a deterministic
    md5-derived link graph over documents, 5 power iterations in exact
    fixed-point micro-units (integer sums are order-independent, so the
    result is bit-identical to the oracle's CTE replay)."""
    # plain scan everywhere (A/B-measured): the node side only feeds
    # joins (which exchange anyway) and the count, and the md5 edge
    # derivation is too cheap at any per-file row count to pay a spread
    nodes = load(spark, sf_dir, "documents")
    n = nodes.count()
    edges = graphrank.synth_link_edges(nodes, n_nodes=n)
    return graphrank.pagerank_micro(nodes, edges, iters=5, node_col="doc_id")


def q48_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) sink + source round-trip: documents written as
    gzip-member-per-record response records, read back through the
    binaryFile + Arrow record-splitter source; payload bytes must come
    back identical (md5 + octet length vs the raw table)."""
    from .sources import warc as warcio
    docs = load(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="dsx-warc-")
    pages = docs.select(
        F.concat(F.lit("https://corpus.example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"))
    warcio.write_warc(pages, out, num_files=8)
    back = warcio.read_warc(spark, out)
    return back.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.md5("html").alias("payload_md5"),
        F.octet_length("html").cast("long").alias("n_bytes"))


def q49_surt_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT keys + CDX-style capture rows over synthesized raw URLs
    (mixed-case, default ports on both schemes, unsorted params, www
    prefix, fragment). The oracle re-derives the key independently with
    DuckDB list/regex functions — not a hardcoded expected string."""
    from .functions.surt import cdx_index
    orders = loadw(spark, sf_dir, "orders")
    raw = F.concat(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("HTTP://"))
        .otherwise(F.lit("https://")),
        F.lit("WWW.Shop"), (F.col("o_custkey") % 50).cast("string"),
        F.lit(".Example.COM"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(":80"))
        .otherwise(F.lit(":443")),
        F.lit("/Items/"), F.col("o_orderkey").cast("string"),
        F.lit("/?z=9&A=1&m=5#frag"))
    df = orders.select("o_orderkey", raw.alias("url"),
                       F.col("o_orderdate").alias("ts"))
    out = cdx_index(df, url_col="url", ts_col="ts")
    return out.select("surt_key", _us(F.col("ts")).alias("ts_us"),
                      "digest", "url")


def q50_revisit_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-based recrawl priority (Cho/Garcia-Molina revisit policy,
    integer-exact) over a fetch history derived from events: change rate
    estimated from digest flips per URL, staleness from last-fetch age."""
    from .frontier.revisit import revisit_priority
    ev = load(spark, sf_dir, "events")
    _utc(spark)
    hist = ev.select(
        F.concat(F.lit("https://h"), (F.col("user_id") % 40).cast("string"),
                 F.lit(".example.net/p/"),
                 (F.col("event_id") % 25).cast("string")).alias("url"),
        F.col("ts"), F.col("event_id"),
        F.md5(F.col("event_type")).alias("digest"))
    return revisit_priority(hist, tiebreak_col="event_id")


def q51_content_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME + BOM/meta charset sniffing (functions/sniff.py)
    over payloads synthesized deterministically from documents: ten kinds
    (PNG/GIF/JPEG/PDF/ZIP/gzip/HTML/XML/JSON/plain incl. UTF-16LE + BOM
    variants) built with binary concat — the sniffer sees only bytes; the
    oracle re-derives the expected labels from the generating formula."""
    from .functions.sniff import sniff_cols

    docs = loadw(spark, sf_dir, "documents")
    k = F.col("doc_id") % 10
    s = F.col("doc_id") % 3
    utf8 = F.encode("text", "UTF-8")
    html_cs = (F.when(s == 0, "utf-8").when(s == 1, "iso-8859-1")
               .otherwise("windows-1252"))
    payload = (
        F.when(k == 0, F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), utf8))
        .when(k == 1, F.concat(F.lit(b"GIF89a"), utf8))
        .when(k == 2, F.concat(F.lit(b"\xff\xd8\xff\xe0"), utf8))
        .when(k == 3, F.concat(F.lit(b"%PDF-1.7\n"), utf8))
        .when(k == 4, F.concat(F.lit(b"PK\x03\x04"), utf8))
        .when(k == 5, F.concat(F.lit(b"\x1f\x8b\x08"), utf8))
        .when(k == 6, F.encode(F.concat(
            F.lit('<!DOCTYPE html><html><head><meta charset="'), html_cs,
            F.lit('"></head><body>'), F.col("text"),
            F.lit("</body></html>")), "UTF-8"))
        .when(k == 7, F.encode(F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?><root>'),
            F.col("text"), F.lit("</root>")), "UTF-8"))
        .when(k == 8, F.encode(F.concat(
            F.lit('{"body": "'), F.col("text"), F.lit('"}')), "UTF-8"))
        .when(s == 0, F.concat(F.lit(b"\xef\xbb\xbf"), utf8))
        .when(s == 1, F.concat(F.lit(b"\xff\xfe"),
                               F.encode("text", "UTF-16LE")))
        .otherwise(utf8))
    cols = sniff_cols(payload)
    return docs.select(
        "doc_id", *[v.alias(name) for name, v in cols.items()])


def q52_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-trap scoring (frontier/traps.py) over URLs synthesized from
    orders in five shapes: normal, repeating-segment trap, calendar trap
    (depth-gated), session-id params, parameter blowup. The oracle
    re-derives every flag from the URL string with independent DuckDB
    regex/list expressions — not from the generating kind."""
    from .frontier.traps import trap_cols

    orders = loadw(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    ckey = F.col("o_custkey")
    url = (
        F.when(okey % 5 == 0, F.concat(
            F.lit("https://shop"), (ckey % 50).cast("string"),
            F.lit(".example.com/items/"), okey.cast("string"),
            F.lit("?page=2")))
        .when(okey % 5 == 1, F.concat(
            F.lit("https://trap.example.com"),
            F.expr("repeat('/cat/list', 2 + o_orderkey % 3)")))
        .when(okey % 5 == 2, F.concat(
            F.lit("https://cal.example.com"),
            F.when(okey % 2 == 0, "/archive/a/b/c").otherwise(""),
            F.lit("/2024/"), (1 + okey % 12).cast("string"),
            F.lit("/"), (1 + okey % 28).cast("string")))
        .when(okey % 5 == 3, F.concat(
            F.lit("https://s.example.com/p/"), okey.cast("string"),
            F.lit("?jsessionid="),
            F.md5(F.encode(okey.cast("string"), "UTF-8")),
            F.lit("&x=1")))
        .otherwise(F.concat(
            F.lit("https://q.example.com/search?"),
            F.lit("p0=0&p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8=8&p9=9"))))
    df = orders.select("o_orderkey", url.alias("url"))
    cols = trap_cols(F.col("url"))
    return df.select(
        "o_orderkey", "url",
        cols["path_depth"].cast("int").alias("path_depth"),
        cols["repeat_trap"].alias("repeat_trap"),
        cols["calendar_trap"].alias("calendar_trap"),
        cols["session_param"].alias("session_param"),
        cols["param_blowup"].alias("param_blowup"),
        cols["trap_score"].cast("int").alias("trap_score"),
        cols["is_trap"].alias("is_trap"))


def q53_host_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host reputation + proportional budget split (frontier/reputation.py)
    over a fetch history derived from events; error/dup flags come from
    deterministic event_id residues so per-host rates vary naturally."""
    from .frontier.reputation import reputation_budgets

    ev = load(spark, sf_dir, "events")
    hist = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string"),
                 F.lit(".example.net")).alias("host"),
        (F.col("event_id") % 9 == 0).alias("is_error"),
        (F.col("event_id") % 7 == 0).alias("is_dup"))
    return reputation_budgets(hist, total_budget=100_000)


def q54_capture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-capture shingle drift (ops/drift.py) over a capture
    history derived from events: same-URL captures share most tokens and
    differ in two residue-derived words, so drift_ppm lands strictly
    between 0 and 10^6 and the integer Jaccard must match exactly."""
    from .ops.drift import capture_drift

    ev = load(spark, sf_dir, "events")
    _utc(spark)
    hist = ev.select(
        F.concat(F.lit("https://h"), (F.col("user_id") % 40).cast("string"),
                 F.lit(".example.net/p/"),
                 (F.col("event_id") % 25).cast("string")).alias("url"),
        F.col("ts"), F.col("event_id"),
        F.concat(F.lit("alpha beta gamma delta w"),
                 (F.col("event_id") % 5).cast("string"),
                 F.lit(" epsilon zeta w"),
                 (F.col("event_id") % 3).cast("string"),
                 F.lit(" eta theta iota kappa")).alias("text"))
    out = capture_drift(hist, url_col="url", ts_col="ts", text_col="text",
                        n=3, tiebreak_col="event_id")
    return out.select("url", _us(F.col("ts")).alias("ts_us"), "n_shingles",
                      "overlap", "union_size", "jaccard_ppm", "drift_ppm")


def q55_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 in-link anchor texts per target (ops/graphrank.anchor_text_topk)
    over edges synthesized from orders with deterministic case/whitespace
    noise, so the normalization path is exercised end-to-end."""
    orders = loadw(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    base = (F.when(okey % 7 == 0, "click here")
            .when(okey % 7 == 1, "read more")
            .when(okey % 7 == 2, "home page")
            .when(okey % 7 == 3, "product page")
            .when(okey % 7 == 4, "details")
            .when(okey % 7 == 5, "buy now")
            .otherwise("official site"))
    spaced = F.when(okey % 2 == 0, F.concat(
        F.lit("  "), F.replace(base, F.lit(" "), F.lit("   ")),
        F.lit(" "))).otherwise(base)
    anchor = F.when(okey % 3 == 0, F.upper(spaced)).otherwise(spaced)
    edges = orders.select(
        F.concat(F.lit("https://t.example.com/p/"),
                 (F.col("o_custkey") % 200).cast("string")).alias("dst"),
        anchor.alias("anchor"))
    return graphrank.anchor_text_topk(edges, k=3)


def q56_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (extract/content.py) over synthesized pages
    with nav/header/sidebar/footer chrome around two content paragraphs;
    the oracle re-derives block word counts + the keep rule (>=10 words,
    link density <= 1/3) from the generation formula in SQL."""
    from .extract.content import extract_main_content_df

    docs = loadw(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title></head><body>"),
        F.lit('<div class="nav"><a href="/">home</a> '
              '<a href="/a">about us</a> '
              '<a href="/c">contact page now</a></div>'),
        F.lit("<h1>Doc "), did, F.lit("</h1>"),
        F.lit("<p>"), F.substring("text", 1, 150), F.lit("</p>"),
        F.lit("<p>"), F.substring("text", 151, 150), F.lit("</p>"),
        F.lit('<div class="side"><a href="/x">ad one</a> '
              '<a href="/y">ad two</a></div>'),
        F.lit("<p>copyright 2024 example</p></body></html>"))
    pages = docs.select("doc_id", html.alias("html"))
    return extract_main_content_df(pages)


def q57_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap table parse (sources/sitemap.py): per-host <urlset> docs
    plus one <sitemapindex> are BUILT from orders, then parsed back by
    the codegen regex parser; the oracle re-derives the expected rows
    straight from orders — the whole build+parse chain must invert."""
    from .sources.sitemap import changefreq_hours_col, parse_sitemaps_df

    orders = loadw(spark, sf_dir, "orders")
    okey = F.col("o_orderkey")
    h = (F.col("o_custkey") % 20).cast("string")
    cf = (F.when(okey % 4 == 0, "daily").when(okey % 4 == 1, "weekly")
          .when(okey % 4 == 2, "monthly").otherwise("yearly"))
    pr = (F.when(okey % 3 == 0, "0.5").when(okey % 3 == 1, "0.8")
          .otherwise("1.0"))
    entry = F.concat(
        F.lit("<url><loc>https://s"), h, F.lit(".ex.com/o/"),
        okey.cast("string"), F.lit("</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</lastmod><changefreq>"), cf,
        F.lit("</changefreq><priority>"), pr,
        F.lit("</priority></url>"))
    per_host = (
        orders.select(h.alias("h"), entry.alias("e"))
        .groupBy("h")
        .agg(F.array_join(F.array_sort(F.collect_list("e")), "")
             .alias("body"))
        .select(
            F.concat(F.lit("https://s"), F.col("h"),
                     F.lit(".ex.com/sitemap.xml")).alias("sitemap_url"),
            F.concat(F.lit('<?xml version="1.0"?><urlset>'), F.col("body"),
                     F.lit("</urlset>")).alias("xml")))
    index = (
        orders.select(h.alias("h")).distinct()
        .select(F.concat(F.lit("<sitemap><loc>https://s"), F.col("h"),
                         F.lit(".ex.com/sitemap.xml</loc></sitemap>"))
                .alias("e"))
        .agg(F.array_join(F.array_sort(F.collect_list("e")), "")
             .alias("body"))
        .select(
            F.lit("https://index.ex.com/sitemap-index.xml")
            .alias("sitemap_url"),
            F.concat(F.lit('<?xml version="1.0"?><sitemapindex>'),
                     F.col("body"),
                     F.lit("</sitemapindex>")).alias("xml")))
    parsed = parse_sitemaps_df(per_host.unionByName(index))
    return parsed.select(
        "sitemap_url", "loc", "lastmod", "changefreq", "priority",
        "is_index",
        changefreq_hours_col(F.col("changefreq")).alias("freq_hours"))


def q58_host_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host duplicate/mirror content stats (dedup.host_mirror_stats)
    over a page table whose content digests repeat both within hosts
    (doc_id ±120 shares host AND content) and across hosts (±60 shares
    content only) — both ppm columns land strictly inside (0, 10^6)."""
    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("m"), (F.col("doc_id") % 8).cast("string"),
                 F.lit(".ex.com")).alias("host"),
        F.md5(F.encode((F.col("doc_id") % 60).cast("string"), "UTF-8"))
        .alias("digest"))
    return dedup.host_mirror_stats(pages, host_col="host",
                                   digest_col="digest")


def q59_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining: a synthetic corpus whose paths exercise all
    five segment classes ({n}, {uuid}, {hex}, {id}, literal) collapses
    to per-(host, template) shape stats, all classification in
    codegen."""
    from .functions import urltemplates
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    md = F.md5(F.encode(i.cast("string"), "UTF-8"))
    num = (i * 7919 % 100000).cast("string")
    path = (F.when(i % 5 == 0, F.concat(F.lit("/product/"), num))
            .when(i % 5 == 1, F.concat(F.lit("/product/"), num,
                                       F.lit("/review-"),
                                       (i % 7).cast("string")))
            .when(i % 5 == 2, F.concat(F.lit("/item/"),
                                       F.substring(md, 1, 12)))
            .when(i % 5 == 3, F.concat(
                F.lit("/u/"), F.substring(md, 1, 8), F.lit("-"),
                F.substring(md, 9, 4), F.lit("-"), F.substring(md, 13, 4),
                F.lit("-"), F.substring(md, 17, 4), F.lit("-"),
                F.substring(md, 21, 12)))
            .otherwise(F.concat(F.lit("/static/css/main.css?v="),
                                (i % 10).cast("string"))))
    urls = docs.select(F.concat(
        F.lit("https://shop"), (i % 3).cast("string"),
        F.lit(".example.com"), path).alias("url"))
    return urltemplates.mine_url_templates(urls, url_col="url")


def q60_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph rollup (graphrank.host_graph_rollup) over a
    deterministic page graph: host a links to hosts a, a+1, a+2, a+6
    (mod 7) — exercising internal, reciprocal (offsets 1/6) and
    one-way (offset 2) pairs."""
    docs = loadw(spark, sf_dir, "documents")
    i = F.col("doc_id")
    e = docs.select(i, F.explode(F.sequence(F.lit(0), F.lit(3)))
                    .alias("j"))
    off = F.element_at(F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(6)),
                       (F.col("j") + 1).cast("int"))
    a, b = i % 7, (i % 7 + off) % 7
    edges = e.select(
        F.concat(F.lit("https://h"), a.cast("string"),
                 F.lit(".ex.com/p/"), i.cast("string")).alias("src_url"),
        F.concat(F.lit("https://h"), b.cast("string"), F.lit(".ex.com/p/"),
                 ((i * 7 + F.col("j")) % 123).cast("string"))
        .alias("dst_url"))
    return graphrank.host_graph_rollup(edges)


def q61_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution: chains u_i -> u_{i-1} of length
    doc_id % 8 (all confirmed terminal within the 8-hop cap) plus a
    10-URL cycle that exhausts the cap and reports unresolved."""
    from .frontier.redirects import resolve_redirects
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")

    def u(n):
        return F.concat(F.lit("https://r.ex.com/u/"), n.cast("string"))

    def c(n):
        return F.concat(F.lit("https://r.ex.com/c/"), n.cast("string"))

    chain = docs.filter(i % 8 != 0).select(u(i).alias("src"),
                                           u(i - 1).alias("dst"))
    cyc = (docs.select((i % 10).alias("j")).distinct()
           .select(c(F.col("j")).alias("src"),
                   c((F.col("j") + 1) % 10).alias("dst")))
    redirects = chain.unionByName(cyc)
    urls = (docs.select(u(i).alias("url"))
            .unionByName(cyc.select(F.col("src").alias("url"))))
    return resolve_redirects(urls, redirects, max_hops=8)


def q62_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing (ops/sampling.pack_sequences):
    documents walk 8 hash-order shards in (u, doc_id) order and pack
    into 300-token context windows; the oracle replays the identical
    per-shard recurrence as a bounded recursive CTE."""
    from .ops.sampling import pack_sequences
    from .ops.textstats import token_count_col

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    token_count_col("text").cast("long").alias("n_tokens")))
    return pack_sequences(docs, capacity=300, key_col="doc_id",
                          n_shards=8, seed=0)


def q63_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (textstats.inverted_index) over documents:
    per-term df / total-tf / doc-sorted postings capped at 16, terms
    appearing in at least 2 documents."""
    docs = load(spark, sf_dir, "documents")
    return textstats.inverted_index(docs, min_df=2, max_postings=16)


def q64_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (ops/sketches.hll_registers, p=8)
    over a duplicate-heavy URL stream (orders keyed mod 4096) — the
    registers are integer-exact and oracle-gated; the float readout is
    tested separately for accuracy."""
    from .ops.sketches import hll_registers
    orders = loadw(spark, sf_dir, "orders")
    urls = orders.select(
        F.concat(F.lit("https://s.ex.com/p/"),
                 (F.col("o_orderkey") % 4096).cast("string")).alias("url"))
    return hll_registers(urls, "url", p=8, seed=0)


def q65_revisit_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET recrawl planner (revisit.revisit_decisions) over
    a synthetic per-URL freshness state covering the full decision
    lattice: rates 0..10^6, ages 0..999, ETag/Last-Modified presence,
    and sitemap-prior caps (24 h / 168 h / none)."""
    from .frontier.revisit import revisit_decisions
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    state = docs.select(
        F.concat(F.lit("https://f.ex.com/p/"), i.cast("string"))
        .alias("url"),
        ((i * 37) % 1000001).alias("change_rate_micro"),
        (i % 1000).alias("age_hours"),
        (i % 3 == 0).alias("has_etag"),
        (i % 5 == 0).alias("has_lm"),
        F.when(i % 4 == 0, F.lit(24)).when(i % 4 == 1, F.lit(168))
        .alias("prior_hours"))
    out = revisit_decisions(state, etag_col="has_etag",
                            last_modified_col="has_lm",
                            prior_hours_col="prior_hours")
    return out.select("url", "change_rate_micro", "age_hours",
                      "interval_hours", "due", "decision")


def q66_social_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph/Twitter-card rollup (`type: social_meta`): one config
    line collects every og:/twitter: meta into a sorted-key JSON dict
    (first tag wins on duplicates — the consumer rule); scalars pulled
    JVM-side with get_json_object."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta property="og:title" content="Doc '), d,
        F.lit('"/><meta property="og:title" content="DUPLICATE"/>'
              '<meta property="og:type" content="article"/>'),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit('<meta name="twitter:card" content="summary"/>'))
        .otherwise(F.lit("")),
        F.lit('<meta name="twitter:site" content="@site'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('"/></head><body><p>x</p></body></html>'))
    pages = docs.select("doc_id", html.alias("html"))
    fields = [FieldConfig(name="sm", selector="", type="social_meta")]
    out = extract_fields_df(pages, fields)
    return out.select(
        "doc_id",
        F.get_json_object("sm", "$['og:title']").alias("og_title"),
        F.get_json_object("sm", "$['og:type']").alias("og_type"),
        F.get_json_object("sm", "$['twitter:card']").alias("tw_card"),
        F.get_json_object("sm", "$['twitter:site']").alias("tw_site"),
        F.col("sm").alias("social_json"))


def q67_wet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common-Crawl WET derivation end-to-end IN ONE PLAN: pages
    (q56's chrome-wrapped html) → WARC sink → WARC source →
    main-content extraction → per-doc content stats. Any corruption in
    the WARC framing or the Arrow extraction pass breaks main_md5, so
    the whole chain is integrity-gated, not just each stage."""
    from .extract.content import extract_main_content_df
    from .sources import warc as warcio

    docs = loadw(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title></head><body>"),
        F.lit('<div class="nav"><a href="/">home</a> '
              '<a href="/a">about us</a> '
              '<a href="/c">contact page now</a></div>'),
        F.lit("<h1>Doc "), did, F.lit("</h1>"),
        F.lit("<p>"), F.substring("text", 1, 150), F.lit("</p>"),
        F.lit("<p>"), F.substring("text", 151, 150), F.lit("</p>"),
        F.lit('<div class="side"><a href="/x">ad one</a> '
              '<a href="/y">ad two</a></div>'),
        F.lit("<p>copyright 2024 example</p></body></html>"))
    out = tempfile.mkdtemp(prefix="dsx-wet-")
    pages = docs.select(
        F.concat(F.lit("https://wet.example.com/doc/"), did).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"))
    warcio.write_warc(pages, out, num_files=8)
    back = warcio.read_warc(spark, out)
    pages2 = back.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.decode("html", "utf-8").alias("html"))
    mc = extract_main_content_df(pages2)
    return mc.select("doc_id", F.md5(F.encode("main_text", "utf-8"))
                     .alias("main_md5"), "content_words", "boiler_ppm")


def _hostdocs_with_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rendered as per-host line lists: tokens grouped 8 per
    line (q36's rendering), plus a per-host footer injected into 90% of
    each host's docs (above the boilerplate threshold -> stripped) and a
    promo line into ~33% (below it -> kept). host = `source`."""
    docs = loadw(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("host"), "text")
    toks = F.split(F.trim(F.col("text")), " +")
    n_lines = F.floor((F.size(toks) + F.lit(7)) / F.lit(8)).cast("int")
    base_lines = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.array_join(F.slice(toks, (i - 1) * 8 + 1, 8), " "))
    footer = F.when(
        F.col("doc_id") % 10 != 0,
        F.array(F.concat(F.lit("all rights reserved footer "),
                         F.col("host")))
    ).otherwise(F.array().cast("array<string>"))
    promo = F.when(
        F.col("doc_id") % 3 == 0,
        F.array(F.concat(F.lit("subscribe newsletter updates "),
                         F.col("host")))
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", "host",
        F.concat(base_lines, footer, promo).alias("lines"))


def q68_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-host boilerplate line removal (CCNet/RefinedWeb line-freq
    pass): lines appearing in >= max(3, 50%) of a host's documents are
    stripped host-wide; surviving lines reassemble in original order."""
    d = _hostdocs_with_lines(spark, sf_dir)
    return dedup.host_boilerplate_strip(
        d, host_col="host", id_col="doc_id", lines_col="lines",
        min_docs=3, min_frac=0.5)


def q69_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup, fixed-12-token-window form (Lee et
    al. 2022): the corpus is documents plus a mutant per doc embedding
    the full original text behind a 2-token intro — every copied span is
    removed from the globally-later occurrence only."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("intro w"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(" "), F.col("text")).alias("text"))
    corpus = docs.unionByName(mutated)
    return dedup.repeated_span_dedup(corpus, "doc_id", "text", k=12)


def q70_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained char-trigram LM quality score (CCNet's KenLM
    perplexity step in the repo's integer-exact bit-length form):
    every doc scored by average per-gram surprisal under the LM trained
    on the same corpus."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.char_lm_surprisal(docs, "doc_id", "text", n=3)


def q71_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary induction + per-doc OOV rate: fit the top-16
    corpus tokens (count DESC, token ASC — deterministic), score every
    document's out-of-vocabulary ppm against the fitted vocab."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = textstats.fit_vocabulary(docs, vocab_size=16)
    return textstats.oov_stats(docs, vocab)


def q72_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-crawl incremental dedup: a new fetch batch (exact copies,
    near copies with an appended tail, and synthesized novel docs) deduped
    against the FULL corpus via a persisted bucket-partitioned MinHash
    index — the corpus text is never rescanned; the probe reads only the
    batch's (band, key-prefix) bucket partitions and the candidates'
    shingle shards (PartitionFilters plan-asserted in tests)."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    nid = (d + 200000).alias("doc_id")
    batch = (
        docs.filter(d % 20 == 0).select(nid, "text")
        .unionByName(
            docs.filter(d % 20 == 1).select(
                nid, F.concat("text", F.lit(" qqzz qqzz2 qqzz3")).alias("text")))
        .unionByName(
            docs.filter(d % 20 == 2).select(
                nid,
                F.concat(F.lit("novel doc "), d.cast("string"),
                         F.lit(" fresh crawl content with no corpus twin"))
                .alias("text")))
    )
    idx = tempfile.mkdtemp(prefix="dsx-mhidx-")
    # key_prefix_len=1 at fixture scale (bands x 16 bucket partitions —
    # 16^2 cells only pay off when partitions are file-sized, i.e. at
    # corpus scale); pruning semantics identical, plan-asserted in tests
    dedup.write_minhash_index(docs, idx, "doc_id", "text",
                              num_hashes=16, bands=4, key_prefix_len=1)
    pairs = dedup.dedup_batch_indexed(
        spark, idx, batch, "doc_id", "text",
        num_hashes=16, bands=4, threshold=0.5, key_prefix_len=1)
    return pairs.select("id_new", "id_corpus",
                        F.round("jaccard", 6).alias("jaccard"))


def q73_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality rollup + blocklist decision over a corpus
    where src0-src7 carry ~1/3 degraded pages (low-quality gate) and
    src16-src19 carry ~40% identical mirror pages (dup gate): one
    domain-keyed agg, integer-ppm outputs, broadcast-sized blocklist."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "source", "text")
    d = F.col("doc_id")
    mod = docs.withColumn(
        "text",
        F.when((d % 20 < 8) & (d % 3 == 0), F.lit("x y"))
        .when((d % 20 >= 16) & ((d % 5 == 1) | (d % 5 == 2)),
              F.lit("duplicate content page boilerplate mirror copy"))
        .otherwise(F.col("text")),
    )
    return textstats.domain_quality_rollup(mod, "source")


def q74_encoding_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-noise gate over a corpus with deterministically injected
    mojibake (doc_id%7), U+FFFD replacement chars (doc_id%11) and a C0
    control byte (doc_id%13): per-doc exact-integer noise counts + ppm +
    keep decision. Pure codegen — replace()-delta counting, no Python."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    t = F.col("text")
    t = F.when(d % 7 == 0, F.concat(t, F.lit(" cafÃ© said â€™helloâ€™"))).otherwise(t)
    t = F.when(d % 11 == 0, F.concat(t, F.lit(" bad�decode�"))).otherwise(t)
    t = F.when(d % 13 == 0, F.concat(t, F.lit(" ctl\x07byte"))).otherwise(t)
    nz = textstats.encoding_noise_cols(t)
    return docs.select(
        "doc_id",
        nz["n_replacement"].alias("n_replacement"),
        nz["n_control"].alias("n_control"),
        nz["n_mojibake"].alias("n_mojibake"),
        nz["noise_ppm"].alias("noise_ppm"),
        (nz["noise_ppm"] <= 1000).alias("is_clean"),
    )


def q75_best_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted near-dup resolution: per cluster the
    highest-quality copy survives (tie: min doc_id) instead of blindly
    the min id. The corpus degrades every third ORIGINAL with digit junk
    while its clone stays clean, so the winner is often the larger id —
    the case min-id representatives get wrong. Integer-ppm quality from
    quality_columns; the winner window runs only over pair-graph nodes."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    base = docs.select(
        "doc_id",
        F.when(d % 3 == 0, F.concat("text", F.lit(" 00 11 22 33")))
        .otherwise(F.col("text")).alias("text"))
    clone = docs.select((d + 100000).alias("doc_id"), "text")
    aug = base.unionByName(clone)
    pairs = dedup.minhash_lsh_pairs(
        aug, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    q_ppm = F.round(
        textstats.quality_columns("text")["quality_score"] * 1_000_000
    ).cast("long")
    scored = aug.select("doc_id", q_ppm.alias("q_ppm"))
    return dedup.best_representative_decisions(
        scored, pairs, "q_ppm"
    ).select("doc_id", "cluster_id", F.col("score").alias("q_ppm"), "kept")


def q76_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (pretraining/RAG chunker):
    16-token windows, 4-token overlap, one Generate pass, zero shuffle."""
    from .ops.sampling import chunk_documents

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, max_tokens=16, overlap=4)


def q77_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: carve a clean token-budgeted training mix
    out of the corpus — quality gate → noise gate → predicted-language
    filter → domain blocklist → exact dedup → language rebalance →
    10k-token budget cut, every stage an already-gated operator, all
    decisions content-hash-deterministic (ops.mix.build_training_mix)."""
    from .ops.mix import MixConfig, build_training_mix

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "source", "text")
    cfg = MixConfig(
        min_quality_ppm=500_000, max_noise_ppm=10_000, langs=("en",),
        blocked_domains=("src3", "src7"), domain_col="source",
        dedup=True, lang_rates={"en": 0.5}, token_budget=10_000,
        sample_seed=1, budget_seed=4)
    run = build_training_mix(docs, cfg)
    return run.df.select("doc_id", "lang_pred", "q_ppm", "n_tokens",
                         "cum_tokens")


def q78_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease in exact integer millipoints (vowel-group
    syllable heuristic, [.!?]+ sentence runs) — pure codegen, one scan."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    rc = textstats.readability_cols("text")
    return docs.select(
        "doc_id",
        rc["n_words"].alias("n_words"),
        rc["n_sentences"].alias("n_sentences"),
        rc["n_syllables"].alias("n_syllables"),
        rc["flesch_milli"].alias("flesch_milli"),
    )


def q79_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline extraction (`type: outline`, the 26th field type):
    h1-h6 collected in document order as (level, text) rows — TOC /
    section-chunking structure signal; one mapInArrow crossing, then a
    posexplode back to relational rows."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body><h1>Title "), d.cast("string"), F.lit("</h1>"),
        F.lit("<p>intro</p><h2>Section A "), (d % 5).cast("string"),
        F.lit("</h2>"),
        F.when(d % 2 == 0,
               F.concat(F.lit("<h3>Detail "), (d % 7).cast("string"),
                        F.lit("</h3>")))
        .otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("<h2>Section B</h2>")).otherwise(F.lit("")),
        F.lit("<p>body text</p></body></html>"))
    pages = docs.select("doc_id", html.alias("html"))
    fields = [FieldConfig(name="toc", selector="", type="outline")]
    out = extract_fields_df(pages, fields)
    return out.select(
        "doc_id", F.posexplode("toc").alias("pos", "h")
    ).select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        F.col("h")["level"].cast("long").alias("level"),
        F.col("h")["text"].alias("heading"),
    )


def q80_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report over the q75-style degraded corpus (digit-junk
    originals + clean clones): tall (metric, value) BIGINT table — one
    scan, one global aggregate, constant-width unpivot."""
    from .ops.mix import corpus_report

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    base = docs.select(
        "doc_id",
        F.when(d % 3 == 0, F.concat("text", F.lit(" 00 11 22 33")))
        .otherwise(F.col("text")).alias("text"))
    clone = docs.select((d + 100000).alias("doc_id"), "text")
    return corpus_report(base.unionByName(clone))


def q81_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by integer-exact lift (the monotone PMI
    transform): two groupBys + token-keyed rejoins + constant-key N join,
    distributed top-k via orderBy+limit."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.collocations(docs, k=20, min_count=5)


def q82_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-cosine duplicates WITHIN deterministic k-means
    cells (min-id winner) over the perturbed near-dup corpus — the
    semantic layer exact/MinHash dedup misses."""
    aug = _augmented_embeddings(spark, sf_dir)
    return similarity.semantic_dedup_flags(
        aug, "vec_id", "embedding", n_centroids=16, threshold=0.99)


def q83_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed unigram+bigram models, bit-length
    integer log-likelihood ratio): raw corpus = all documents, target =
    the English slice."""
    from .ops.mix import dsir_weights

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"),
                        n_buckets=1024)


def q84_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection over synthesized page titles/bodies (every 17th
    doc is an error page served as content) — pure codegen substring
    features, additive score, flag."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    err = d % 17 == 0
    pages = docs.select(
        "doc_id",
        F.when(err, F.concat(F.lit("404 Not Found - Doc "),
                             d.cast("string")))
        .otherwise(F.concat(F.lit("Doc "), d.cast("string"))).alias("title"),
        F.when(err, F.lit(
            "The page you requested was not found on this server."))
        .otherwise(F.col("text")).alias("text"))
    return pages.select(
        "doc_id", *textstats.soft404_columns("title", "text", min_tokens=16))


def q85_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity tertiles: char-LM surprisal (q70) bucketed into
    head/middle/tail by exact integer rank over the bounded value
    histogram — never a corpus-width sort."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.surprisal_buckets(docs, "doc_id", "text", n=3)


def q86_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (ops/bpe.bpe_merges): the first
    8 merges over the corpus — one corpus scan to the word-frequency
    table, then vocab-width pair-count rounds with a 1-row argmax
    collect each; merge application is a single replace() on the
    double-space sentinel encoding. Oracle replays the identical greedy
    recurrence with generated per-round CTEs."""
    from .ops.bpe import bpe_merges

    docs = load(spark, sf_dir, "documents").select("text")
    return bpe_merges(docs, "text", n_merges=8)


def q87_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) partial-overlap pairs over a corpus where every
    third document also appears wrapped in prepended/appended chrome
    (id+300000): the shared passage is >= w+k-1 tokens, so the
    winnowing guarantee forces shared fingerprints and each
    (original, wrapped) pair must surface with high containment
    overlap — the local-similarity case whole-doc MinHash scores low
    and exact fingerprints miss entirely."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    wrapped = docs.filter(d % 3 == 0).select(
        (d + 300000).alias("doc_id"),
        F.concat(F.lit("prepended chrome header tokens then "),
                 F.col("text"),
                 F.lit(" trailing footer junk appended")).alias("text"))
    corpus = docs.unionByName(wrapped)
    return dedup.winnow_overlap_pairs(corpus, "doc_id", "text",
                                      k=4, w=5, threshold=0.5)


def q88_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 top-10 per query over a corpus with synthetic
    discriminative vocabulary (tag/grp suffix tokens span rare->common
    df): one corpus scan to the postings, query side broadcast, top-k
    via WindowGroupLimit — never a global sort."""
    from .ops.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    pages = docs.select(
        "doc_id",
        F.concat("text", F.lit(" tag"), (d % 97).cast("string"),
                 F.lit(" grp"), (d % 13).cast("string")).alias("text"))
    i = F.col("id")
    qs = spark.range(8).select(
        F.col("id").alias("query_id"),
        F.concat(F.lit("tag"), (i * 11).cast("string"),
                 F.lit(" grp"), (i % 13).cast("string"),
                 F.lit(" value scan")).alias("qtext"))
    return bm25_topk(pages, qs, k=10)


def q89_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS hubs & authorities over the q47 deterministic link
    graph: 4 exact fixed-point iterations in BIGINT micro-units with
    max-normalization — bit-identical to the oracle's CTE replay."""
    # plain scan everywhere — same A/B rationale as q47
    nodes = load(spark, sf_dir, "documents")
    n = nodes.count()
    edges = graphrank.synth_link_edges(nodes, n_nodes=n)
    return graphrank.hits_micro(nodes, edges, iters=4, node_col="doc_id")


def q90_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-LSH) benchmark decontamination: eval items are
    corpus docs with an appended answer-key tail (every 50th doc) plus
    wholly novel items that must match nothing — the paraphrase-robust
    companion to q41's exact 8-gram check."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    bid = (d + 400000).alias("doc_id")
    bench = (
        docs.filter(d % 50 == 0).select(
            bid, F.concat("text", F.lit(" eval answer label")).alias("text"))
        .unionByName(docs.filter(d % 50 == 1).select(
            bid,
            F.concat(F.lit("benchmark item "), d.cast("string"),
                     F.lit(" with wholly novel question content"))
            .alias("text"))))
    pairs = dedup.fuzzy_decontaminate(docs, bench, "doc_id", "text",
                                      threshold=0.5)
    return pairs.select("doc_id", "benchmark_id",
                        F.round("jaccard", 6).alias("jaccard"))


def q91_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (T=2, integer isqrt) mixture rebalance per source
    domain: one domain-keyed aggregate, domains-width everything else."""
    from .ops.mix import temperature_weights

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_weights(docs, "source", "doc_id")


def q92_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword counts under the q86-trained BPE merge table:
    encoding runs at vocab width (each distinct word re-encoded once,
    never each occurrence), word-keyed join back to the doc table."""
    from .ops.bpe import bpe_encode_counts

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_encode_counts(docs, "doc_id", "text", n_merges=8)


def q93_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query with a repeated-word phrase over a corpus
    where every 4th doc gets an appended tail containing two OVERLAPPING
    occurrences ("frontier crawl frontier crawl frontier" matches
    "frontier crawl frontier" at token offsets 0 AND 2) — the case a
    non-positional index (q63/q88) cannot answer and non-overlapping
    substring counting undercounts."""
    from .ops.retrieval import phrase_search

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    tail = F.when(d % 4 == 0,
                  F.lit(" frontier crawl frontier crawl frontier")) \
        .when(d % 4 == 1, F.lit(" frontier crawl engine")) \
        .otherwise(F.lit(""))
    corpus = docs.select("doc_id", F.concat("text", tail).alias("text"))
    return phrase_search(corpus, "frontier crawl frontier")


def q94_word_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram-LM fluency scores: LM trained on the even
    half of the corpus, odd half scored (so unseen bigrams genuinely
    back off); every 10th scored doc gets an appended out-of-vocabulary
    token to exercise the unseen-unigram -> 0 branch."""
    from .ops.textstats import stupid_backoff_scores

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    train = docs.filter(d % 2 == 0)
    score = docs.filter(d % 2 == 1).select(
        "doc_id",
        F.concat("text", F.when(d % 10 == 1,
                                F.concat(F.lit(" zzoov"),
                                         (d % 7).cast("string")))
                 .otherwise(F.lit(""))).alias("text"))
    return stupid_backoff_scores(train, score)


def q95_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language p50/p90/p99 document token counts via the
    value-histogram plan (corpus report ground truth, q64's exact
    companion) — never a corpus-width sort."""
    from .ops.dedup import tokens_col
    from .ops.sketches import exact_group_quantiles

    docs = load(spark, sf_dir, "documents").select("lang", "text")
    lens = docs.select("lang",
                       F.size(tokens_col(F.col("text"))).alias("n_tokens"))
    out = exact_group_quantiles(lens, "lang", "n_tokens")
    return out.select("lang", "n",
                      F.col("p50").cast("long").alias("p50"),
                      F.col("p90").cast("long").alias("p90"),
                      F.col("p99").cast("long").alias("p99"))


def q96_cdx_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl CDX diff: old snapshot has duplicate captures
    per key (latest must win); the new crawl drops every 10th key
    (removed), rewrites every 10th+1 (changed), adds a fresh key block
    (added), and re-serves the rest byte-identical (unchanged)."""
    from .functions.surt import cdx_delta

    orders = load(spark, sf_dir, "orders")
    _utc(spark)
    k = F.col("o_orderkey")
    key = F.concat(F.lit("com,example,shop"),
                   (F.col("o_custkey") % 50).cast("string"),
                   F.lit(")/items/"), k.cast("string"))
    base = orders.select(k.alias("k"), key.alias("surt_key"),
                         F.col("o_orderdate").alias("ts"))
    plain = F.md5(F.col("surt_key"))
    v2 = F.md5(F.concat(F.col("surt_key"), F.lit("v2")))
    v3 = F.md5(F.concat(F.col("surt_key"), F.lit("v3")))
    old = (base.select("surt_key", "ts", plain.alias("digest"))
           .unionByName(
               base.filter(F.col("k") % 5 == 0)
               .select("surt_key",
                       (F.col("ts") + F.expr("INTERVAL 1 DAY"))
                       .alias("ts"), v2.alias("digest"))))
    new = (base.filter(F.col("k") % 10 != 0)
           .select("surt_key", "ts",
                   F.when(F.col("k") % 10 == 1, v3)
                   .when(F.col("k") % 5 == 0, v2)
                   .otherwise(plain).alias("digest"))
           .unionByName(
               base.filter(F.col("k") % 7 == 0)
               .select(F.concat(F.lit("net,fresh)/p/"),
                                F.col("k").cast("string"))
                       .alias("surt_key"), "ts", plain.alias("digest"))))
    return cdx_delta(old, new)


def q97_schedule_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Gini of the scheduled-fetch share per host (quantity
    -weighted so per-host totals collide into blocks — the tie-cancelling
    path): one monitored row, value-histogram plan, no host-width sort."""
    from .monitoring import schedule_fairness

    li = load(spark, sf_dir, "lineitem")
    sched = li.select(
        F.concat(F.lit("h"), (F.col("l_orderkey") % 500).cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.col("l_quantity").cast("long").alias("w"))
    return schedule_fairness(sched, "host", "w")


def q98_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diff keywords between the even-id and odd-id halves, each
    salted with half-specific marker tokens (alphaN / betaN) plus a
    shared token — the markers must dominate their direction's top-k
    while the shared vocabulary cancels out."""
    from .ops.textstats import corpus_diff_keywords

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    mark = lambda p: F.concat(F.col("text"), F.lit(f" {p}"),
                              (d % 5).cast("string"), F.lit(" shared"))
    a = docs.filter(d % 2 == 0).select("doc_id", mark("alpha").alias("text"))
    b = docs.filter(d % 2 == 1).select("doc_id", mark("beta").alias("text"))
    return corpus_diff_keywords(a, b, k=15)


def q99_ngram_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk ppm over a corpus where every 6th document also
    appears verbatim under a shifted id — those docs' 8-gram instances
    all become corpus-frequent and must score ~1e6 ppm while unique
    docs score 0."""
    from .ops.dedup import ngram_risk_scores

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    dup = docs.filter(d % 6 == 0).select((d + 500000).alias("doc_id"),
                                         "text")
    return ngram_risk_scores(docs.unionByName(dup), n=8, min_freq=2)


def q100_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl coverage audit: the publisher lists every order
    URL except each third; the crawl captured every second plus a
    non-listed /extra/ block — per-host listed/crawled/missed/unlisted
    counters and coverage ppm."""
    from .sources.sitemap import sitemap_coverage

    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    url = F.concat(F.lit("https://shop"),
                   (F.col("o_custkey") % 30).cast("string"),
                   F.lit(".example.org/o/"), k.cast("string"))
    listed = orders.filter(k % 3 != 0).select(url.alias("loc"))
    crawled = (orders.filter(k % 2 != 0).select(url.alias("url"))
               .unionByName(
                   orders.filter(k % 11 == 0).select(
                       F.concat(F.lit("https://shop"),
                                (F.col("o_custkey") % 30).cast("string"),
                                F.lit(".example.org/extra/"),
                                k.cast("string")).alias("url"))))
    return sitemap_coverage(listed, crawled)


def q101_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity (NEAR/3) query: each doc gets an appended
    'alpha <fill x (doc_id%6)> beta' tail, so the alpha->beta distance
    is doc_id%6 + 1 tokens — only distances <= slop=3 qualify, and
    docs with doc_id%9==0 get a second adjacent pair to count 2."""
    from .ops.retrieval import proximity_search

    docs = loadw(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    fill = F.array_repeat(F.lit("fill"), (d % 6).cast("int"))
    tail = F.concat(F.lit(" alpha "),
                    F.array_join(fill, " "),
                    F.when(d % 6 == 0, F.lit("")).otherwise(F.lit(" ")),
                    F.lit("beta"),
                    F.when(d % 9 == 0, F.lit(" alpha beta"))
                    .otherwise(F.lit("")))
    corpus = docs.select("doc_id", F.concat("text", tail).alias("text"))
    return proximity_search(corpus, "alpha", "beta", slop=3)


def q15_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs word-3-gram Jaccard >= 0.6 via shingle equi-join."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(aug, "doc_id", "text", n=3, threshold=0.6)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q16_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit frequency-weighted SimHash; hamming <= 3 pairs via pigeonhole
    chunk banding (4 x 8-bit equi-joins, no cross join)."""
    aug = _augmented_docs(spark, sf_dir, spread=False)
    return dedup.simhash_pairs(
        aug, "doc_id", "text", bits=32, max_hamming=3, chunks=4
    )


def q17_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 10 query vectors."""
    emb = loadw(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


def q18_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN top-5 (deterministic md5-derived hyperplanes)."""
    emb = loadw(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk_lsh(emb, queries, dim=EMB_DIM, k=5, n_planes=8)


def _augmented_embeddings(spark: SparkSession, sf_dir: str,
                          spread: bool = True) -> DataFrame:
    """embeddings UNION a deterministic per-dimension perturbation of every
    vector ((1 + ((vec_id+i)%7)/100) scaling, shifted ids) — the near-dup
    test corpus, reproducible in SQL. ``spread`` as in _augmented_docs."""
    ld = loadw if spread else load
    emb = ld(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = F.transform(
        "embedding",
        lambda x, i: x.cast("double")
        * (F.lit(1.0) + ((F.col("vec_id") + i.cast("long")) % 7).cast("double") / 100.0),
    )
    # perturb FIRST, rename after: a lambda-captured outer column in the
    # same select resolves against the aliased output (vec_id+100000),
    # silently shifting the perturbation phase
    perturbed = (
        emb.select("vec_id", v.alias("embedding"))
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(perturbed)


def q22_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact O(n²) variant (fixture
    scale only): pairs with cosine >= 0.99 over the perturbed corpus."""
    aug = _augmented_embeddings(spark, sf_dir)
    pairs = dedup.embedding_neardup_pairs(aug, "vec_id", "embedding", 0.99)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q23_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, SRP-LSH bucketed (the scale path): same
    corpus as q22, candidates from (plane_set, bucket) equi-joins over 2
    independent 8-plane SRP sets, exact cosine verification in-bucket."""
    aug = _augmented_embeddings(spark, sf_dir, spread=False)
    pairs = dedup.embedding_neardup_pairs_lsh(
        aug, "vec_id", "embedding", dim=EMB_DIM, threshold=0.99,
        n_planes=8, n_plane_sets=2,
    )
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q26_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-5: deterministic md5-picked centroids, corpus
    inverted-listed by nearest cell, queries probe their 4 nearest cells."""
    emb = loadw(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4)


def q27_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality features — one pass, all codegen."""
    docs = loadw(spark, sf_dir, "documents")
    rc = textstats.repetition_columns("text")
    return docs.select(
        "doc_id",
        rc["distinct_token_ratio"].alias("distinct_token_ratio"),
        rc["top_token_ratio"].alias("top_token_ratio"),
        rc["dup_bigram_ratio"].alias("dup_bigram_ratio"),
        rc["dup_line_ratio"].alias("dup_line_ratio"),
    )


def q28_field_types_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction field types beyond q12 — boolean truthy/falsy tables,
    date layout cascade via the datetime attr, <base href> URL resolution,
    email regex, local-phone regex + digit cleaning (extractor.go:339-630
    semantics), each oracle-checkable from the generating columns."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    day = F.lpad((d % 27 + 1).cast("string"), 2, "0")
    phone4 = F.lpad((d % 10000).cast("string"), 4, "0")
    html = F.concat(
        F.lit('<html><head><base href="https://shop'),
        (d % 5).cast("string"),
        F.lit('.example.com/cat/"></head><body><span class="stock">'),
        F.when(d % 2 == 0, F.lit("Available")).otherwise(F.lit("Out of Stock")),
        F.lit('</span><time class="when" datetime="2024-03-'), day,
        F.lit('">last month</time><a class="more" href="item/'),
        d.cast("string"),
        F.lit('">more</a><span class="mail">reach us: user'),
        d.cast("string"), F.lit("@mail"), (d % 7).cast("string"),
        F.lit('.example.org ok</span><a class="tel" href="tel:055-123-'),
        phone4, F.lit('">call</a></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    fields = [
        FieldConfig(name="in_stock", selector=".stock", type="boolean"),
        FieldConfig(name="listed_on", selector="time.when", type="date"),
        FieldConfig(name="more_url", selector="a.more", type="url"),
        FieldConfig(name="contact_email", selector=".mail", type="email"),
        FieldConfig(name="contact_phone", selector="a.tel", type="phone"),
    ]
    out = extract_fields_df(pages, fields)
    return out.select("doc_id", "in_stock", "listed_on", "more_url",
                      "contact_email", "contact_phone")


def q29_jsonld_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD structured-data extraction (`type: jsonld`): the ld+json
    script block is parsed in the extraction pass (canonical sorted-key
    dump), scalar fields then pulled JVM-side with get_json_object — the
    reference declares this content processor as a config stub
    (internal/pipeline/components.go:31-42)."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = F.col("doc_id").cast("string")
    ld = F.concat(
        F.lit('{"@type":"Product","name":"Doc '), d,
        F.lit('","offers":{"price":'), F.col("n_chars").cast("string"),
        F.lit('.99},"sku":"SKU-'), d, F.lit('"}'),
    )
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'), ld,
        F.lit("</script></head><body><p>plain</p></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    fields = [FieldConfig(name="ld", selector="", type="jsonld")]
    out = extract_fields_df(pages, fields)
    return out.select(
        "doc_id",
        F.get_json_object("ld", "$.name").alias("prod_name"),
        F.get_json_object("ld", "$.offers.price").cast("double").alias("price"),
        F.get_json_object("ld", "$.sku").alias("sku"),
        F.col("ld").alias("ld_json"),
    )


def q32_microdata_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Microdata structured-data extraction (`type: microdata`): an
    itemscope/itemprop product card parsed to the canonical item tree,
    with a nested offer itemscope; scalars pulled back JVM-side."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><div itemscope itemtype="https://schema.org/'
              'Product"><span itemprop="name">Doc '), d,
        F.lit('</span><img itemprop="image" src="/img/'), d,
        F.lit('.jpg"><div itemprop="offers" itemscope itemtype='
              '"https://schema.org/Offer"><meta itemprop="price" '
              'content="'), F.col("n_chars").cast("string"),
        F.lit('.99"></div></div></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    fields = [FieldConfig(name="md", selector="", type="microdata")]
    out = extract_fields_df(pages, fields)
    return out.select(
        "doc_id",
        F.get_json_object("md", "$.type").alias("item_type"),
        F.get_json_object("md", "$.properties.name[0]").alias("prod_name"),
        F.get_json_object("md", "$.properties.image[0]").alias("image"),
        F.get_json_object(
            "md", "$.properties.offers[0].properties.price[0]"
        ).cast("double").alias("price"),
        F.col("md").alias("md_json"),
    )


def q33_rdfa_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFa Lite structured-data extraction (`type: rdfa`): vocab +
    typeof/property walker with content-attr precedence, nested typeof
    items."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body vocab="https://schema.org/"><div typeof='
              '"Product"><span property="name">Doc '), d,
        F.lit('</span><a property="url" href="/d/'), d,
        F.lit('">x</a><span property="offers" typeof="Offer">'
              '<meta property="price" content="'),
        F.col("n_chars").cast("string"),
        F.lit('.99"></span></div></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    fields = [FieldConfig(name="rd", selector="", type="rdfa")]
    out = extract_fields_df(pages, fields)
    return out.select(
        "doc_id",
        F.get_json_object("rd", "$.type").alias("item_type"),
        F.get_json_object("rd", "$.vocab").alias("vocab"),
        F.get_json_object("rd", "$.properties.name[0]").alias("prod_name"),
        F.get_json_object(
            "rd", "$.properties.offers[0].properties.price[0]"
        ).cast("double").alias("price"),
        F.col("rd").alias("rd_json"),
    )


def q34_media_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media extractor (`type: media`): img/video/audio/source elements
    to uniform (kind, src, alt, ...) maps; counts + first src per page."""
    docs = loadw(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><img src="/i/'), d,
        F.lit('.jpg" alt="pic '), d,
        F.lit('"><video src="/v/'), d,
        F.lit('.mp4" poster="/p/'), d,
        F.lit('.jpg"></video><audio src="/a/'), d,
        F.lit('.ogg"></audio></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    fields = [FieldConfig(name="media", selector="", type="media")]
    out = extract_fields_df(pages, fields)
    m = F.col("media")
    return out.select(
        "doc_id",
        F.size(m).alias("n_media"),
        F.element_at(m, 1)["kind"].alias("first_kind"),
        F.element_at(m, 1)["src"].alias("first_src"),
        F.element_at(m, 1)["alt"].alias("first_alt"),
        F.element_at(m, 2)["poster"].alias("video_poster"),
        F.element_at(m, 3)["src"].alias("audio_src"),
    )


def q31_url_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL security risk scoring (internal/security/security.go:128-201)
    as pure codegen columns over synthesized URLs mixing schemes, hosts,
    sensitive paths, SQL keywords, and over-length padding — flags +
    additive risk score (addIssue weights, :283-296)."""
    from .functions.security import url_risk_columns, url_risk_score_col

    cust = loadw(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    scheme = (F.when(k % 4 == 1, "http").when(k % 4 == 2, "ftp")
              .otherwise("https"))
    host = F.when(k % 5 == 0, F.lit("localhost")).otherwise(
        F.concat(F.lit("shop"), (k % 50).cast("string"),
                 F.lit(".example"), (k % 7).cast("string"), F.lit(".com")))
    path = F.when(k % 3 == 0, F.lit("/admin/area")).otherwise(F.lit("/items"))
    query = F.when(k % 11 == 0, F.lit("?q=union+select")).otherwise(
        F.lit("?q=ok"))
    pad = F.when(k % 13 == 0,
                 F.concat(F.lit("&pad="), F.repeat(F.lit("x"), 2100))
                 ).otherwise(F.lit(""))
    url = F.concat(scheme, F.lit("://"), host, path, query, pad)
    flags = url_risk_columns(url)
    return cust.select(
        "c_custkey",
        flags["url_length_exceeded"].alias("too_long"),
        flags["disallowed_scheme"].alias("bad_scheme"),
        flags["localhost_access"].alias("localhost_access"),
        flags["sensitive_path"].alias("sensitive_path"),
        flags["sql_keywords"].alias("sql_keywords"),
        url_risk_score_col(url).alias("risk_score"),
    )


def q25_gdpr_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR TLD compliance gate (compliance_test.go:280-288) as a codegen
    column over synthesized multi-TLD domains: per-TLD counts of domains
    requiring GDPR handling."""
    from .frontier.compliance import gdpr_required_col

    tlds = [".com", ".de", ".fr", ".co.uk", ".jp", ".eu", ".nl"]
    cust = load(spark, sf_dir, "customer")
    tld = F.element_at(
        F.array(*[F.lit(t) for t in tlds]),
        (F.pmod(F.col("c_custkey"), F.lit(len(tlds))) + 1).cast("int"),
    )
    domain = F.concat(F.lit("shop"), (F.col("c_custkey") % 100).cast("string"),
                      tld)
    flagged = cust.select(tld.alias("tld"), domain.alias("domain"),
                          gdpr_required_col(domain).alias("gdpr"))
    return flagged.groupBy("tld", "gdpr").agg(
        F.count("*").alias("n_domains"),
        F.countDistinct("domain").alias("n_distinct"),
    )


def q24_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class enrichment operator (DataEnricher, components.go:266-316):
    two chained enrichers — customer attrs onto orders, then nation name —
    each a broadcast left join that never drops records."""
    from .ops.enrich import enrich

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
    )
    step1 = enrich(orders, cust, on="o_custkey", broadcast=True)
    step2 = enrich(step1, nation, on="nationkey", broadcast=True)
    return step2.select("o_orderkey", "segment", "nation", "o_totalprice")


def q19_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, quality scores, token counts, fingerprint — one pass,
    all codegen expressions."""
    docs = loadw(spark, sf_dir, "documents")
    qc = textstats.quality_columns("text")
    return docs.select(
        "doc_id",
        textstats.lang_id_col("text").alias("lang_pred"),
        textstats.token_count_col("text").cast("long").alias("n_tokens_ws"),
        textstats.bpe_token_count_col("text").cast("long").alias("n_tokens_bpe"),
        qc["mean_token_len"].alias("mean_token_len"),
        qc["alpha_ratio"].alias("alpha_ratio"),
        qc["stopword_ratio"].alias("stopword_ratio"),
        qc["quality_score"].alias("quality_score"),
        textstats.fingerprint_col("text").alias("fingerprint"),
    )


def q20_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> mapInPandas decode
    (deterministic fake codec) -> typed metadata + frame sampling."""
    docs = loadw(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    from .ops.multimodal import decode_media_df, sample_frames_df

    meta = decode_media_df(with_payload, "payload", fake=True)
    frames = sample_frames_df(meta, every_nth=2)
    return frames.groupBy("doc_id", "byte_len", "width", "height", "n_frames").agg(
        F.count("*").alias("n_sampled_frames")
    )


def q21_validation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation-rule operator (components.go:86-170 semantics): min-length
    and options checks over part, non-strict -> defaults substituted and
    violations recorded."""
    from .extract.validation import ValidationRule, validate_df

    part = load(spark, sf_dir, "part")
    rules = [
        ValidationRule(field="p_name", type="string", required=True,
                       min_length=9, default="invalid"),
        ValidationRule(field="p_type", type="string",
                       options=["ECONOMY", "STANDARD", "PREMIUM"]),
    ]
    out = validate_df(part.select("p_partkey", "p_name", "p_type"), rules)
    return out.select(
        "p_partkey", "p_name", "p_type",
        F.size("_violations").alias("n_violations"),
        F.array_join("_violations", "; ").alias("violations"),
    )


# =============================================================================
# Crawl engine end-to-end (iterative; rows-only driver check — exactness is
# covered by the pytest oracle simulator)
# =============================================================================


def q30_crawl_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 crawl rounds over a synthetic web derived from `documents`: pages
    link /d/{id} -> /d/{id+20} (chain per host) and a cross link; robots
    disallow /x/ paths on every host; each host is its own registered
    domain so politeness budgets apply per host. Returns the crawl log."""
    from .frontier.scheduler import CrawlConfig, CrawlEngine
    from .frontier.state import StateStore

    # the crawl loop runs many small stages; a 200-partition default session
    # would add pure scheduling overhead at this fixture size. Restored in
    # the finally below so later queries on the shared session are unaffected.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    host = F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"),
                    F.lit(".ex"), (F.col("doc_id") % 20).cast("string"),
                    F.lit(".com"))
    url = F.concat(F.lit("https://"), host, F.lit("/d/"),
                   F.col("doc_id").cast("string"))
    next_link = F.concat(F.lit('<a href="/d/'),
                         (F.col("doc_id") + 20).cast("string"), F.lit('">n</a>'))
    cross_link = F.concat(F.lit('<a href="https://'), host, F.lit("/d/"),
                          ((F.col("doc_id") * 7) % 200).cast("string"),
                          F.lit('">x</a>'))
    blocked_link = F.lit('<a href="/x/secret">s</a>')
    html = F.concat(
        F.lit("<html><body><h1>D"), F.col("doc_id").cast("string"),
        F.lit("</h1>"), next_link, cross_link, blocked_link,
        F.lit("</body></html>"),
    )
    pages = docs.select(
        url.alias("url"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
    )
    robots = {
        f"h{i}.ex{i}.com": "User-agent: *\nDisallow: /x/\nCrawl-delay: 1\n"
        for i in range(20)
    }
    seeds = spark.createDataFrame(
        [(f"https://h{i}.ex{i}.com/d/{i}", 10) for i in range(20)],
        "url string, priority int",
    )
    root = tempfile.mkdtemp(prefix="crawlq_")
    try:
        eng = CrawlEngine(spark, StateStore(root), pages, robots,
                          CrawlConfig(max_rounds=3, max_attempts=2))
        eng.run(seeds, max_rounds=3)
        log = eng.crawl_log()
        # the crawl log is already checkpointed parquet; reading it back is
        # cheap and independent of the session conf we restore below
        return log
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# =============================================================================
# Registry
# =============================================================================


def _fresh(fn):
    """Catalog-entry cache hygiene (bench/oracle contract): several
    operators persist() narrow intermediates so a fork in THEIR OWN plan
    executes once instead of twice — a within-invocation optimization.
    Spark's CacheManager, however, matches canonicalized plan fragments
    GLOBALLY, so a later identical invocation (e.g. the bench's rep 2 of
    the same query in the same session) would silently substitute the
    previous run's InMemoryRelation and measure a cache read instead of
    the computation — persisted intermediates surviving across runs,
    which the measurement contract forbids. Dropping all cache entries
    at catalog-entry time restores "every invocation computes from the
    parquet inputs" while keeping the within-plan persists effective
    (each run refills its own, inside the timed region)."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return wrapped


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_nation": q02_revenue_by_nation,
    "q03_top_orders_per_segment": q03_top_orders_per_segment,
    "q04_priority_distribution": q04_priority_distribution,
    "q05_events_hourly": q05_events_hourly,
    "q06_viewers_no_purchase": q06_viewers_no_purchase,
    "q07_brand_revenue": q07_brand_revenue,
    "q08_user_sessions": q08_user_sessions,
    "q09_event_props_json": q09_event_props_json,
    "q10_url_canonicalize": q10_url_canonicalize,
    "q11_transform_chains": q11_transform_chains,
    "q12_field_extraction": q12_field_extraction,
    "q13_dedup_exact": q13_dedup_exact,
    "q14_minhash_lsh": q14_minhash_lsh,
    "q15_ngram_jaccard": q15_ngram_jaccard,
    "q16_simhash": q16_simhash,
    "q17_embedding_topk": q17_embedding_topk,
    "q18_ann_lsh": q18_ann_lsh,
    "q19_text_stats": q19_text_stats,
    "q20_multimodal_meta": q20_multimodal_meta,
    "q21_validation_rules": q21_validation_rules,
    "q22_embedding_neardup": q22_embedding_neardup,
    "q23_embedding_neardup_lsh": q23_embedding_neardup_lsh,
    "q24_enrichment": q24_enrichment,
    "q25_gdpr_flags": q25_gdpr_flags,
    "q26_ann_ivf": q26_ann_ivf,
    "q27_repetition_stats": q27_repetition_stats,
    "q28_field_types_extended": q28_field_types_extended,
    "q29_jsonld_extraction": q29_jsonld_extraction,
    "q31_url_security": q31_url_security,
    "q32_microdata_extraction": q32_microdata_extraction,
    "q33_rdfa_extraction": q33_rdfa_extraction,
    "q34_media_extraction": q34_media_extraction,
    "q35_dedup_clusters": q35_dedup_clusters,
    "q36_c4_line_filter": q36_c4_line_filter,
    "q37_stratified_split": q37_stratified_split,
    "q38_pii_scrub": q38_pii_scrub,
    "q39_paragraph_dedup": q39_paragraph_dedup,
    "q40_shuffle_shards": q40_shuffle_shards,
    "q41_decontamination": q41_decontamination,
    "q42_domain_cap": q42_domain_cap,
    "q43_tfidf_keywords": q43_tfidf_keywords,
    "q44_token_budget": q44_token_budget,
    "q45_staged_pipeline": q45_staged_pipeline,
    "q46_gopher_filter": q46_gopher_filter,
    "q47_pagerank_priority": q47_pagerank_priority,
    "q48_warc_roundtrip": q48_warc_roundtrip,
    "q49_surt_cdx": q49_surt_cdx,
    "q50_revisit_priority": q50_revisit_priority,
    "q51_content_sniff": q51_content_sniff,
    "q52_trap_detection": q52_trap_detection,
    "q53_host_budgets": q53_host_budgets,
    "q54_capture_drift": q54_capture_drift,
    "q55_anchor_topk": q55_anchor_topk,
    "q56_main_content": q56_main_content,
    "q57_sitemap_parse": q57_sitemap_parse,
    "q58_host_mirrors": q58_host_mirrors,
    "q59_url_templates": q59_url_templates,
    "q60_host_graph": q60_host_graph,
    "q61_redirect_chains": q61_redirect_chains,
    "q62_sequence_packing": q62_sequence_packing,
    "q63_inverted_index": q63_inverted_index,
    "q64_hll_sketch": q64_hll_sketch,
    "q65_revisit_decisions": q65_revisit_decisions,
    "q66_social_meta": q66_social_meta,
    "q67_wet_pipeline": q67_wet_pipeline,
    "q68_host_boilerplate": q68_host_boilerplate,
    "q69_repeated_spans": q69_repeated_spans,
    "q70_lm_surprisal": q70_lm_surprisal,
    "q71_vocab_oov": q71_vocab_oov,
    "q72_incremental_dedup": q72_incremental_dedup,
    "q73_domain_quality": q73_domain_quality,
    "q74_encoding_noise": q74_encoding_noise,
    "q75_best_representatives": q75_best_representatives,
    "q76_doc_chunking": q76_doc_chunking,
    "q77_training_mix": q77_training_mix,
    "q78_readability": q78_readability,
    "q79_outline": q79_outline,
    "q80_corpus_report": q80_corpus_report,
    "q81_collocations": q81_collocations,
    "q82_semantic_dedup": q82_semantic_dedup,
    "q83_dsir_weights": q83_dsir_weights,
    "q84_soft404": q84_soft404,
    "q85_surprisal_buckets": q85_surprisal_buckets,
    "q86_bpe_merges": q86_bpe_merges,
    "q87_winnowing": q87_winnowing,
    "q88_bm25_topk": q88_bm25_topk,
    "q89_hits_scores": q89_hits_scores,
    "q90_fuzzy_decontamination": q90_fuzzy_decontamination,
    "q91_temperature_mix": q91_temperature_mix,
    "q92_bpe_encode": q92_bpe_encode,
    "q93_phrase_search": q93_phrase_search,
    "q94_word_lm": q94_word_lm,
    "q95_length_quantiles": q95_length_quantiles,
    "q96_cdx_delta": q96_cdx_delta,
    "q97_schedule_fairness": q97_schedule_fairness,
    "q98_corpus_diff": q98_corpus_diff,
    "q99_ngram_risk": q99_ngram_risk,
    "q100_sitemap_coverage": q100_sitemap_coverage,
    "q101_proximity_search": q101_proximity_search,
    "q30_crawl_rounds": q30_crawl_rounds,
}
QUERIES = {name: _fresh(fn) for name, fn in QUERIES.items()}
