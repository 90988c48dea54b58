"""Deterministic sampling & split assignment for training-data mixes.

A 100-TB pipeline can't use rand()-based sampling: retries, resumes, and
cross-engine verification all need the SAME rows picked every run. These
operators key every decision on a content hash of a stable key column —
the same md5-slice arithmetic the dedup family uses, so DuckDB (and any
other engine) reproduces the exact row set bit-for-bit:

    u(key) = int(md5(key || '#' || seed)[0:8], 16) / 2^32   in [0, 1)

- `deterministic_sample`: keep rows with u < rate (a fixed-rate Bernoulli
  sample that is stable under re-runs and unions);
- `stratified_sample`: per-stratum rates (e.g. downsample dominant
  languages, keep the tail whole — the standard training-mix rebalance);
- `split_col`: disjoint train/val/test assignment from the same u, so a
  document can never migrate between splits when the corpus grows (new
  rows hash independently; old rows keep their split).

All pure codegen — no shuffle, no Python; the predicate pushes into the
scan stage. Sampling noise: u is a 32-bit slice, so rates are exact to
~2.3e-10 — far below any training-mix tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U32 = float(1 << 32)


def hash_unit_col(key: Column | str, seed: int = 0) -> Column:
    """u(key) in [0, 1): the first 32 bits of md5(key || '#' || seed).
    md5 (not xxhash64) so every engine in the verification loop computes
    the identical value (DuckDB twin:
    ('0x' || substr(md5(key || '#seed'), 1, 8))::BIGINT / 2^32)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(F.concat(c.cast("string"),
                                          F.lit(f"#{seed}"))), 1, 8),
               16, 10).cast("long")
    return h / F.lit(_U32)


def deterministic_sample(df: DataFrame, rate: float, key_col: str,
                         seed: int = 0) -> DataFrame:
    """Stable Bernoulli sample: keep rows with u(key) < rate."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(hash_unit_col(key_col, seed) < rate)


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: dict[str, float], key_col: str,
                      default_rate: float = 1.0,
                      seed: int = 0) -> DataFrame:
    """Per-stratum stable sampling: row kept iff u(key) < rate(stratum).
    `rates` maps stratum value -> keep rate; unlisted strata keep
    `default_rate` (1.0 = keep whole — the long-tail default of a
    language-rebalance mix)."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))) \
                .otherwise(rate)
    return df.filter(hash_unit_col(key_col, seed) < rate)


def split_col(key: Column | str, val_frac: float = 0.01,
              test_frac: float = 0.01, seed: int = 0) -> Column:
    """Disjoint train/val/test label from u(key): val = [0, val_frac),
    test = [val_frac, val_frac+test_frac), train = the rest. Stable under
    corpus growth — a row's label depends only on its own key."""
    if val_frac < 0 or test_frac < 0 or val_frac + test_frac > 1:
        raise ValueError("need val_frac, test_frac >= 0 summing to <= 1")
    u = hash_unit_col(key, seed)
    return (F.when(u < val_frac, F.lit("val"))
            .when(u < val_frac + test_frac, F.lit("test"))
            .otherwise(F.lit("train")))


def shuffle_shards(df: DataFrame, key_col: str, n_shards: int,
                   seed: int = 0) -> DataFrame:
    """Deterministic global training shuffle + shard assignment.

    Training ingestion wants the corpus in pseudo-random order, cut into a
    fixed number of shards, reproducibly across re-runs, resumes, and
    engines: shard = floor(u * n) and seq = the row's rank by u within its
    shard — the content hash IS the shuffle, so the full (shard, seq)
    layout is a pure function of the keys.

    Scale: one keyed shuffle on shard plus an independent per-shard sort —
    no global sort, no range exchange, no driver. Shards are hash-balanced
    (u is uniform), so the per-shard sorts are even; ties in the 32-bit u
    slice break on the key itself, keeping the order total.
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    u = hash_unit_col(key_col, seed)
    with_u = df.withColumn("_u", u) \
               .withColumn("shard",
                           F.floor(F.col("_u") * n_shards).cast("int"))
    w = Window.partitionBy("shard").orderBy("_u", key_col)
    return (with_u
            .withColumn("seq", (F.row_number().over(w) - 1).cast("int"))
            .drop("_u"))


def cap_per_group(df: DataFrame, group_col: str, k: int, key_col: str,
                  seed: int = 0) -> DataFrame:
    """Keep at most k rows per group, picked deterministically — the
    Gopher/Dolma per-domain budget: no single domain may dominate the
    training mix, and the surviving rows must be the same every run.

    The pick order is (u(key), key): a stable pseudo-random choice, not
    "first k by storage order" (which would bias toward old crawl rounds).

    One window over the group, filtered on a literal k (same shape as the
    frontier's schedule_topk): for k up to
    `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default)
    Spark plans a WindowGroupLimit Partial below the group exchange, so
    each map task ships at most k rows per group and a hot group's window
    input is bounded by map tasks x k. Above it the plan is a plain
    per-group window with the same result.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(group_col).orderBy(F.col("_u").asc(),
                                              F.col(key_col).asc())
    return (df.withColumn("_u", hash_unit_col(key_col, seed))
            .withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= k)
            .drop("_u", "_rank"))


def take_token_budget(df: DataFrame, budget: int, key_col: str,
                      tokens_col: str = "n_tokens", seed: int = 0,
                      n_buckets: int = 1024) -> DataFrame:
    """Deterministic token-budget cut: keep documents in stable
    content-hash order until the running token total reaches `budget` —
    the "carve a 50B-token mix out of a 10T-token corpus" step. A row is
    kept iff its INCLUSIVE running total <= budget, so the kept set is a
    contiguous, re-run-stable prefix of the hash order.

    A naive running total is a single-partition global window — a
    scale-killer. This is a distributed prefix sum instead:

      1. rows land in hash-order-aligned buckets (floor(u*n_buckets),
         monotone in u, so bucket order == global order);
      2. per-bucket token sums (<= n_buckets rows, corpus-independent)
         come to the driver for an exclusive prefix scan;
      3. buckets whose starting offset already exceeds the budget are
         PRUNED before any shuffle — only ~budget worth of rows ever
         reaches a window;
      4. surviving buckets cumsum independently with their broadcast
         offset added.

    One keyed aggregation over the corpus + one keyed shuffle over the
    surviving prefix. Returns df's columns + `cum_tokens` (the inclusive
    global running total).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    from pyspark.sql import Window

    # r06: persist at the fork — the per-bucket sum collect below is its
    # own action over the ENTIRE upstream pipeline (in q77 that is every
    # gate + the dedup window), and the caller's final action would run
    # it all again. One materialization, two cheap reads.
    d = (df.withColumn("_u", hash_unit_col(key_col, seed))
           .withColumn("_b", F.floor(F.col("_u") * n_buckets).cast("int"))
           .persist())
    sums = {r["_b"]: r["s"] for r in
            d.groupBy("_b").agg(F.sum(tokens_col).alias("s")).collect()}
    offsets, running = [], 0
    for b in sorted(sums):
        if running <= budget:      # bucket can still contribute rows
            offsets.append((b, running))
        running += sums[b]
    if not offsets:
        off_df = d.sparkSession.createDataFrame([], "_b int, _off long")
    else:
        off_df = d.sparkSession.createDataFrame(offsets, "_b int, _off long")
    w = (Window.partitionBy("_b").orderBy("_u", key_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.join(F.broadcast(off_df), "_b")     # inner join prunes buckets
            .withColumn("cum_tokens",
                        (F.col("_off") + F.sum(tokens_col).over(w))
                        .cast("long"))
            .filter(F.col("cum_tokens") <= budget)
            .drop("_u", "_b", "_off"))


def pack_sequences(df: DataFrame, capacity: int, key_col: str,
                   tokens_col: str = "n_tokens", n_shards: int = 64,
                   seed: int = 0) -> DataFrame:
    """Next-fit sequence packing into fixed-capacity context windows.

    The last step before LLM training: concatenate documents into
    training sequences of at most ``capacity`` tokens so padding waste
    is bounded. Global bin packing is inherently sequential, so the
    deterministic contract is NEXT-FIT WITHIN A SHARD: rows land in
    hash-order shards (``floor(u * n_shards)``, the take_token_budget
    bucket rule), are walked in (u, key) order, and a new bin starts
    whenever the current document no longer fits. A document longer
    than ``capacity`` gets flagged ``truncated`` (the trainer decides
    whether to split or drop it) and occupies its own bin.

    Returns the input columns plus ``shard``, ``bin_idx`` (per-shard
    bin counter), ``bin_offset`` (token offset of the document inside
    its bin) and ``truncated`` — enough for a writer to materialize
    packed sequences with (shard, bin_idx) as the sequence key.

    Scale shape: one hash-keyed exchange into shards, then a
    per-shard Arrow-batched pandas fold (applyInPandas) — the per-row
    sequential recurrence is exactly what Catalyst can't express, and
    shards bound both skew and state. Shard count scales with the
    cluster (each shard's fold is O(rows/shard), independent).
    The q62 oracle replays the identical recurrence per shard as a
    bounded recursive CTE.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    from pyspark.sql.types import (BooleanType, LongType, StructField,
                                   StructType)

    d = (df.withColumn("_u", hash_unit_col(key_col, seed))
           .withColumn("_shard",
                       F.floor(F.col("_u") * n_shards).cast("int")))
    fields = [f for f in d.schema.fields if f.name != "_u"]
    schema = StructType(fields + [
        StructField("bin_idx", LongType()),
        StructField("bin_offset", LongType()),
        StructField("truncated", BooleanType()),
    ])
    names = [f.name for f in schema.fields]

    def _pack(pdf):
        pdf = pdf.sort_values(["_u", key_col]).reset_index(drop=True)
        bins, offs, fill, b = [], [], 0, 0
        for t in pdf[tokens_col]:
            t = int(t)
            if fill > 0 and fill + t > capacity:
                b, fill = b + 1, 0
            bins.append(b)
            offs.append(fill)
            fill += t
        pdf["bin_idx"] = bins
        pdf["bin_offset"] = offs
        pdf["truncated"] = pdf[tokens_col].astype("int64") > capacity
        return pdf[names]

    return (d.groupBy("_shard").applyInPandas(_pack, schema)
            .withColumnRenamed("_shard", "shard"))


def chunk_documents(df: DataFrame, max_tokens: int, overlap: int = 0,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split long documents into overlapping token-window chunks — the
    pretraining/RAG chunker (distinct from pack_sequences, which packs
    WHOLE short docs into context windows; this slices LONG docs apart).

    Windows start every `stride = max_tokens - overlap` tokens; the last
    window may be short; a doc with <= max_tokens tokens yields exactly
    one chunk (itself) — an empty/whitespace-only doc yields one EMPTY
    chunk (n_chunk_tokens=0, chunk_text ''), following the repo-wide
    empty->0-token contract (dedup.tokens_col; a raw split would count
    the empty string as one token). Deterministic integer arithmetic
    throughout:
    n_chunks = 1 + ceil(max(n_tokens - max_tokens, 0) / stride), chunk k
    covers tokens [1 + k*stride, ... + max_tokens). Pure codegen — the
    token array is materialized ONCE per doc and carried through a
    Generate (posexplode of the chunk-index sequence), so chunking a
    100-TB corpus is one scan with zero shuffles and no Python.

    Returns (id, chunk_idx, n_chunk_tokens, chunk_text).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    from .dedup import tokens_col as _tokens
    stride = max_tokens - overlap
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    over = F.greatest(n - F.lit(max_tokens), F.lit(0))
    n_chunks = (F.lit(1)
                + ((over + F.lit(stride - 1)) - (over + F.lit(stride - 1))
                   % F.lit(stride)) / F.lit(stride)).cast("int")
    base = df.select(F.col(id_col), toks.alias("_toks"),
                     F.sequence(F.lit(0), n_chunks - 1).alias("_idx"))
    ex = base.select(F.col(id_col), "_toks",
                     F.explode("_idx").alias("chunk_idx"))
    chunk = F.slice("_toks", F.col("chunk_idx") * stride + 1, max_tokens)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
