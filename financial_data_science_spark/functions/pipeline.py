"""Training-data pipeline operators: deterministic splits/samples,
token-budget shard packing, benchmark-contamination screening.

These are the corpus-management steps a 100 TB LLM training pipeline
runs after cleaning/dedup (SURVEY §2 extensions; no reference
counterpart — the reference stops at document storage and NLP prep,
unstructured/unstructured.py + vocab.py):

- **split/sample** must be a pure function of a stable key, NOT of RNG
  state or row order: re-runs, backfills, and late-arriving shards must
  land rows in the same split.  `hash_split`/`mixture_sample` are per-row
  arithmetic on porthash.keyhash — no shuffle, no seed to lose, and the
  driver's DuckDB oracle recomputes the assignment value-for-value.
- **shard packing** assigns documents to fixed-token-budget training
  shards in a stable order — a global running sum.  A bare
  `Window.orderBy` collapses to ONE partition at scale, so
  `operators.windows.global_cumsum` does the classic two-phase
  distributed scan instead (per-range-partition cumsum + tiny offset
  join).
- **contamination** screens training docs for n-gram overlap with an
  eval/benchmark set: distinct n-gram hashes on both sides, broadcast
  the (small) benchmark side, count hits per training doc.  Shuffle is
  |train n-grams| rows once; the benchmark side rides the broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_science_spark.functions.porthash import MOD, keyhash
from financial_data_science_spark.functions.sqltext import lam, sql_name
from financial_data_science_spark.functions.text import word_shingles_sql


def split_assign(
    key: Column,
    weights: dict[str, float],
    salt: int = 0,
    out_scale: int = 10_000,
) -> Column:
    """Split label ('train'/'val'/...) as a pure column expression.

    ``weights`` maps label -> fraction (must sum to ~1); a row lands in
    label L iff keyhash(key) scaled to [0, out_scale) falls in L's
    half-open bucket range, cumulative in dict order.  Deterministic per
    key: the same key always gets the same label, across engines, runs,
    and partitionings.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    # floor of an exact double division (numerator < 2^45): [0, out_scale)
    bucket = F.floor((keyhash(key, salt) * out_scale) / F.lit(float(MOD)))
    expr = None
    hi = 0
    labels = list(weights)
    for lab in labels[:-1]:
        hi += round(weights[lab] * out_scale)
        cond = bucket < hi
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    last = F.lit(labels[-1])
    return last if expr is None else expr.otherwise(last)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: int = 0,
    out: str = "split",
) -> DataFrame:
    """Attach a deterministic split label column (train/val/test...)."""
    return df.withColumn(out, split_assign(F.col(key_col), weights, salt))


def pack_token_budget(
    docs: DataFrame,
    order: list[str] | str,
    tokens_col: str,
    budget: int,
    out: str = "shard",
    num_blocks: int = 32,
) -> DataFrame:
    """Assign each doc to a training shard so cumulative tokens per shard
    stay ~budget: shard = floor((running_sum - own_tokens) / budget) in
    the stable ``order``.  Uses the distributed two-phase prefix sum
    (operators.windows.global_cumsum) — no single-partition window."""
    from financial_data_science_spark.operators.windows import global_cumsum

    d = global_cumsum(
        docs, order, tokens_col, out="__cum__", num_blocks=num_blocks
    )
    return d.withColumn(
        out,
        F.floor(
            (F.col("__cum__") - F.col(tokens_col)) / F.lit(float(budget))
        ).cast("long"),
    ).drop("__cum__")


def ngram_hashes(
    text: str, n: int = 8, portable: bool = True
) -> Column:
    """Distinct hashes of the word n-grams of the column named ``text`` — the
    contamination-screen unit (n=8..13 is the published
    deduplication/decontamination convention, e.g. GPT-3 appendix C uses
    13-gram overlap).  ``portable=True`` uses the arithmetic 31-bit
    polynomial (recomputable in any SQL engine — what the oracle gate
    checks); ``portable=False`` uses JVM ``xxhash64`` — one intrinsic
    call per gram instead of a per-character fold, the production
    default at corpus scale (same split as the MinHash family)."""
    if portable:
        from financial_data_science_spark.functions.porthash import gram_hashes31
        from financial_data_science_spark.functions.text import tokens

        # composed per-token fold: each character hashes ONCE, not once
        # per gram it appears in — bit-identical to tokhash31 over the
        # joined gram strings (porthash.gram_hashes31 docstring)
        return gram_hashes31(tokens(F.lower(F.col(text))), k=n)
    grams = word_shingles_sql(sql_name(text), n)
    hashed = lam(lambda g: f"xxhash64({g})")
    return F.expr(f"array_distinct(transform({grams}, {hashed}))")


def contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    portable: bool = True,
) -> DataFrame:
    """Per-training-doc benchmark contamination: how many of its distinct
    n-grams appear anywhere in the benchmark set.

    Returns (id, n_ngrams, n_contaminated, contamination_rate).  The
    benchmark n-gram set is broadcast (eval suites are tiny next to a
    training corpus); the train side explodes once and aggregates back on
    the id — one shuffle on the id key.
    """
    from financial_data_science_spark.operators.layout import fan_out_scan

    # parallelize the gram explodes off under-split scans: the train
    # side's per-id counts and the bench side's distinct are both
    # partitioning-order-independent.  No-op at scale.
    t = fan_out_scan(train, id_col).select(
        F.col(id_col),
        F.explode(ngram_hashes(text_col, n, portable)).alias("__h__"),
    )
    b = F.broadcast(
        fan_out_scan(bench, id_col)
        .select(
            F.explode(ngram_hashes(text_col, n, portable)).alias("__h__")
        )
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    j = t.join(b, "__h__", "left")
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.coalesce(F.sum("__hit__"), F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce(F.sum("__hit__"), F.lit(0)) / F.count(F.lit(1)), 6
        ).alias("contamination_rate"),
    )


def contamination_screen(
    df: DataFrame,
    spark: SparkSession,
    bench_hashes,
    text_col: str = "text",
    n: int = 5,
    portable: bool = True,
) -> DataFrame:
    """Drop rows whose ``text_col`` shares ANY n-gram hash with the
    (driver-collected) benchmark set — the per-ROW, stateless
    formulation of :func:`contamination` for streaming append mode.

    `contamination` is an explode -> join -> groupBy: an aggregation
    (which an append-mode stream can only run windowed) whose inner
    join drops the CLEAN docs a screen must pass through.  Screening
    per row instead keeps a composed curation DAG at exactly ONE
    stateful operator and adds NO shuffle.  Benchmark suites are tiny
    next to a training corpus by construction, so the broadcast set is
    bounded the same way the join's broadcast side is.

    Physical shape: the gram hashes are computed JVM-side
    (:func:`ngram_hashes`, the same values the batch join uses), then
    ``mapInPandas`` does the Arrow-batched membership test against the
    broadcast frozenset and filters.  NOT a scalar pandas UDF: in
    Spark 4.1 a Python UDF whose input expression contains
    higher-order lambda functions is never extracted into
    ArrowEvalPython (batch AND streaming fail with INTERNAL_ERROR
    "Cannot evaluate expression: udf(...)"), and pre-projecting the
    array collapses back into the UDF's input under CollapseProject.
    A mapInPandas node takes its child's output ATTRIBUTES as-is, so
    the gram projection below it stays a JVM projection.  Cost note:
    the doc's columns ride through Arrow once — that is the screen's
    pass-through anyway.

    The frozenset probe is the one membership kernel: O(grams) per doc
    with early exit, its cost independent of |bench|.  A pure-JVM
    ``arrays_overlap`` against a broadcast one-row bench array (per-doc
    work O(|bench|)) measured slower at both suite sizes in SCALE.md.
    A batch caller that wants the join form anti-joins
    :func:`contaminated_ids` out of the docs.

    ``bench_hashes`` may be an iterable of hashes OR a
    pre-created ``pyspark.Broadcast`` of a frozenset, letting a caller
    that screens repeatedly in one session create/unpersist ONE
    broadcast instead of leaking one per call."""
    from pyspark.broadcast import Broadcast

    g = df.withColumn(
        "__grams__", ngram_hashes(text_col, n, portable)
    )
    bc = (
        bench_hashes
        if isinstance(bench_hashes, Broadcast)
        else spark.sparkContext.broadcast(
            frozenset(int(h) for h in bench_hashes)
        )
    )
    out_schema = df.schema

    def _screen(batches):
        s = bc.value
        for pdf in batches:
            # null text -> null gram array -> no grams -> clean (same
            # rule as the join form, where gram-less docs never flag)
            keep = pdf["__grams__"].apply(
                lambda arr: arr is None
                or not any(int(h) in s for h in arr)
            )
            yield pdf.loc[keep].drop(columns="__grams__")

    return g.mapInPandas(_screen, out_schema)


def contaminated_ids(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    portable: bool = True,
) -> DataFrame:
    """Ids of training docs sharing ANY n-gram hash with the benchmark
    set — the SCREEN-shaped form of :func:`contamination`.

    :func:`contamination` computes per-doc overlap COUNTS, which forces
    a groupBy(``id_col``) over the whole exploded gram frame — one full
    shuffle of ~grams-per-doc x corpus rows.  A screen only needs
    membership, and a broadcast LEFT-SEMI join on the exploded grams
    delivers exactly that with ZERO gram shuffle: the benchmark hash
    table is built once per task, each gram is one O(1) probe, and the
    semi-join short-circuits a doc's remaining grams on first hit
    map-side.  The output may carry a doc id once per probed partition
    slice; consumers anti-join against it (duplicate right rows are
    free under anti/semi semantics), so no distinct() is spent here.

    Both gram explodes fan off under-split scans (r15, the same move
    :func:`contamination` made in r14): semi-join membership and the
    bench distinct are partitioning-order-independent, and the
    train-side per-char gram fold was the curation DAG's single-task
    hotspot.  No-op at scale."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    t = fan_out_scan(train, id_col).select(
        F.col(id_col),
        F.explode(ngram_hashes(text_col, n, portable)).alias("__h__"),
    )
    b = F.broadcast(
        fan_out_scan(bench, id_col).select(
            F.explode(ngram_hashes(text_col, n, portable)).alias("__h__")
        ).distinct()
    )
    return t.join(b, "__h__", "left_semi").select(id_col)


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 0,
    chunk_col: str = "chunk_id",
    out: str = "chunk_text",
) -> DataFrame:
    """Tokenizer-aware document chunking: split each doc into windows of
    at most ``max_tokens`` whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens — the context-window prep step between cleaning
    and packing in an LLM pipeline.

    Chunk i covers tokens [i*step, i*step + max_tokens), step =
    max_tokens - overlap; the last chunk is the first window reaching the
    end (short docs yield exactly one chunk, possibly empty for empty
    text).  Entirely JVM column expressions — sequence/explode/slice/
    array_join, no UDF — so the fan-out is the explode of a
    per-row-computed chunk count, never a join, and a SQL oracle can
    replay every chunk boundary.
    """
    from financial_data_science_spark.functions.text import tokens

    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # chunks at starts 0, step, 2*step, ...; last start is the smallest
    # with start + max_tokens >= n -> ceil((n - max_tokens)/step) (>=0)
    n_chunks = (
        F.greatest(
            F.ceil((n - F.lit(max_tokens)) / F.lit(float(step))).cast("int"),
            F.lit(0),
        )
        + 1
    )
    d = docs.select(
        F.col(id_col),
        toks.alias("__toks__"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias(chunk_col),
    )
    sliced = F.slice(
        F.col("__toks__"), F.col(chunk_col) * step + 1, max_tokens
    )
    return d.select(
        id_col,
        chunk_col,
        F.array_join(sliced, " ").alias(out),
        F.size(sliced).alias("n_tokens"),
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    rates: dict[str, float],
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic per-source sampling for a training-data mixture:
    keep each row with its source's rate (sources absent from ``rates``
    drop entirely).  The up/down-weighting step that turns raw corpus
    proportions into the target training mix.

    Membership is a pure function of (key, salt) — the same
    porthash.keyhash bucket arithmetic as hash_split — so the mix is
    reproducible across reruns, engines, and late shards, and
    subset-monotone in the rate: raising a source's rate only ADDS docs
    (the kept set at 20% is a superset of the kept set at 10%), which is
    what makes mix ablations comparable.  No shuffle: one CASE
    expression and a filter.
    """
    bucket = F.floor((keyhash(F.col(key_col), salt) * 10_000) / F.lit(float(MOD)))
    expr = None
    for src, rate in rates.items():
        thresh = F.lit(round(rate * 10_000))
        cond = F.col(source_col) == src
        expr = F.when(cond, thresh) if expr is None else expr.when(cond, thresh)
    expr = expr.otherwise(F.lit(0))
    return df.filter(bucket < expr)
