"""Text-analysis column functions for large-scale document pipelines.

Extends the reference's unstructured/text layer (unstructured/vocab.py:29-114
tokenization; unstructured/edgar.py:246-319 text cleaning) with the
operations a training-data pipeline needs: token counting, quality scoring,
language ID, shingling, fingerprinting.  All are JVM-side column expressions
(no Python UDFs) so a 100 TB scan never pays the Python-row-eval tax; the
higher-order lambda expressions run JVM-side (outside whole-stage codegen,
which excludes HOFs, but still vectorized columnar eval).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_science_spark.functions.sqltext import lam, let_sql, sql_name

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small: the point is the Spark plumbing (hit-count
# argmax entirely in column expressions), not lexicon quality.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "un", "una", "es", "para"],
}

# A BPE-ish pre-tokenization regex: words, numbers, or single non-space
# symbols — the GPT-2 pre-tokenizer shape without lookaheads so it runs
# identically under Java regex and RE2.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def tokens(text: str | Column) -> Column:
    """Whitespace tokens, empty strings removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), "\\s+"), lambda t: t != "")


def n_tokens(text: str | Column) -> Column:
    return F.size(tokens(text))


def n_bpe_tokens(text: str | Column) -> Column:
    """Count of BPE-ish pre-tokens via regexp_extract_all."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))


def word_shingles_sql(text: str, k: int = 3) -> str:
    """SQL text of the distinct k-word shingles (n-grams) of the
    lowercased operand ``text`` (a quoted name or lambda path).

    Built from slice+zip_with over a LET-BOUND token array.  The whole
    expression contains higher-order functions, so it is CodegenFallback
    (interpreted) — and interpreted evaluation has no common-subexpression
    elimination: a bare ``toks`` referenced by the k slices plus the size
    re-runs ``filter(split(trim(lower(text))))`` at every reference
    (k+2 string splits of the full text per row; measured 0.88s -> 0.43s
    on the sf0.1 shingle+hash explode when bound once, r14).  The
    let-binding (porthash.let_: single-element transform) evaluates the
    tokenizer ONCE per row; values are bit-identical.  The token array
    is :func:`tokens` of the lowercased text, spelled as SQL.

    (A sequence+transform+slice formulation is worse still — it
    re-evaluates the tokenizer per gram position: O(n^2) splits per row,
    measured 100x slower.)
    """
    nonempty = lam(lambda t: f"{t} != ''")
    toks = f"filter(split(trim(lower({text})), '\\\\s+'), {nonempty})"

    def _grams(ts: str) -> str:
        m = f"greatest(size({ts}) - {k - 1}, 0)"
        grams = f"slice({ts}, 1, {m})"
        for j in range(1, k):
            join = lam(lambda a, b: f"concat_ws(' ', {a}, {b})")
            grams = f"zip_with({grams}, slice({ts}, {j + 1}, {m}), {join})"
        return f"array_distinct({grams})"

    return let_sql(toks, _grams)


def word_shingles(text: str, k: int = 3) -> Column:
    """Distinct k-word shingles of the lowercased text column named
    ``text`` (see :func:`word_shingles_sql`)."""
    return F.expr(word_shingles_sql(sql_name(text), k))


def quality_features(text: str | Column) -> dict[str, Column]:
    """Heuristic document-quality features (length/punct/stopword ratios)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    nt = F.size(toks).cast("double")
    chars = F.length(c).cast("double")
    stop = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    alpha_chars = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    return {
        "n_chars": chars.cast("long"),
        "n_tokens": nt.cast("long"),
        "avg_token_len": F.when(nt > 0, (chars - nt + 1) / nt),
        "stopword_ratio": F.when(nt > 0, n_stop / nt),
        "alpha_ratio": F.when(chars > 0, alpha_chars / chars),
    }


def lang_scores(text: str | Column) -> Column:
    """Map lang -> stopword-hit count, for argmax language ID."""
    c = F.lower(text if isinstance(text, Column) else F.col(text))
    toks = tokens(c)
    entries = []
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        entries.append(F.struct(F.lit(lang).alias("lang"), hits.alias("hits")))
    return F.array(*entries)


def lang_id(text: str | Column, default: str = "und") -> Column:
    """Argmax-stopword-hits language ID; ties break by list order (en first),
    zero hits -> ``default``."""
    scores = lang_scores(text)
    best = F.aggregate(
        scores,
        F.struct(F.lit("").alias("lang"), F.lit(-1).alias("hits")),
        lambda acc, s: F.when(s["hits"] > acc["hits"], s).otherwise(acc),
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


def fingerprint(text: str | Column, base: int = 31, mod: int = 2**31 - 1) -> Column:
    """Deterministic polynomial rolling hash of the normalized token stream.

    Engine-agnostic document fingerprint: folds ``h = (h*base + tokhash)
    % mod`` over lowercase tokens, where tokhash is the portable 31-bit
    polynomial hash (porthash.tokhash31) — any SQL engine reproduces the
    exact value, which is what makes a fingerprint useful as a cross-system
    dedup key (and lets the driver's DuckDB oracle verify it).  mod < 2^31
    keeps the fold in long arithmetic without overflow.
    """
    from financial_data_science_spark.functions.porthash import tokhash31

    toks = tokens(F.lower(text if isinstance(text, Column) else F.col(text)))
    m = F.lit(mod).cast("long")
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(base) + tokhash31(t) % m) % m,
    )


def quality_verdict(text: Column) -> Column:
    """First-failing-rule quality verdict (too_short / repetitive /
    low_alpha / keep) — the composed pretraining filter pass, entirely in
    column expressions (shared by the `document_filter_gate` and
    `corpus_curation_pipeline` catalog queries)."""
    toks = tokens(F.lower(text))
    ntok = F.size(toks)
    dup = F.when(
        ntok > 0, 1.0 - F.size(F.array_distinct(toks)) / ntok
    ).otherwise(0.0)
    alpha = F.when(
        F.length(text) > 0,
        F.size(F.regexp_extract_all(text, F.lit("[A-Za-z]"), F.lit(0)))
        / F.length(text),
    ).otherwise(0.0)
    return (
        F.when(ntok < 5, "too_short")
        .when(dup > 0.6, "repetitive")
        .when(alpha < 0.5, "low_alpha")
        .otherwise("keep")
    )


def tf_idf_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document — keyword extraction for a
    training-data pipeline (salience-based filtering/labeling at corpus
    scale).

    tf = in-doc term count; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    scikit-learn convention, never negative).  Physical shape: explode
    tokens -> one (doc, term) count aggregate -> term-level df aggregate
    joined back on term (shuffle on the term key; skewed head terms are
    exactly what AQE skew handling is for) -> per-doc top-k window.  The
    N scalar rides a one-row broadcast, not a driver round trip.
    """
    from pyspark.sql import Window

    from financial_data_science_spark.operators.layout import fan_out_scan

    # parallelize the token explode + (doc, term) partial-aggregation
    # off an under-split scan; partitioning by id also pre-satisfies the
    # tf aggregate's clustering, so the repartition exchange replaces
    # the aggregate's (integer counts — order-independent).  No-op at
    # scale.
    docs = fan_out_scan(docs, id_col)
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n__"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            # rounded to the 6dp output grid BEFORE the top-k ordering so
            # a cross-engine ulp difference (Spark vs oracle ln) near a
            # rank boundary cannot flip top-k membership
            F.round(
                F.col("tf")
                * (F.log((F.col("__n__") + 1) / (F.col("df") + 1)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


#: data-cleaning pattern census — conservative regexes with identical
#: semantics in Spark (Java regex) and DuckDB (RE2): no lookarounds.
PII_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": "https?://[^ \\t\\n\\r]+",  # explicit class: java \\s != RE2 \\s
    "long_digits": r"[0-9]{9,}",
}


def pii_pattern_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document counts of scrub-relevant patterns (emails, URLs,
    long digit runs) — the triage pass before masking/filtering in a
    training-data pipeline.  Pure regexp_extract_all column expressions,
    one map stage, no UDF."""
    c = F.col(text_col)
    return docs.select(
        F.col(id_col),
        *[
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(name)
            for name, pat in PII_PATTERNS.items()
        ],
    )


def redact_pii(
    text: Column, placeholders: dict[str, str] | None = None
) -> Column:
    """Masking actuator for the PII census: replace each PII_PATTERNS
    match with a typed placeholder token (``<EMAIL>``, ``<URL>``,
    ``<NUMBER>``) — the standard pre-training scrub.  A chain of
    regexp_replace column expressions, one map stage, no UDF; pattern
    order matters (URLs before long-digit runs so a numeric URL path is
    masked as a URL, not shredded) and the dict preserves it.  The same
    chain replays verbatim in any RE2/Java-regex SQL engine."""
    repl = placeholders or {
        "emails": "<EMAIL>",
        "urls": "<URL>",
        "long_digits": "<NUMBER>",
    }
    out = text
    for name, token in repl.items():
        out = F.regexp_replace(out, PII_PATTERNS[name], token)
    return out


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals for quality filtering (the
    duplicate-n-gram family of heuristics popularized by the Gopher/
    MassiveText filtering rules): duplicate word fraction, duplicate
    word-trigram fraction, and the share of all bigrams taken by the
    most frequent bigram.

    The distinct-ratio features are pure array expressions; the
    top-bigram share explodes bigrams through one (doc, gram) aggregate
    and a per-doc max — two shuffles on the doc key, no UDF.
    """
    toks = tokens(F.lower(F.col(text_col)))
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # guard short docs with CASE so the transform never indexes past the
    # array (DuckDB's range(1, 1) is empty; the oracle needs no guard)
    grams3 = F.expr(
        "CASE WHEN size(_toks_) > 2 THEN transform(sequence(1, size(_toks_) - 2), "
        "i -> concat_ws(' ', _toks_[i-1], _toks_[i], _toks_[i+1])) "
        "ELSE array() END"
    )
    base = docs.select(F.col(id_col), toks.alias("_toks_"))
    feats = base.select(
        id_col,
        F.when(
            F.size("_toks_") > 0,
            1.0 - F.size(F.array_distinct("_toks_")) / F.size("_toks_"),
        ).otherwise(0.0).alias("dup_word_frac"),
        F.when(
            F.size("_toks_") > 2,
            1.0 - F.size(F.array_distinct(grams3)) / (F.size("_toks_") - 2),
        ).otherwise(0.0).alias("dup_3gram_frac"),
    )
    bi = base.select(
        id_col,
        F.explode(
            F.expr(
                "CASE WHEN size(_toks_) > 1 THEN transform(sequence(1, size(_toks_) - 1), "
                "i -> concat_ws(' ', _toks_[i-1], _toks_[i])) "
                "ELSE array() END"
            )
        ).alias("gram"),
    )
    counts = bi.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    top = counts.groupBy(id_col).agg(
        (F.max("c") / F.sum("c")).alias("top_2gram_share")
    )
    return feats.join(top, id_col, "left").fillna(0.0, subset=["top_2gram_share"])
