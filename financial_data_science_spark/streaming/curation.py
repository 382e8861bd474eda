"""The composed streaming curation DAG as a library surface.

A 100 TB/day ingestion pipeline runs its curation stages FUSED — one
scan, one streaming query — not as three nightly passes.  This module
assembles the r7/r8 pieces (on-arrival contamination screen, trained
logistic quality gate, MinHash novel-bucket dedup) into that single
DAG, with the expensive decisions made OFFLINE and entering the stream
as broadcast scalars/sets:

  offline (batch, bounded):   IRLS-train the quality model
                              (functions/classifier.py), pick the score
                              cut, collect the benchmark n-gram hash set
  online (the stream, fused): stateless gram hashes -> mapInPandas
                              membership screen -> map-side logistic
                              score gate -> per-row band keys -> ONE
                              stateful dropDuplicates on the bucket key

Measured (bdde7f0:tools/scale_probe_docstream.py, SCALE.md): the fused
DAG at 50k docs costs 18.5s where the standalone novelty arm alone costs 45.3s
in the same run — the screen+gate prune docs before the bands x docs
fan-out, so composition is strictly cheaper than its pieces.

Oracle-gated by the catalog query `stream_curation_pipeline` (the
bucket-set output is arrival-order-free, so a batch SQL replay checks
it hash-strict).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _quality_p6(
    beta: tuple,
    feature_exprs: list[Column] | None,
    text_col: str,
) -> Column:
    """Map-side 6dp-rounded logistic quality score — the trained-gate
    expression shared by the composed streaming DAGs.  Defaults to the
    document-quality feature pair [ln(1+ntok), n_chars/(1+ntok)]
    matching `_doc_quality_feats`; 6dp round-before-compare means a
    cross-engine ulp at the cut boundary cannot flip gate membership
    against an oracle."""
    from financial_data_science_spark.functions.text import n_tokens

    if feature_exprs is None:
        ntok = n_tokens(text_col).cast("double")
        feature_exprs = [
            F.log(F.lit(1.0) + ntok),
            F.col("n_chars").cast("double") / (F.lit(1.0) + ntok),
        ]
    if len(beta) != len(feature_exprs) + 1:
        raise ValueError(
            f"beta has {len(beta)} coefficients; expected intercept + "
            f"{len(feature_exprs)} features = {len(feature_exprs) + 1}"
        )
    eta = F.lit(beta[0])
    for b, x in zip(beta[1:], feature_exprs):
        eta = eta + F.lit(b) * x
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)), 6)


def curate_document_stream(
    stream: DataFrame,
    spark: SparkSession,
    beta: tuple,
    score_cut: float,
    bench_hashes,
    feature_exprs: list[Column] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    ngram_n: int = 5,
    portable_grams: bool = True,
    num_hashes: int = 8,
    bands: int = 4,
    watermark: str = "1 hour",
    bounded_state: bool = False,
    novelty_window: str | None = None,
    flush_ts=None,
    sentinel_id: int = -1,
) -> DataFrame:
    """Screen -> gate -> novelty in ONE streaming DAG; returns the
    novel (band, bhash) bucket rows of clean, above-cut documents.

    ``beta``/``score_cut``/``bench_hashes`` are the offline leg's
    outputs (train with :func:`classifier.logistic_irls`; cut at the
    exact or approx score median; collect the benchmark gram hashes —
    eval suites are tiny by construction).  ``feature_exprs`` are the
    k feature columns the model was trained on, as expressions over the
    stream's columns; defaults to the document-quality pair
    [ln(1+ntok), n_chars/(1+ntok)] matching `_doc_quality_feats`.

    Stateful footprint: exactly ONE operator — the bucket novelty.
    Three arms, by state/replayability trade:

    - default: global ``dropDuplicates`` — the full distinct-bucket
      set (order-free, batch-parity, right for backfills; state grows
      with the bucket universe).
    - ``bounded_state=True``: ``dropDuplicatesWithinWatermark`` —
      state bounded by the horizon, quiet buckets re-emit; the
      within-micro-batch winner is arrival-order-dependent, so only
      the bucket SET (not per-doc rows) is replayable.
    - ``novelty_window='3 minutes'`` (the bounded arm an indefinite
      ingestion actually runs): a deterministic window-ARGMIN —
      ``groupBy(window(ts, novelty_window), band, bhash) ->
      min(id_col)``, the `curate_and_tag_stream` trick.  Same
      horizon-bounded state (one row per in-horizon bucket, evicted at
      the watermark), but min(id) is order-free, so the per-doc output
      is exactly what a batch SQL replay computes — oracle-checkable
      where dropDuplicatesWithinWatermark is not.  Returns one row per
      novel (window, bucket): ``(window_start, band, bhash, id_col)``.
      Append-mode emission needs the watermark past each window end;
      for bounded replays pass ``flush_ts`` (one sentinel arrival past
      the last real window end + delay — see
      ``streaming/windows.sentinel_stream``); the sentinel's own group
      never emits, and nothing downstream may filter on a grouping key
      (the pushdown hazard pinned at streaming/ann.py)."""
    from financial_data_science_spark.functions.pipeline import (
        contamination_screen,
    )
    from financial_data_science_spark.functions.similarity import (
        minhash_band_keys,
    )

    if bounded_state and novelty_window is not None:
        # the three novelty arms are mutually exclusive and emit
        # DIFFERENT shapes (per-doc rows vs per-(window, bucket) rows);
        # silently preferring one would change semantics at a distance
        raise ValueError(
            "pass either bounded_state=True (dropDuplicatesWithinWatermark"
            " per-doc rows) or novelty_window=... (window-ARGMIN bucket"
            " rows), not both"
        )

    p6 = _quality_p6(beta, feature_exprs, text_col)

    curated = contamination_screen(
        stream, spark, bench_hashes, text_col=text_col, n=ngram_n,
        portable=portable_grams,
    ).filter(p6 > F.lit(float(score_cut)))
    keys = minhash_band_keys(
        curated, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands,
    )
    if novelty_window is not None:
        keys = keys.select(id_col, ts_col, "band", "bhash")
        if flush_ts is not None:
            from financial_data_science_spark.streaming.windows import (
                sentinel_stream,
            )

            sent = sentinel_stream(
                spark,
                [(sentinel_id, flush_ts, -1, 0)],
                f"{id_col} long, {ts_col} timestamp, band int, bhash long",
            )
            keys = keys.unionByName(sent)
        return (
            keys.withWatermark(ts_col, watermark)
            .groupBy(
                F.window(F.col(ts_col), novelty_window).alias("__w__"),
                "band",
                "bhash",
            )
            .agg(F.min(id_col).alias(id_col))
            .select(
                F.col("__w__.start").alias("window_start"),
                "band",
                "bhash",
                id_col,
            )
        )
    wm = keys.withWatermark(ts_col, watermark)
    if bounded_state:
        return wm.dropDuplicatesWithinWatermark(["band", "bhash"])
    return wm.dropDuplicates(["band", "bhash"])


def curate_and_tag_stream(
    stream: DataFrame,
    spark: SparkSession,
    beta: tuple,
    score_cut: float,
    bench_hashes,
    index: dict,
    vectors: DataFrame,
    feature_exprs: list[Column] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    ngram_n: int = 5,
    portable_grams: bool = True,
    num_hashes: int = 8,
    bands: int = 4,
    novelty_window: str = "3 minutes",
    watermark: str = "0 seconds",
    nprobe: int = 2,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    flush_ts=None,
    sentinel_id: int = -1,
) -> DataFrame:
    """The COMPLETE ingestion DAG: screen -> quality gate -> novelty ->
    nearest-existing-neighbor tag, ONE streaming query — each arriving
    document is decontaminated, quality-gated, checked for novelty
    against everything already ingested (within the horizon), and the
    novel ones are tagged with their closest existing corpus item, all
    before the row ever lands.  Returns one row per novel curated doc:
    ``(id_col, neighbor_id, score)``.

    Offline legs (all bounded): IRLS ``beta``/``score_cut``,
    ``bench_hashes`` (as in :func:`curate_document_stream`), an IVF
    ``index`` over the existing corpus (``similarity.ivf_build_index``),
    and ``vectors`` — the static (vec_id, embedding) mapping standing in
    for the embedding each arrival would carry from its encoder (the
    deterministic-fake discipline of the multimodal stubs: the
    Spark-side plumbing is real, the model call is not).

    TWO chained stateful operators, both append-mode windowed
    aggregates (Spark 3.5+/4.x multiple-stateful-operator support):

    1. NOVELTY as a deterministic ARGMIN — ``groupBy(window(ts,
       novelty_window), band, bhash) -> min(id)``.  Unlike
       ``dropDuplicates`` (whose within-micro-batch winner is
       arrival-order-dependent and therefore NOT oracle-replayable at
       doc granularity), min(id) is order-free: the novel docs of a
       horizon window are exactly the ids a batch SQL replay computes.
       State is bounded by the window (one row per in-horizon bucket);
       a bucket quiet across windows re-emits — the same
       horizon-novelty trade as ``dropDuplicatesWithinWatermark``,
       made exact-per-window.
    2. The per-doc TOP-1 argmax over the probed IVF lists, grouped on
       the SAME window struct + doc id.  A doc novel in k bands emits k
       identical candidate sets into the argmax; max() is idempotent
       over them, so no separate doc-dedup state is spent.

    Between the two sits only stateless work: the static-vector join,
    the coarse probe (array_sort/slice/explode against the inlined
    centroid literal), and the stream-static join onto the binned
    corpus restricted to probed lists.

    ``flush_ts``: drain recipe for bounded replays (see
    ``streaming/windows.sentinel_stream``) — a sentinel band-key row at
    that event time is unioned just before the watermark so every real
    window emits under availableNow.  The sentinel rides under
    ``sentinel_id`` (default -1; must NOT be a real doc/vector id — the
    testdata convention is non-negative ids): it forms its own
    never-emitting novelty group and would be dropped at the vector
    join even if it emitted; nothing downstream filters on a grouping
    key (a grouping-key predicate would be pushed below the watermark
    and un-flush the stream — see streaming/ann.py)."""
    from financial_data_science_spark.functions.pipeline import (
        contamination_screen,
    )
    from financial_data_science_spark.functions.similarity import (
        _probe_clusters,
        dot_sql,
        minhash_band_keys,
        norm,
    )
    from financial_data_science_spark.functions.sqltext import sql_name

    p6 = _quality_p6(beta, feature_exprs, text_col)
    curated = contamination_screen(
        stream, spark, bench_hashes, text_col=text_col, n=ngram_n,
        portable=portable_grams,
    ).filter(p6 > F.lit(float(score_cut)))
    keys = minhash_band_keys(
        curated, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands,
    ).select(id_col, ts_col, "band", "bhash")
    if flush_ts is not None:
        from financial_data_science_spark.streaming.windows import (
            sentinel_stream,
        )

        sent = sentinel_stream(
            spark,
            [(sentinel_id, flush_ts, -1, 0)],
            f"{id_col} long, {ts_col} timestamp, band int, bhash long",
        )
        keys = keys.unionByName(sent)
    novel = (
        keys.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), novelty_window).alias("__w__"),
            "band",
            "bhash",
        )
        .agg(F.min(id_col).alias(id_col))
    )
    with_vec = novel.join(
        vectors.select(
            F.col(vec_id_col).alias(id_col), F.col(vec_col).alias("__v__")
        ),
        id_col,
    )
    binned = index["binned"].withColumn("__cn__", norm(vec_col))
    probes = _probe_clusters(
        with_vec, id_col, "__v__", index["centroids"], nprobe, "__q__",
        keep=("__w__",),
    ).withColumn("__qn__", norm("__qv__"))
    scored = (
        probes.join(binned, "cluster")
        .filter(F.col("__q__") != F.col(vec_id_col))
        .select(
            "__w__",
            "__q__",
            F.col(vec_id_col).alias("neighbor_id"),
            F.expr(
                f"round({dot_sql('__qv__', sql_name(vec_col))} / "
                "(__qn__ * __cn__), 6) AS __s__"
            ),
        )
    )
    return (
        scored.groupBy("__w__", "__q__")
        .agg(
            F.max(
                F.struct(
                    F.col("__s__").alias("s"),
                    (-F.col("neighbor_id")).alias("negid"),
                )
            ).alias("m")
        )
        .select(
            F.col("__q__").alias(id_col),
            (-F.col("m.negid")).alias("neighbor_id"),
            F.round("m.s", 4).alias("score"),
        )
    )
