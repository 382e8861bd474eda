"""Incremental MinHash-LSH dedup index: hash the standing corpus ONCE,
then near-dup-screen each arriving batch by hashing only the increment.

The batch LSH pipeline (similarity.minhash_candidates) re-shingles and
re-hashes the WHOLE corpus per run — right for a one-shot dedup sweep,
wrong for ingestion, where a 100 TB standing corpus would pay its full
shingle/hash/band cost on every arriving slice.  This module is the
dedup-side analog of the ANN train/add-vs-search split
(similarity.ivf_build_index / ivf_query_index):

- :func:`minhash_build_index` — the ADD-ONCE half.  Shingle, hash, and
  band the corpus a single time; returns the banded bucket table
  ``(corpus_id, band, bhash)`` plus the per-doc signature table.  On a
  cluster the equivalent at rest is :func:`minhash_write_index` —
  buckets written BUCKETED BY the band hash, so the per-batch probe
  join reads co-located buckets and shuffles ONLY the increment.
- :func:`minhash_query_index` — the per-batch half.  Hashes only the
  new docs, joins their band keys against the index buckets, and
  estimates signature similarity for the (new, corpus) collision pairs.
  Per-batch cost is O(increment), independent of corpus size except for
  the bucket-join probe itself.

Scope contract: the query returns CROSS pairs (new vs corpus) only.
Within-increment duplicates are the batch problem the existing
minhash_candidates solves on the (small) increment; corpus-vs-corpus
pairs were resolved when the corpus was ingested.  A doc id present on
both sides is the "already ingested" case and is excluded.

Signatures are per-doc-independent (no corpus statistics), and the
band layout (similarity.lsh_banded) and match-fraction estimate
(similarity.sig_match_fraction) are the batch pipeline's own helpers,
so incremental results are EXACT: build+query on a (corpus, increment)
split yields precisely the cross-pair subset of a full batch run —
pinned by parity test and by the DuckDB oracle of the
``minhash_index_increment`` catalog entry.  The one corpus-statistic
variant, stop-shingle ``max_df`` filtering, is deliberately NOT
computed per batch: a production ingest freezes the stop-shingle
census from the standing corpus (else the kept-shingle set drifts with
every batch and old signatures go stale).  Freezing is API (r12):
``minhash_build_index(corpus, max_df=...)`` censuses ONCE and carries
the stop set in the index (``"stop"``; persisted as ``{prefix}_stop``
by :func:`minhash_write_index`), and every probe/append hashes its
increment under that frozen set — a per-batch census cannot happen by
construction (``minhash_signatures`` refuses max_df + stop_frame
together).  Parity pinned by test (frozen-census increment equals the
batch run under the same census) and by the
``minhash_index_frozen_census`` catalog oracle.

Reference: the reference repo has no incremental dedup (its dedup
recipes re-run in full); this is part of the LLM-training-pipeline
surface built for the 100 TB ingestion story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_science_spark.functions.similarity import (
    lsh_banded,
    minhash_signatures,
    sig_match_fraction,
    stop_shingle_census,
)


def minhash_build_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    portable: bool = False,
    persist: bool = False,
    max_df: float | int | None = None,
    stop_frame: DataFrame | None = None,
) -> dict:
    """ADD-ONCE half of incremental MinHash dedup: shingle/hash/band the
    standing corpus a single time.

    Returns ``{"buckets": DataFrame[(corpus_id, band, bhash)],
    "sigs": DataFrame[(corpus_id, __csig__)], ...params}``.  Both frames
    are what the per-batch probe join needs and nothing more; the raw
    text never needs to be re-read once the index exists.

    ``max_df`` FREEZES a stop-shingle census from this corpus (the
    module-docstring rule, now API instead of caller composition):
    shingles in more than ``max_df`` docs are censused ONCE here
    (similarity.stop_shingle_census), the corpus signatures are built
    under that stop set, the frame rides in the index under ``"stop"``
    (persisted by :func:`minhash_write_index` as ``{prefix}_stop``),
    and :func:`minhash_query_index` / :func:`minhash_append_index`
    apply the SAME frozen set to every increment — never a per-batch
    re-census, which would drift the kept-shingle set and silently
    stale every at-rest signature.

    ``stop_frame`` applies an ALREADY-frozen census instead (mutually
    exclusive with ``max_df``) — how :func:`minhash_append_index`
    hashes a batch under the corpus census, and how a caller carries a
    census across index generations.

    ``persist=True`` materializes both frames with an eager
    localCheckpoint (the single-process 'index on disk' stance, same as
    ivf_build_index); on a cluster use :func:`minhash_write_index`,
    which buckets the table by ``bhash`` so probe joins skip the
    corpus-side exchange entirely.
    """
    if max_df is not None and stop_frame is not None:
        raise ValueError(
            "minhash_build_index: pass max_df (freeze a census from this "
            "corpus) or stop_frame (apply one already frozen), not both"
        )
    stop = stop_frame
    if max_df is not None:
        stop = stop_shingle_census(
            docs, id_col, text_col, shingle_k, max_df, portable=portable
        )
        # the stop set is consumed by this build AND every later probe/
        # append — freeze it eagerly (it is tiny: only the >max_df tail)
        # so the census aggregate never re-runs per batch
        stop = stop.localCheckpoint(eager=True)
    sig = minhash_signatures(
        docs, id_col, text_col, shingle_k, num_hashes, seed, portable=portable,
        stop_frame=stop,
    )
    if persist:
        # checkpoint the SHARED signature frame once — the corpus is
        # hashed exactly one time, and buckets (a band-explode
        # projection) re-materializes from the checkpointed rows, not
        # from text.  Checkpointing buckets/sigs independently instead
        # would run the full shingle/hash aggregate twice.
        sig = sig.localCheckpoint(eager=True)
    buckets = lsh_banded(sig, id_col, "corpus_id", num_hashes, bands, portable)
    sigs = sig.select(
        F.col(id_col).alias("corpus_id"), F.col("__sig__").alias("__csig__")
    )
    if persist:
        buckets = buckets.localCheckpoint(eager=True)
    return {
        "buckets": buckets,
        "sigs": sigs,
        "stop": stop,
        "shingle_k": shingle_k,
        "num_hashes": num_hashes,
        "bands": bands,
        "seed": seed,
        "portable": portable,
    }


def minhash_query_index(
    new_docs: DataFrame,
    index: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est: float | None = None,
) -> DataFrame:
    """Per-batch half: near-dup pairs between ``new_docs`` and the
    indexed corpus, hashing ONLY the increment.

    Output: ``(new_id, corpus_id, est_jaccard)`` distinct pairs whose
    band keys collide, with the usual matched-minhash-fraction estimate;
    ``min_est`` filters server-side.  The physical shape is the one that
    survives 1000 executors: the increment's band keys shuffle on
    (band, bhash) against the bucket table (co-located and exchange-free
    when the index is at rest via :func:`minhash_write_index`), pairs
    dedup BEFORE the signature arrays are joined back, and the corpus
    text is never touched.
    """
    num_hashes = index["num_hashes"]
    sig = minhash_signatures(
        new_docs,
        id_col,
        text_col,
        index["shingle_k"],
        num_hashes,
        index["seed"],
        portable=index["portable"],
        # frozen-census rule: the increment hashes under the CORPUS
        # stop set persisted with the index — never a per-batch census
        stop_frame=index.get("stop"),
    )
    nb = lsh_banded(
        sig, id_col, "new_id", num_hashes, index["bands"], index["portable"]
    )
    pairs = (
        nb.join(index["buckets"], ["band", "bhash"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    nsig = sig.select(
        F.col(id_col).alias("new_id"), F.col("__sig__").alias("__nsig__")
    )
    est = sig_match_fraction("__nsig__", "__csig__", num_hashes)
    out = (
        pairs.join(nsig, "new_id")
        .join(index["sigs"], "corpus_id")
        .select("new_id", "corpus_id", est.alias("est_jaccard"))
    )
    if min_est is not None:
        out = out.filter(F.col("est_jaccard") >= min_est)
    return out


def minhash_append_index(
    index: dict,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = False,
) -> dict:
    """Grow the index with an ingested batch (the post-dedup half of the
    ingestion loop: probe with :func:`minhash_query_index`, drop the
    near-dups, append the survivors).  Hashes ONLY ``new_docs`` — the
    whole body delegates to :func:`minhash_build_index` on the batch so
    the two paths can never drift — and unions the new rows onto the
    index: per-batch hashing cost is O(batch), and probe results equal
    a from-scratch rebuild on corpus + batch exactly (per-doc-independent
    signatures; pinned by parity test).

    ID contract: ``new_docs`` ids must be NEW — the near-dup probe drops
    text duplicates, not id collisions, so re-appending an id already in
    the index (a retried batch, an id reuse) leaves duplicate
    ``corpus_id`` rows that break the query's distinct-pairs output.
    Idempotence is the caller's (e.g. anti-join the batch on ids already
    at rest — the upsert pattern in sources/coercion.py).

    Lineage: each append adds one union leg.  ``persist=True``
    checkpoints the UNIONED frames — an explicit O(index) compaction
    for in-memory loops (checkpointing only the increment would leave
    an ever-deeper union tree and per-probe re-analysis cost).  The
    production loop avoids both costs by living AT REST: write the
    returned ``new_buckets`` / ``new_sigs`` (the increment-only frames)
    with ``minhash_write_index(..., mode='append')`` — same bucket
    spec, O(batch) written — and re-open via
    :func:`minhash_read_index`."""
    inc = minhash_build_index(
        new_docs,
        id_col,
        text_col,
        index["shingle_k"],
        index["num_hashes"],
        index["bands"],
        index["seed"],
        index["portable"],
        persist=False,
        # frozen-census rule: the batch hashes under the CORPUS stop
        # set, never its own census (which would drift the kept set)
        stop_frame=index.get("stop"),
    )
    buckets = index["buckets"].unionByName(inc["buckets"])
    sigs = index["sigs"].unionByName(inc["sigs"])
    if persist:
        buckets = buckets.localCheckpoint(eager=True)
        sigs = sigs.localCheckpoint(eager=True)
    return {
        **index,
        "buckets": buckets,
        "sigs": sigs,
        "new_buckets": inc["buckets"],
        "new_sigs": inc["sigs"],
    }


# hash-family params persisted with (and validated against) the at-rest
# index; order fixed so the meta row round-trips positionally
_PARAM_KEYS = ("shingle_k", "num_hashes", "bands", "seed", "portable")


def minhash_write_index(
    index: dict, table_prefix: str, n_buckets: int = 32, mode: str = "overwrite",
) -> None:
    """Persist the index AT REST, bucketed for exchange-free probes:
    ``{prefix}_buckets`` bucketed+sorted by the probe join key
    ``(band, bhash)`` and ``{prefix}_sigs`` bucketed by ``corpus_id``
    (the estimate join key).  A later :func:`minhash_read_index` +
    query join then shuffles only the increment — the corpus side reads
    co-located buckets (one fewer Exchange than the in-memory index
    plan; asserted in tests).

    The hash-family params travel WITH the index: a one-row
    ``{prefix}_meta`` table records (shingle_k, num_hashes, bands, seed,
    portable), and :func:`minhash_read_index` reads them back — a
    probe under mismatched params would not error, it would silently
    return empty collisions or wrong est_jaccard denominators, so the
    params are data, not a caller contract.

    ``mode='append'`` is the ingestion loop's O(batch) write: pass the
    increment-only frames from :func:`minhash_append_index`
    (``{"buckets": idx["new_buckets"], "sigs": idx["new_sigs"]}``) and
    the new rows land in the SAME bucket spec without rewriting the
    corpus; if the passed dict carries params they are validated
    against the at-rest meta first (appending rows hashed under a
    different family is the exact corruption the meta exists to stop).
    Do not overwrite a prefix from an index that was READ from
    that prefix — Spark refuses to overwrite a table its plan scans."""
    from financial_data_science_spark.operators.skew import write_bucketed

    spark = index["buckets"].sparkSession
    params = {k: index[k] for k in _PARAM_KEYS if k in index}
    # all validation happens BEFORE any table is touched: an incomplete
    # param dict in overwrite mode must not leave fresh bucket/sig rows
    # (or a dropped stop table) at rest under the previous generation's
    # meta — the silent family mismatch the meta table exists to prevent
    if mode == "append":
        if params:
            at_rest = _read_meta(spark, table_prefix)
            if at_rest is not None and at_rest != params:
                raise ValueError(
                    f"minhash_write_index(mode='append'): params {params} do "
                    f"not match the at-rest index {table_prefix} ({at_rest}) "
                    "— appending rows hashed under a different family "
                    "corrupts the index"
                )
    elif len(params) != len(_PARAM_KEYS):
        raise ValueError(
            "minhash_write_index: index dict is missing hash-family "
            f"params {sorted(set(_PARAM_KEYS) - set(params))} — pass the "
            "dict returned by minhash_build_index"
        )
    write_bucketed(
        index["buckets"], f"{table_prefix}_buckets", ["band", "bhash"],
        n_buckets, sort_key=["band", "bhash"], mode=mode,
    )
    write_bucketed(
        index["sigs"], f"{table_prefix}_sigs", "corpus_id", n_buckets, mode=mode,
    )
    if mode != "append":
        # the frozen stop-shingle census (if any) is part of the index:
        # a probe without it hashes boilerplate the corpus signatures
        # never saw.  Broadcast-sized (the >max_df tail), plain table.
        if index.get("stop") is not None:
            index["stop"].write.mode("overwrite").saveAsTable(
                f"{table_prefix}_stop"
            )
        elif spark.catalog.tableExists(f"{table_prefix}_stop"):
            # overwriting a censused index with an uncensused one must
            # not leave the stale stop table behind
            spark.sql(f"DROP TABLE {table_prefix}_stop")
        spark.createDataFrame(
            [tuple(params[k] for k in _PARAM_KEYS)],
            "shingle_k int, num_hashes int, bands int, seed int, portable boolean",
        ).write.mode("overwrite").saveAsTable(f"{table_prefix}_meta")


def _read_meta(spark: SparkSession, table_prefix: str) -> dict | None:
    """The persisted hash-family params, or None for a pre-meta index."""
    if not spark.catalog.tableExists(f"{table_prefix}_meta"):
        return None
    row = spark.table(f"{table_prefix}_meta").collect()[0]
    return {k: row[k] for k in _PARAM_KEYS}


def minhash_compact_index(
    spark: SparkSession, table_prefix: str, n_buckets: int = 32,
) -> None:
    """Compact an at-rest index: rewrite ``{prefix}_buckets`` /
    ``{prefix}_sigs`` into ONE file set each, same bucket spec.

    ``minhash_write_index(mode='append')`` lands one file per bucket
    per append (the O(batch) write that keeps ingestion cheap) — after
    B batches the bucket table is B x n_buckets files and every probe
    pays B-fold open/footer overhead (measured growth in
    ee5f3ba:tools/scale_probe_index_lifecycle.py: 32 files/batch).  This
    is the maintenance job a deployment schedules between batches: read,
    eagerly materialize (a plan cannot overwrite a table it scans),
    rewrite bucketed+sorted exactly as the original write, so probe
    plans — and their exchange-free corpus side — are unchanged.
    Results are row-identical; only the file layout changes.

    The meta/stop tables are one-row/tiny and never appended to, so
    they are left alone.  Single-process stance matches the rest of the
    module: the materialize-then-overwrite swap is not atomic across
    engines — on a shared metastore run it in the ingestion loop's own
    maintenance window (or use a table format with atomic REPLACE)."""
    from financial_data_science_spark.operators.skew import write_bucketed

    for suffix, keys, sort in (
        ("_buckets", ["band", "bhash"], ["band", "bhash"]),
        ("_sigs", ["corpus_id"], None),
    ):
        table = f"{table_prefix}{suffix}"
        frozen = spark.table(table).localCheckpoint(eager=True)
        # repartition on the bucket keys into n_buckets tasks: bucket
        # assignment and repartition share Spark's hash partitioning, so
        # each task holds exactly one bucket's rows -> ONE file per
        # bucket (a bucketed write otherwise emits one file per
        # task x bucket, which is the fragmentation being repaired)
        frozen = frozen.repartition(n_buckets, *[F.col(k) for k in keys])
        write_bucketed(
            frozen, table, keys, n_buckets, sort_key=sort, mode="overwrite",
        )


def minhash_read_index(
    spark: SparkSession,
    table_prefix: str,
    shingle_k: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
    seed: int | None = None,
    portable: bool | None = None,
) -> dict:
    """Re-open an at-rest index written by :func:`minhash_write_index`.

    Hash-family params come from the persisted ``{prefix}_meta`` table;
    explicitly passed values are VALIDATED against it (raise on
    mismatch — a silently mismatched family yields empty collisions or
    wrong est_jaccard denominators, not an error).  For a pre-meta
    index (no ``{prefix}_meta`` table) the passed values are trusted
    as before, with the historical defaults (3, 32, 8, 42, False) for
    any left as None."""
    defaults = {"shingle_k": 3, "num_hashes": 32, "bands": 8, "seed": 42,
                "portable": False}
    passed = {"shingle_k": shingle_k, "num_hashes": num_hashes,
              "bands": bands, "seed": seed, "portable": portable}
    at_rest = _read_meta(spark, table_prefix)
    if at_rest is None:
        params = {k: defaults[k] if passed[k] is None else passed[k]
                  for k in _PARAM_KEYS}
    else:
        mismatch = {k: (passed[k], at_rest[k]) for k in _PARAM_KEYS
                    if passed[k] is not None and passed[k] != at_rest[k]}
        if mismatch:
            raise ValueError(
                f"minhash_read_index({table_prefix}): passed params "
                f"{mismatch} (passed, at-rest) contradict the persisted "
                "index meta — drop the arguments or rebuild the index"
            )
        params = at_rest
    return {
        "buckets": spark.table(f"{table_prefix}_buckets"),
        "sigs": spark.table(f"{table_prefix}_sigs"),
        "stop": (
            spark.table(f"{table_prefix}_stop")
            if spark.catalog.tableExists(f"{table_prefix}_stop")
            else None
        ),
        **params,
    }
