"""Incremental MinHash-LSH dedup index: hash the standing corpus ONCE,
then near-dup-screen each arriving batch by hashing only the increment.

The batch LSH pipeline (similarity.minhash_candidates) re-shingles and
re-hashes the WHOLE corpus per run — right for a one-shot dedup sweep,
wrong for ingestion, where a 100 TB standing corpus would pay its full
shingle/hash/band cost on every arriving slice.  This module is the
dedup-side analog of the ANN train/add-vs-search split
(similarity.ivf_build_index / ivf_query_index), and it keeps only the
two halves its callers run, both in memory:

- :func:`minhash_build_index` — the ADD-ONCE half.  Shingle, hash, and
  band the corpus a single time; returns the banded bucket table
  ``(corpus_id, band, bhash)`` plus the per-doc signature table.
- :func:`minhash_query_index` — the per-batch half.  Hashes only the
  new docs, joins their band keys against the index buckets, and
  estimates signature similarity for the (new, corpus) collision pairs.
  Per-batch cost is O(increment), independent of corpus size except for
  the bucket-join probe itself.

The ingestion loop builds the index once and probes it per batch; the
standing corpus it probes against is rebuilt, not appended to.  The
at-rest layer (bucketed write, append, compaction and a params meta
table) had no caller and is gone; it last lives at commit 194cb1f.

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
the stop set in the index (``"stop"``), and every probe hashes its
increment under that frozen set.  Parity pinned by test (frozen-census
increment equals the batch run under the same census) and by the
``minhash_index_frozen_census`` catalog oracle.

Reference: the reference repo has no incremental dedup (its dedup
recipes re-run in full); this is part of the LLM-training-pipeline
surface built for the 100 TB ingestion story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
) -> dict:
    """ADD-ONCE half of incremental MinHash dedup: shingle/hash/band the
    standing corpus a single time.

    Returns ``{"buckets": DataFrame[(corpus_id, band, bhash)],
    "sigs": DataFrame[(corpus_id, __csig__)], "stop": DataFrame | None,
    ...params}``.  Both frames are what the per-batch probe join needs
    and nothing more; the raw text never needs to be re-read once the
    index exists.

    ``max_df`` FREEZES a stop-shingle census from this corpus (the
    module-docstring rule, now API instead of caller composition):
    shingles in more than ``max_df`` docs are censused ONCE here
    (similarity.stop_shingle_census), the corpus signatures are built
    under that stop set, the frame rides in the index under ``"stop"``,
    and :func:`minhash_query_index` applies the SAME frozen set to every
    increment — never a per-batch re-census, which would drift the
    kept-shingle set and silently stale every indexed signature.

    ``persist=True`` materializes both frames with an eager
    localCheckpoint (the single-process 'index on disk' stance, same as
    ivf_build_index), so every probe reads the checkpointed rows.
    """
    stop = None
    if max_df is not None:
        stop = stop_shingle_census(
            docs, id_col, text_col, shingle_k, max_df, portable=portable
        )
        # the stop set is consumed by this build AND every later probe —
        # freeze it eagerly (it is tiny: only the >max_df tail) so the
        # census aggregate never re-runs per batch
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
    (band, bhash) against the bucket table, pairs dedup BEFORE the
    signature arrays are joined back, and the corpus text is never
    touched.
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
        # stop set carried in the index — never a per-batch census
        stop_frame=index["stop"],
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
