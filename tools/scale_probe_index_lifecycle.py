"""Full at-rest INDEX LIFECYCLE loop, run live for >= 20 batches.

MIGRATION.md documents the ingestion loop;
bdde7f0:tools/scale_probe_index_live.py measures the streaming probe half.  This probe runs the WHOLE cycle the
way a production ingest would — per batch N:

  1. re-open the at-rest index (minhash_read_index: params + frozen
     census from the meta tables);
  2. within-batch dedup (minhash_candidates on the batch — O(batch));
  3. probe the index for cross near-dups (minhash_query_index: hash
     ONLY the batch, bucket-join the at-rest table);
  4. anti-join the dups out, append the survivors
     (minhash_append_index) and WRITE only the increment frames with
     minhash_write_index(mode='append') — O(batch) rows written into
     the same bucket spec;

and measures per-batch wall for the probe phase and the append phase
separately as the standing corpus grows.  The 100 TB claim under test:
per-batch cost is O(batch) — the at-rest corpus side is read through
co-located buckets and never re-hashed — so the wall curve over 20
batches must stay FLAT (same shape as the 16x-corpus -> 1.7x-probe row
in SCALE.md), not grow with corpus size.  Batches carry ~5% planted
near-dups of standing docs so the drop step does real work; the rest
are suffix-tagged variants (unique shingle structure per batch).

Also reported: parquet file count of the bucket table per batch — the
append-mode cost a real deployment pays (one file set per append per
bucket), i.e. when to schedule compaction.

Run: PYTHONPATH=/root/repo python tools/scale_probe_index_lifecycle.py
"""
from __future__ import annotations

import glob
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from financial_data_science_spark.functions import minhash_index as MHI
from financial_data_science_spark.functions.similarity import minhash_candidates
from financial_data_science_spark.sources.testdata import load_table

N_BATCHES = int(os.environ.get("LIFECYCLE_BATCHES", "20"))
BATCH_ROWS = int(os.environ.get("LIFECYCLE_ROWS", "500"))
MIN_EST = 0.8
PARAMS = dict(num_hashes=64, bands=32, shingle_k=3, seed=42)
WAREHOUSE = "/tmp/mhlifecycle_wh"

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
docs = load_table(spark, SF, "documents").select("doc_id", "text")
docs = docs.localCheckpoint(eager=True)
n_base = docs.count()

spark.sql(f"CREATE DATABASE IF NOT EXISTS mhlc LOCATION '{WAREHOUSE}'")
for t in ("t_buckets", "t_sigs", "t_meta", "t_stop"):
    spark.sql(f"DROP TABLE IF EXISTS mhlc.{t}")
    # a previous probe run's files under a fresh derby metastore are
    # invisible to DROP TABLE — clear the location too
    import shutil

    shutil.rmtree(f"{WAREHOUSE}/{t}", ignore_errors=True)

t0 = time.time()
base = MHI.minhash_build_index(docs, portable=False, **PARAMS)
MHI.minhash_write_index(base, "mhlc.t", n_buckets=32)
print(f"base index: {n_base} docs built+written in {time.time()-t0:.1f}s",
      flush=True)


def make_batch(b: int):
    """BATCH_ROWS new docs: ~95% suffix-tagged variants of standing docs
    (unique shingles — every word tagged per batch, so cross-batch
    near-dup structure is zero) + ~5% verbatim copies of base docs
    (planted near-dups the probe must catch and the loop must drop)."""
    base_ids = (b * 37) % n_base
    sel = docs.filter(
        (F.col("doc_id") + base_ids) % (n_base // BATCH_ROWS) == 0
    ).limit(BATCH_ROWS)
    new_id = F.col("doc_id") + F.lit(1_000_000 * (b + 1))
    tagged = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit(f"b{b}")),
        ),
        " ",
    )
    return sel.select(
        new_id.alias("doc_id"),
        F.when(F.col("doc_id") % 20 == 0, F.col("text"))  # planted dup
        .otherwise(tagged)
        .alias("text"),
    ).localCheckpoint(eager=True)


print("batch | corpus | probe_s (reopen+intra+cross+drop) | dups | "
      "append_s | bucket_files", flush=True)
corpus_rows = n_base
all_fresh = []          # every surviving batch, for the rebuild parity check
loop_t0 = time.time()
for b in range(N_BATCHES):
    # MID-LOOP maintenance window (r12 verdict item 4): compact the
    # fragmented bucket table halfway through ingestion, then keep
    # appending — proves compaction composes with the live loop (file
    # count restored to the bucket spec, later appends land in the same
    # spec, final index still exact vs a from-scratch rebuild below)
    if b == N_BATCHES // 2:
        nfiles_pre = len(glob.glob(f"{WAREHOUSE}/t_buckets/*.parquet"))
        t0 = time.time()
        MHI.minhash_compact_index(spark, "mhlc.t", n_buckets=32)
        nfiles_post = len(glob.glob(f"{WAREHOUSE}/t_buckets/*.parquet"))
        print(
            f"MID-LOOP COMPACTION before batch {b}: {nfiles_pre} -> "
            f"{nfiles_post} bucket files in {time.time()-t0:.1f}s",
            flush=True,
        )
    batch = make_batch(b)
    t0 = time.time()
    idx = MHI.minhash_read_index(spark, "mhlc.t")
    intra = minhash_candidates(batch, portable=False, **PARAMS).filter(
        F.col("est_jaccard") >= MIN_EST
    )
    batch_clean = batch.join(
        intra.select(F.col("right_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    dups = MHI.minhash_query_index(batch_clean, idx, min_est=MIN_EST)
    fresh = batch_clean.join(
        dups.select(F.col("new_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).localCheckpoint(eager=True)
    n_dups = batch.count() - fresh.count()
    t_probe = time.time() - t0
    t0 = time.time()
    grown = MHI.minhash_append_index(idx, fresh)
    MHI.minhash_write_index(
        {"buckets": grown["new_buckets"], "sigs": grown["new_sigs"]},
        "mhlc.t",
        n_buckets=32,
        mode="append",
    )
    t_append = time.time() - t0
    all_fresh.append(fresh)
    corpus_rows += BATCH_ROWS - n_dups
    nfiles = len(glob.glob(f"{WAREHOUSE}/t_buckets/*.parquet"))
    print(
        f"{b:5d} | {corpus_rows:6d} | {t_probe:7.2f} | {n_dups:4d} | "
        f"{t_append:8.2f} | {nfiles}",
        flush=True,
    )

wall = time.time() - loop_t0
print(
    f"total: {corpus_rows - n_base} fresh docs ingested over {N_BATCHES} "
    f"batches of {BATCH_ROWS} in {wall:.1f}s = "
    f"{N_BATCHES * BATCH_ROWS / wall:.0f} docs/s end-to-end "
    f"(probe+dedup+append+at-rest write, single node)",
    flush=True,
)

# the maintenance window: compact the fragmented bucket table back to
# one file set and show the probe is unchanged (and faster to open).
# Probe batch = verbatim copies of standing docs in a fresh id space,
# so it MUST collide (nonzero evidence rows on both sides of the swap).
probe_batch = docs.limit(200).select(
    (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
).localCheckpoint(eager=True)
t0 = time.time()
pre = MHI.minhash_query_index(
    probe_batch, MHI.minhash_read_index(spark, "mhlc.t"), min_est=MIN_EST
).count()
t_pre = time.time() - t0
t0 = time.time()
MHI.minhash_compact_index(spark, "mhlc.t", n_buckets=32)
t_cmp = time.time() - t0
nfiles = len(glob.glob(f"{WAREHOUSE}/t_buckets/*.parquet"))
t0 = time.time()
post = MHI.minhash_query_index(
    probe_batch, MHI.minhash_read_index(spark, "mhlc.t"), min_est=MIN_EST
).count()
t_post = time.time() - t0
print(
    f"compaction: {t_cmp:.1f}s -> {nfiles} bucket files; probe "
    f"{pre} rows {t_pre:.2f}s before == {post} rows {t_post:.2f}s after",
    flush=True,
)
assert pre == post

# exactness across the WHOLE lifecycle (r12 verdict item 4c): the
# at-rest index — built, appended to 20 times, compacted MID-LOOP and
# again at the end — must probe row-identically to an index rebuilt
# from scratch over the same surviving docs.  Compares the full
# evidence rows (ids + est), not just counts.
surviving = docs
for fdf in all_fresh:
    surviving = surviving.unionByName(fdf)
surviving = surviving.localCheckpoint(eager=True)
rebuilt = MHI.minhash_build_index(surviving, portable=False, **PARAMS)
at_rest = MHI.minhash_read_index(spark, "mhlc.t")
a = MHI.minhash_query_index(probe_batch, at_rest, min_est=MIN_EST)
b2 = MHI.minhash_query_index(probe_batch, rebuilt, min_est=MIN_EST)
diff = a.exceptAll(b2).count() + b2.exceptAll(a).count()
print(
    f"lifecycle parity: at-rest (20 appends + 2 compactions) vs "
    f"from-scratch rebuild over {surviving.count()} docs -> "
    f"{a.count()} == {b2.count()} evidence rows, symmetric diff {diff}",
    flush=True,
)
assert diff == 0
