"""filing_dedup: arriving EDGAR-filing-like documents streamed into an
on-disk filing store and screened for near-duplicates against a standing
corpus, plus semantic dedup of the embeddings.

Why: the functions layer and ``operators.layout`` (``fan_out_scan``,
``compact_width``) do most of the work, with sources and streaming in
front of them: one daily file per micro-batch is coerced, upserted into a
parquet store that is re-read from disk on every batch, and screened, so
per-batch fixed costs show here and not in research_panel.  How much text
the filings share is the input property LSH depends on: every filing
carries shared boilerplate paragraphs, and a known share of the new
filings are light edits of a corpus filing (the planted pairs
``dup_recall`` is measured on).

The standing corpus is also the on-disk filing store.  A pass builds the
MinHash index over the corpus, streams the day's file(s) through
``stream_dedup`` (repeated filings) into a fresh copy of the store
(``as_dtypes`` then ``upsert_append``), screens each batch's new filings
(``minhash_query_index`` candidates verified by exact shingle Jaccard),
then computes text-quality and vocabulary features of the store and runs
semantic dedup over all embeddings.  A batch is one daily file, from
being picked up to its filings being committed and screened.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.ml.functions import vector_to_array
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_science_spark.functions import minhash_index, semdedup, text, vocab
from financial_data_science_spark.operators import layout
from financial_data_science_spark.sources import coercion
from financial_data_science_spark.streaming import windows as stream_windows

from perfbench.common import PassResult, digest, dir_bytes, rows

name = "filing_dedup"
SIZES = {
    "full": {"corpus": 300, "files": 1, "per_file": 60, "words": 150, "dim": 16},
    "tiny": {"corpus": 60, "files": 2, "per_file": 10, "words": 50, "dim": 8},
}
SHINGLE_K = 3
THRESHOLD = 0.5
DUP_SHARE = 0.25
KEYS = ["doc_id"]
SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("cik", T.LongType()),
    T.StructField("company", T.StringType()),
    T.StructField("form", T.StringType()),
    T.StructField("filed", T.LongType()),
    T.StructField("text", T.StringType()),
])
RAW_SCHEMA = T.StructType(
    [T.StructField(f.name, T.StringType()) for f in SCHEMA.fields]
    + [T.StructField("accepted", T.TimestampType())])
COMPANIES = ["Acme Corp", "Société Générale", "Nestlé SA", "Zürich Holdings", "Beta Inc",
             "Gamma Ltd", "Müller AG", "Delta Co", "Øresund ASA", "Epsilon LLC"]


# ------------------------------------------------------------------ inputs
def generate(seed: int, size: str = "full") -> dict:
    """Seeded corpus and daily files of new filings.

    Each filing is two or three shared boilerplate paragraphs around
    Zipf-drawn body text; a DUP_SHARE of the new filings copy a corpus
    filing with 2-8% of words replaced, and their embeddings are the
    source's plus small noise.  The corpus is the stored filings; the
    daily files carry raw strings: blank CIKs, ``-`` in int dates,
    non-ASCII company names, filings repeated within a file (dropped by
    the stream) and stored filings re-sent with a new acceptance time
    (ignored by the upsert, the key being stored)."""
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lexicon = np.array(["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(4000)])
    zipf = 1.0 / np.arange(1, len(lexicon) + 1)
    zipf /= zipf.sum()
    boiler = [rng.choice(lexicon, 30, p=zipf) for _ in range(30)]

    def filing() -> list[str]:
        words = list(rng.choice(lexicon, cfg["words"], p=zipf))
        for b in rng.choice(len(boiler), rng.integers(2, 4), replace=False):
            at = int(rng.integers(0, len(words)))
            words[at:at] = list(boiler[b])
        return words

    nc, nn = cfg["corpus"], cfg["files"] * cfg["per_file"]
    corpus = [filing() for _ in range(nc)]
    # exactly DUP_SHARE of the new filings are planted, with edit rates
    # spread over 2-8%: the seed moves which, not how many or how close
    dup = rng.permutation(nn) < round(DUP_SHARE * nn)
    rates = iter(rng.permutation(np.linspace(0.02, 0.08, int(dup.sum()))))
    new, planted = [], []
    for j in range(nn):
        if dup[j]:
            src = int(rng.integers(0, nc))
            words = list(corpus[src])
            edit = rng.random(len(words)) < next(rates)
            for at in np.flatnonzero(edit):
                words[at] = lexicon[rng.integers(0, len(lexicon))]
            new.append(words)
            planted.append((nc + j, src))
        else:
            new.append(filing())
    emb = rng.normal(0, 1, (nc + nn, cfg["dim"]))
    for nid, src in planted:
        emb[nid] = emb[src] + rng.normal(0, 0.02, cfg["dim"])
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).round(6)
    texts = [" ".join(w) for w in corpus + new]

    def meta(ids, day, k):
        return {
            "doc_id": ids.astype(str),
            "cik": np.where(rng.random(k) < 0.05, "", rng.integers(1000, 999999, k).astype(str)),
            "company": np.array(COMPANIES)[rng.integers(0, len(COMPANIES), k)],
            "form": rng.choice(["10-K", "10-Q", "8-K"], k),
            "filed": np.where(rng.random(k) < 0.3, day.strftime("%Y-%m-%d"), day.strftime("%Y%m%d")),
            "text": [texts[i] for i in ids],
            "accepted": [f"{day:%Y-%m-%d} {h:02d}:{m:02d}:00" for h, m in
                         zip(rng.integers(8, 18, k), rng.integers(0, 60, k))],
        }

    stored = pd.DataFrame(meta(np.arange(nc), pd.Timestamp("2024-03-01"), nc))
    days = pd.bdate_range("2024-03-04", periods=cfg["files"])
    files, prev = [], stored
    for d, day in enumerate(days):
        ids = np.arange(nc + d * cfg["per_file"], nc + (d + 1) * cfg["per_file"])
        f = pd.DataFrame(meta(ids, day, len(ids)))
        resent = prev.sample(n=max(1, len(ids) // 10), random_state=int(rng.integers(1 << 30)))
        parts = [f, f.sample(frac=0.1, random_state=int(rng.integers(1 << 30))),
                 resent.assign(accepted=f"{day:%Y-%m-%d} 19:00:00")]
        files.append(pd.concat(parts).sample(frac=1.0, random_state=int(rng.integers(1 << 30))))
        prev = f
    return {"stored": stored.drop(columns="accepted"), "texts": texts, "files": files,
            "corpus_n": nc, "new_ids": nn, "planted": planted, "emb": emb}


def shingles(doc: str) -> set[str]:
    """The same k-word shingles as ``text.word_shingles``."""
    toks = doc.lower().split()
    return {" ".join(toks[i:i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


# ---------------------------------------------------------------- workload
def setup(spark, seed: int, work: str, size: str = "full") -> dict:
    """Generate the inputs: the corpus as the on-disk filing store and in
    memory, the embeddings in memory, the daily files on disk."""
    data = generate(seed, size)
    store0 = os.path.join(work, "store0")
    coercion.as_dtypes(spark.createDataFrame(data["stored"].astype(str)), SCHEMA) \
        .coalesce(1).write.parquet(store0)
    src = os.path.join(work, "incoming")
    os.makedirs(src)
    for d, pdf in enumerate(data["files"]):
        fp = os.path.join(src, f"day_{d:03d}.csv")
        pdf.to_csv(fp, index=False)
        os.utime(fp, (1_700_000_000 + d, 1_700_000_000 + d))  # oldest file first
    corpus = spark.read.parquet(store0).select("doc_id", "text").localCheckpoint(eager=True)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(data["emb"])],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)
    return {"spark": spark, "work": work, "src": src, "store0": store0, "data": data,
            "corpus": corpus, "emb": emb, "raw_bytes": dir_bytes(src)}


def release(state: dict) -> None:
    shutil.rmtree(state["work"], ignore_errors=True)


def patch(tracer) -> None:
    """Span the layout helpers the functions layer calls internally, so
    their planning time is charged to operators, not functions."""
    for fn in ("fan_out_scan", "compact_width"):
        setattr(layout, fn, tracer.nested("operators", getattr(layout, fn)))


def _quality(docs):
    """Per-filing text-quality features."""
    feats = text.quality_features("text")
    return docs.select("doc_id", *[c.alias(k) for k, c in feats.items()])


def _verify(cands, corpus, new):
    """Exact shingle Jaccard of each LSH candidate pair."""
    c = corpus.select(F.col("doc_id").alias("corpus_id"),
                      text.word_shingles("text", SHINGLE_K).alias("cs"))
    n = new.select(F.col("doc_id").alias("new_id"),
                   text.word_shingles("text", SHINGLE_K).alias("ns"))
    return cands.join(n, "new_id").join(c, "corpus_id").select(
        "new_id", "corpus_id",
        (F.size(F.array_intersect("ns", "cs")) / F.size(F.array_union("ns", "cs"))).alias("j"),
    )


def _write_store(df, path: str) -> None:
    """Commit the next store version as one parquet file."""
    df.coalesce(1).write.parquet(path)


def _await(q) -> None:
    """Run a stream over the whole backlog (Trigger.AvailableNow)."""
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def run_pass(state: dict, tr, i: int) -> PassResult:
    spark, corpus = state["spark"], state["corpus"]
    base = os.path.join(state["work"], f"pass{i}")
    store_dir = os.path.join(base, "store")
    shutil.copytree(state["store0"], os.path.join(store_dir, "v000"))
    cur = {"path": os.path.join(store_dir, "v000"), "rows": state["data"]["corpus_n"]}
    out, fn_s, stored, pairs = {}, {}, {}, []
    n_cands, read_rows, new_rows, written = 0, 0, 0, 0

    index = tr.call("functions", minhash_index.minhash_build_index, corpus,
                    shingle_k=SHINGLE_K, persist=True)

    def ingest_batch(batch, batch_id):
        nonlocal n_cands, read_rows, new_rows, written
        if batch_id >= len(state["data"]["files"]):
            # the no-data batch that advances the dedup watermark; the
            # stream's state commits only once every partition is read
            batch.write.format("noop").mode("overwrite").save()
            return
        t = time.perf_counter()
        new = tr.call("sources", coercion.as_dtypes, batch.drop("accepted"), SCHEMA,
                      primary_keys=KEYS)
        existing = spark.read.parquet(cur["path"])
        merged = tr.call("sources", coercion.upsert_append, existing, new, KEYS)
        nxt = os.path.join(store_dir, f"v{batch_id + 1:03d}")
        tr.call("sources", _write_store, merged, nxt)
        fresh = new.join(existing.select(*KEYS), KEYS, "left_anti")
        cands = tr.call("functions", minhash_index.minhash_query_index, fresh, index)
        scored = tr.call("functions", _verify, cands.select("new_id", "corpus_id"), corpus, fresh)
        got = scored.collect()
        n_cands += len(got)
        pairs.extend((r["new_id"], r["corpus_id"], r["j"]) for r in got if r["j"] >= THRESHOLD)
        stored[batch_id] = spark.read.parquet(nxt).count()
        shutil.rmtree(cur["path"])
        if tr.enabled:
            read_rows += cur["rows"]
            new_rows += stored[batch_id] - cur["rows"]
            written += dir_bytes(nxt)
        cur.update(path=nxt, rows=stored[batch_id])
        fn_s[batch_id] = time.perf_counter() - t

    raw = (spark.readStream.schema(RAW_SCHEMA).option("header", True)
           .option("maxFilesPerTrigger", 1).csv(state["src"]))
    deduped = tr.call("streaming", stream_windows.stream_dedup, raw, ["doc_id", "accepted"],
                      "accepted", watermark="2 days")
    q = (deduped.writeStream.foreachBatch(ingest_batch).trigger(availableNow=True)
         .option("checkpointLocation", os.path.join(base, "checkpoint")).start())
    tr.call("streaming", _await, q)
    progress = [p for p in q.recentProgress if p["batchId"] in fn_s]
    engine = {p["batchId"]: (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1e3
              for p in progress}
    batch_s = [fn_s[b] + engine[b] for b in sorted(fn_s)]
    state_rows = max((op["numRowsTotal"] for p in progress for op in p.get("stateOperators", [])),
                     default=0)
    out["pairs"] = sorted(pairs)
    out["stored"] = [stored[b] for b in sorted(stored)]

    store = spark.read.parquet(cur["path"])
    out["store"] = store.agg(
        F.count(F.lit(1)).alias("rows"), F.countDistinct(*KEYS).alias("keys"),
        F.sum("cik").alias("cik"), F.sum("filed").alias("filed"),
        F.sum(F.when(F.col("company").rlike("[^\\x00-\\x7F]"), 1).otherwise(0)).alias("non_ascii"),
    ).first().asDict()
    feats = tr.call("functions", _quality, store)
    out["quality"] = rows(feats.agg(*[F.avg(c).alias(c) for c in feats.columns[1:]]))
    model, words = tr.call("functions", vocab.fit_vocab, corpus, vocab_size=5000, min_df=2)
    dtv = tr.call("functions", vocab.doc_term_vectors, model, store)
    counts = vector_to_array("doc_vec")
    out["vocab"] = (len(words), dtv.select(
        F.sum(F.aggregate(counts, F.lit(0.0), lambda a, x: a + x))).first()[0])
    sem = tr.call("functions", semdedup.semantic_dedup_pairs, state["emb"], nlist=4, iters=2,
                  tau=0.9)
    out["semantic"] = rows(sem.select(F.least("left_id", "right_id"), F.greatest("left_id", "right_id")))

    store_ratio = (dir_bytes(cur["path"]) - dir_bytes(state["store0"])) / state["raw_bytes"]
    shutil.rmtree(base)
    found = {(a, b) for a, b, _ in pairs}
    planted = state["data"]["planted"]
    recall = sum(p in found for p in planted) / max(1, len(planted))
    state.update(dup_recall=recall, store_ratio=store_ratio)
    counters = {
        "functions.candidate_yield": len(pairs) / max(1, n_cands),
        "functions.dup_recall": recall,
        "sources.written_mb": written / 1e6,
        "sources.read_rows_per_written_row": read_rows / max(1, new_rows),
        "sources.store_ratio": store_ratio,
        "streaming.engine_s": float(np.median(list(engine.values()))),
        "streaming.state_rows": float(state_rows),
    }
    return PassResult(out, batch_s, counters)


def check(state: dict, res: PassResult):
    o, data = res.outputs, state["data"]
    pairs = o["pairs"]
    keys = [(a, b) for a, b, _ in pairs]
    yield "no_pair_twice", len(keys) == len(set(keys))
    texts = data["texts"]
    sample = pairs[:: max(1, len(pairs) // 20)]
    yield "sampled_jaccard_at_threshold", bool(sample) and all(
        jaccard(texts[a], texts[b]) >= THRESHOLD and abs(jaccard(texts[a], texts[b]) - j) < 1e-9
        for a, b, j in sample)
    yield "no_duplicate_keys", o["store"]["rows"] == o["store"]["keys"]
    yield "rows_equal_distinct_keys", o["store"]["rows"] == data["corpus_n"] + data["new_ids"]
    per_file = data["new_ids"] // len(data["files"])
    yield "every_day_stored", o["stored"] == [
        data["corpus_n"] + per_file * (d + 1) for d in range(len(data["files"]))]
    yield "ascii_forced", o["store"]["non_ascii"] == 0


def result_digest(res: PassResult) -> str:
    return digest(res.outputs)


def run_notes(state: dict) -> dict:
    return {"dup_recall": state.get("dup_recall"), "store_ratio": state.get("store_ratio"),
            "planted_pairs": len(state["data"]["planted"]), "raw_csv_bytes": state["raw_bytes"]}
