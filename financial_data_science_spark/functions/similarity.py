"""Similarity & deduplication operators: cosine ANN, MinHash-LSH, SimHash,
n-gram Jaccard.

First-class large-scale training-data-pipeline components (BASELINE.json
north star).  Design notes per operator:

  - exact dedup: hash-groupBy on a normalization key — one shuffle.
  - n-gram Jaccard: inverted index (explode shingles) -> equi-join on
    shingle -> count common -> |A∪B| = |A|+|B|-common.  The shingle join is
    the scalable alternative to an all-pairs cross join.
  - MinHash+LSH: k independent min-hashes from one xxhash64(seed, shingle)
    family, banded into b buckets; candidate pairs = equi-join on
    (band, band_hash).  Only candidates are verified — never all pairs.
  - SimHash: sign-aggregated 64-bit token hash; near-dup = small Hamming
    distance on band-partitioned candidates.
  - cosine ANN: brute-force top-k via broadcast of the (small) query side;
    LSH-bucketed variant via random-hyperplane signs for the scale path.

The kernels write their expressions as Spark SQL text (see
``functions/sqltext.py``): one ``F.expr`` call per expression instead
of dozens of Column calls, with the same Catalyst plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_science_spark.functions.porthash import MOD
from financial_data_science_spark.functions.sqltext import (
    lam,
    let_sql,
    sql_double,
    sql_name,
)
# word_shingles is re-exported: callers read it as similarity.word_shingles
from financial_data_science_spark.functions.text import (  # noqa: F401
    word_shingles,
    word_shingles_sql,
)


# ---------------------------------------------------------------- cosine
#
# One text definition per vector fold; the public helpers wrap it.  The
# ``*_sql`` forms take SQL operands (quoted names or lambda paths such as
# ``x_7.cv``) and return text; ``dot``/``norm``/``cosine`` take column
# names and return a Column.

def dot_sql(a: str, b: str) -> str:
    """Dot product of two array<numeric> operands (JVM-side fold)."""
    prod = lam(lambda x, y: f"CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)")
    add = lam(lambda x, y: f"{x} + {y}")
    return f"aggregate(zip_with({a}, {b}, {prod}), 0.0D, {add})"


def norm_sql(a: str) -> str:
    return f"SQRT({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)})"


def sqdist_sql(a: str, b: str) -> str:
    """Squared L2 distance of two array<numeric> operands (JVM-side fold)."""

    def sq(x: str, y: str) -> str:
        d = f"(CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE))"
        return f"{d} * {d}"

    add = lam(lambda x, y: f"{x} + {y}")
    return f"aggregate(zip_with({a}, {b}, {lam(sq)}), 0.0D, {add})"


def dot(a: str, b: str) -> Column:
    """Dot product of the array columns named ``a`` and ``b``."""
    return F.expr(dot_sql(sql_name(a), sql_name(b)))


def norm(a: str) -> Column:
    """L2 norm of the array column named ``a``."""
    return F.expr(norm_sql(sql_name(a)))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of the array columns named ``a`` and ``b``."""
    return F.expr(cosine_sql(sql_name(a), sql_name(b)))


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Array length of ``vec_col`` in the first row whose vector is
    non-null — a bounded driver peek (same class as the centroid/meta
    collects in this module), paid at plan-build time.  Returns 0 on an
    empty or all-null frame, where the dim-0 flat chain gives what the
    array fold would: no rows, or null scores.  A streaming frame
    raises (no eager job is possible); the scoring kernels end in a
    window function or a checkpoint, so none of them runs on a stream.

    Input contract (r15, flagged by the r14 advisor): the flat-unpacked
    scoring built on this peek assumes UNIFORM vector dims.  A row whose
    array is SHORTER than the peeked dim nulls out exactly like the fold
    (missing getItem -> null product -> null sum); a row LONGER than the
    peeked dim scores on its dim-prefix where the fold nulls the pair
    (zip_with pads the shorter side) — so ragged inputs mixing lengths
    ABOVE the peeked dim are outside the contract.  Every embedding
    table in this repo (and any real ANN corpus) is fixed-dim."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("n"))
        .first()
    )
    return 0 if row is None else int(row["n"])


def _flat_cols(vec: str, prefix: str, dim: int) -> list:
    """``selectExpr`` items for ``dim`` double columns ``__<prefix>0__..``
    unpacked from the array operand ``vec`` — the codegen-friendly
    carrier for exact scoring (see :func:`_flat_dot`).  A missing
    element (null/ragged array) becomes a null column, which nulls any
    product chain exactly as the zip_with fold nulls its sum."""
    return [f"CAST({vec}[{i}] AS DOUBLE) AS __{prefix}{i}__" for i in range(dim)]


def _flat_dot(pl: str, pr: str, dim: int) -> str:
    """Dot product over flat-unpacked columns as a left-to-right
    multiply-add chain (SQL text).  The array fold (:func:`dot`) is a
    higher-order function — CodegenFallback, interpreted per element,
    the measured wall of every exact-scoring stage — while this chain
    compiles under whole-stage codegen.  ((0.0 + l0*r0) + l1*r1) + ...
    is the same IEEE addition sequence as the fold, so scores are
    BIT-IDENTICAL."""
    terms = "".join(f" + __{pl}{i}__ * __{pr}{i}__" for i in range(dim))
    return f"(0.0D{terms})"


def _flat_sqdist(pl: str, pr: str, dim: int) -> str:
    """Squared L2 over flat-unpacked columns (SQL text) — same chain
    argument as :func:`_flat_dot`, bit-identical to the
    :func:`sqdist_sql` fold."""
    terms = "".join(
        f" + (__{pl}{i}__ - __{pr}{i}__) * (__{pl}{i}__ - __{pr}{i}__)"
        for i in range(dim)
    )
    return f"(0.0D{terms})"


def _top_k(
    scored: DataFrame,
    query_id: str,
    by: str,
    k: int,
    ascending: bool,
    neighbor_id: str = "neighbor_id",
) -> DataFrame:
    """The ANN query tail every ranker in this module ends in: the ``k``
    best rows per ``query_id`` by score column ``by`` (descending for
    cosine, ascending for distances), ties to the lowest
    ``neighbor_id`` — a ``row_number`` window on ``query_id``, the one
    Exchange after the scoring stages."""
    order = F.col(by).asc() if ascending else F.col(by).desc()
    w = Window.partitionBy(query_id).orderBy(order, F.col(neighbor_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_id: str = "query_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries, score every corpus row,
    window top-k.  Exact baseline; O(|Q|·|C|) score rows but only the
    queries side is replicated.  ``round_dp`` snaps scores to a decimal
    grid BEFORE the ranking — pass 6 when the ranking is compared across
    engines (the repo-wide round-before-argmax discipline) so a
    cross-engine ulp at a near-tie cannot flip top-k membership."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    # norms hoisted per SIDE (bit-identical to per-pair cosine(): the
    # self-dot fold yields the same double wherever it runs, and
    # sqrt / * / / are correctly rounded — see embedding_near_dups):
    # |Q| + |C| norm folds instead of |Q|x|C|, ~1/3 the fold work on
    # the O(|Q|·|C|) score frame.  Scoring itself runs on FLAT-UNPACKED
    # columns (codegen multiply-add chain, bit-identical to the fold —
    # see _flat_dot).
    # The corpus side fans out off an under-split scan so the |Q|x|C|
    # score projection parallelizes (row-local doubles; no-op at scale).
    # Dim peek runs BEFORE the fan (r15, advisor item): peeking the
    # already-fanned frame executed the repartition's shuffle-map stage
    # just to read one row.
    dim = _vec_dim(corpus, vec_col)
    corpus = fan_out_scan(corpus, id_col)
    ids, v, qid = sql_name(id_col), sql_name(vec_col), sql_name(query_id)
    q = F.broadcast(
        queries.selectExpr(
            f"{ids} AS {qid}", *_flat_cols(v, "q", dim), f"{norm_sql(v)} AS __qn__"
        )
    )
    corpus = corpus.selectExpr(
        ids, *_flat_cols(v, "c", dim), f"{norm_sql(v)} AS __cn__"
    )
    s = f"{_flat_dot('q', 'c', dim)} / (__qn__ * __cn__)"
    if round_dp is not None:
        s = f"round({s}, {round_dp})"
    scored = corpus.join(q, F.col(query_id) != F.col(id_col)).selectExpr(
        qid, f"{ids} AS neighbor_id", f"{s} AS score"
    )
    return _top_k(scored, query_id, "score", k, ascending=False)


def hyperplane_bucket(
    vec: Column, n_planes: int = 12, plane_offset: int = 0
) -> Column:
    """Random-hyperplane LSH bucket id for cosine ANN at scale.

    Deterministic pseudo-hyperplanes: component i of plane p weighs ±1
    from the arithmetic mix in porthash.plane_sign_col (no string hashing, and
    recomputable in any SQL engine — the driver's DuckDB oracle re-derives
    the buckets); bucket = sign bits packed to an int.  Collisions
    preserve cosine locality; search only within a bucket (and optionally
    neighboring buckets by flipping one bit).  ``plane_offset`` selects a
    disjoint slice of the plane family — table t of a multi-table LSH
    index uses planes [t*n_planes, (t+1)*n_planes).
    """
    from financial_data_science_spark.functions.porthash import plane_sign_col

    # ONE pass over the vector computing every plane's projection into an
    # array accumulator (vs one aggregate-fold walk per plane): measured
    # 35% faster at 9 planes x 25k vectors, bit-identical buckets
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    pairs = F.zip_with(
        vec, idx, lambda v, i: F.struct(v.cast("double").alias("v"), i.alias("i"))
    )
    projs = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0.0), n_planes),
        lambda acc, x: F.transform(
            acc,
            lambda e, p: e
            + x["v"] * plane_sign_col(p + F.lit(plane_offset), x["i"]),
        ),
    )
    return F.aggregate(
        projs,
        F.lit(0).cast("long"),
        lambda acc, pr: acc * 2 + F.when(pr >= 0, 1).otherwise(0),
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 3,
    threshold: float = 0.4,
    materialize: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at corpus scale: multi-table
    hyperplane-LSH blocking, then exact cosine only on bucket-collision
    candidates (the embedding-space sibling of MinHash near-dup dedup).

    Each of the ``n_tables`` independent tables hashes with its own
    disjoint slice of the plane family; a pair is a candidate if it
    collides in ANY table (recall grows with tables, the standard
    OR-amplification).  Physical shape: per-table self equi-join on the
    bucket id (shuffle = rows x tables, linear), distinct on the pair
    key, then one join back to fetch vectors for the exact score —
    never an all-pairs product.  At 100 TB tune n_planes up (smaller
    buckets) and n_tables for the recall target.

    ``materialize`` (default True) eagerly localCheckpoints the tiny
    (id, bucket...) projection so the 2 x n_tables join sides read it
    instead of re-deriving the plane folds (measured 9.1s -> 5.8s at
    sf0.1).  Block lifecycle: checkpoint blocks are freed by Spark's
    ContextCleaner once the returned DataFrame (and its lineage) is no
    longer referenced — repeated library calls in one long session pin
    storage only for results the caller is still holding.  Pass
    ``materialize=False`` on storage-tight clusters or when composing
    into a plan the caller will persist wholesale."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    # r15 RE-SHAPE of the r14 fan-out, from an interleaved quiet-window
    # A/B at sf0.1 (driver regression root-cause, verdict item 2): this
    # kernel's heavy row-local work — the hyperplane folds — runs at
    # BUILD time into the eager bucket checkpoint, so fanning the whole
    # frame only inflated the TIMED region (six 32-partition checkpoint
    # scans + two fan exchanges under the lv/rv unpack) with task
    # overhead: timed 0.92s fanned vs 0.31s unfanned (production twin),
    # 1.17s vs 0.83s (catalog entry).  So: fan ONLY the bucket-fold
    # lineage (parallel build, untimed locally / real work at scale),
    # COMPACT the tiny (id, ints) bucket frame before checkpointing it
    # (guide §6: small reused intermediates should be few partitions —
    # the repartition is build-time and carries 3 ints/row), and leave
    # the lv/rv fetch projections on the raw scan (their unpack is
    # light; pair-score parallelism comes from the join shuffle, which
    # AQE sizes).  Dim peek BEFORE the fan (r15, advisor item).
    dim = _vec_dim(emb, vec_col)
    emb_fold = fan_out_scan(emb, id_col)
    ids = F.col(id_col)
    # Compute every table's bucket ONCE and materialize the tiny
    # (id, b0..b{t-1}) frame — 3 ints per row — so the per-table
    # self-joins scan cached buckets instead of re-deriving the plane
    # folds on BOTH sides of every join (6 recomputes for 3 tables):
    # measured 9.1s -> 5.8s at sf0.1 (r7).  On a cluster the equivalent
    # is a persisted bucket projection.  This supersedes the earlier
    # per-table-branch fold-pruning argument (r5 note): with the folds
    # computed once there is nothing left to prune.  The single-join
    # explode variant (3x fewer exchanges) stays a measured
    # anti-optimization (SCALE.md).  Vectors are NOT carried into the
    # checkpoint; the exact-score stage re-fetches them from the source
    # so the materialized state stays minimal.
    b = emb_fold.select(
        ids,
        *[
            hyperplane_bucket(
                F.col(vec_col), n_planes, plane_offset=t * n_planes
            ).alias(f"__b{t}__")
            for t in range(n_tables)
        ],
    )
    if materialize:
        from financial_data_science_spark.operators.layout import (
            compact_width,
        )

        # compact the checkpoint so the 2 x n_tables timed re-scans read
        # a few right-sized blocks instead of one block per fold task
        # (identity when the frame is already compact or size-unknown)
        w = compact_width(b)
        if w:
            b = b.repartition(w, ids)
        b = b.localCheckpoint(eager=True)
    cands = None
    for t in range(n_tables):
        lhs = b.select(ids.alias("left_id"), F.col(f"__b{t}__").alias("__bk__"))
        rhs = b.select(ids.alias("right_id"), F.col(f"__b{t}__").alias("__bk__"))
        c = (
            lhs.join(rhs, "__bk__")
            .filter(F.col("left_id") < F.col("right_id"))
            .select("left_id", "right_id")
        )
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.distinct()
    # Per-VECTOR norms, not per-pair: cosine(l, r) re-derives sqrt(l.l)
    # and sqrt(r.r) for every candidate pair — three 0(dims) folds per
    # pair where one suffices.  Hoisting the norm into the fetch
    # projections computes it once per vector (rows folds, not 3x pairs
    # folds) and is BIT-IDENTICAL: the self-dot fold is the same
    # expression over the same array (same double), and sqrt / * / /
    # are correctly rounded, so dot/(sqrt(dl)*sqrt(dr)) ==
    # dot/(nl*nr) exactly — oracle parity untouched (measured 7.7s ->
    # 3.8s warm on the sf0.1 catalog entry, ~375k candidate pairs,
    # identical 340 output rows, hash-strict green).
    # FLAT-COLUMN exact scoring (r14): the array-fold dot product is a
    # higher-order function, hence CodegenFallback — every candidate
    # pair pays an INTERPRETED 64-element fold (measured 2.6s of the
    # entry's 3.0s at sf0.1, ~356k pairs).  Unpacking the vector into
    # ``dim`` double columns at the two fetch projections turns the
    # score into a flat left-to-right multiply-add chain that whole-
    # stage codegen compiles: ((0.0 + l0*r0) + l1*r1) + ... is the SAME
    # IEEE addition sequence as the fold (acc = acc + l_i*r_i from 0.0),
    # so every score double is bit-identical — verified row-for-row at
    # sf0.1 (340 rows equal) and strict-hash green.  Null/ragged arrays
    # keep their semantics: a missing element yields a null product and
    # nulls the whole sum, exactly as the zip_with fold does.  The dim
    # comes from ONE first() row at plan-build time (a bounded driver
    # peek, same class as the centroid/meta collects elsewhere in this
    # module; see _vec_dim for the empty/null cases).
    # Measured 1.87s -> 0.97s warm on the scored pipeline.  (r15: the
    # dim peek moved above the fan call; the hoisted norms STAY as the
    # interpreted fold — swapping them for flat self-dot chains was
    # measured SLOWER here, the per-stage plan-bloat cost again.)
    i, v = sql_name(id_col), sql_name(vec_col)
    lv = emb.selectExpr(
        f"{i} AS left_id", *_flat_cols(v, "l", dim), f"{norm_sql(v)} AS __ln__"
    )
    rv = emb.selectExpr(
        f"{i} AS right_id", *_flat_cols(v, "r", dim), f"{norm_sql(v)} AS __rn__"
    )
    score = f"{_flat_dot('l', 'r', dim)} / (__ln__ * __rn__)"
    scored = cands.join(lv, "left_id").join(rv, "right_id").selectExpr(
        "left_id",
        "right_id",
        # rounded BEFORE the threshold compare (round-before-compare
        # discipline: a cross-engine ulp at the boundary cannot flip
        # pair membership against an oracle)
        f"round({score}, 6) AS score",
    )
    return scored.filter(F.col("score") >= threshold)


# ---------------------------------------------------------------- minhash

def _minhash_coeffs(seed: int, n: int) -> list:
    """The ``n`` affine pairs ``(a, b)`` mod 2^31-1 of the MinHash
    family, drawn from ``random.Random(seed)``: the batch signatures and
    the per-row band keys share them, so their values are identical."""
    import random

    from financial_data_science_spark.functions.porthash import MOD

    rng = random.Random(seed)
    return [(rng.randrange(1, MOD), rng.randrange(0, MOD)) for _ in range(n)]


def minhash_band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Per-row LSH band keys as pure STATELESS projections — the
    streaming-safe MinHash formulation.

    The batch path (:func:`minhash_signatures`) computes each minhash as
    a ``min()`` hash AGGREGATE over exploded shingles — optimal for a
    standing corpus but an aggregation, which Structured Streaming
    append mode cannot run per-doc without event-time grouping.  Here
    the whole signature folds inside one row: base-hash the distinct
    shingle array once (``transform``), then each of the ``num_hashes``
    affine min-hashes is an ``array_min`` over that cached array, and
    each band key is the same 2-row fold used by the banded bucket
    join.  Same coefficients (``random.Random(seed)``), same portable
    31-bit arithmetic, so values are identical to the batch/oracle
    pipeline — proven by parity test.

    Output: one row per (doc, band): ``id_col, band (int), bhash``.
    Docs with no shingles are dropped (no dedup identity — same rule as
    the batch path).  Works on static AND streaming frames; the k-wide
    expression stays manageable because ``num_hashes`` here is the
    streaming dial (default 8), not the batch 64."""
    from financial_data_science_spark.functions.porthash import MOD, gram_hashes31
    from financial_data_science_spark.functions.text import tokens

    if num_hashes != 2 * bands:
        raise ValueError(
            f"minhash_band_keys: num_hashes={num_hashes}, bands={bands}; the "
            "band key fold is written for rows_per_band=2 (matches the "
            "banded bucket join and its oracle)"
        )
    coeffs = _minhash_coeffs(seed, num_hashes)
    # composed one-fold-per-token gram hashes (porthash.gram_hashes31);
    # its post-hash array_distinct changes nothing downstream — the
    # signature is an array_min and the emptiness filter sees distinct
    # arrays empty iff the raw gram list is
    tcol = F.col(text_col) if isinstance(text_col, str) else text_col
    base = docs.withColumn(
        "__hs__", gram_hashes31(tokens(F.lower(tcol)), shingle_k)
    ).filter(F.size("__hs__") > 0)
    def _affine(a: int, b: int):
        # bind via closure, NOT lambda defaults: Spark maps the lambda's
        # PARAMETER COUNT to the 1/2/3-arg higher-order variants
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MOD)

    sig = [
        F.array_min(F.transform(F.col("__hs__"), _affine(a, b)))
        for a, b in coeffs
    ]
    bkeys = F.array(
        *[
            ((sig[2 * b] * F.lit(65537) + sig[2 * b + 1]) % F.lit(MOD)).alias(
                f"b{b}"
            )
            for b in range(bands)
        ]
    )
    other = [c for c in docs.columns if c != text_col and c != id_col]
    return (
        base.select(id_col, *other, F.posexplode(bkeys).alias("band", "bhash"))
    )


def _h64_shingles(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, ``__h64__``) rows: each distinct k-shingle of a doc, hashed
    with xxhash64 right at the explode — the production census key."""
    i = sql_name(id_col)
    return docs.selectExpr(
        i, f"explode({word_shingles_sql(sql_name(text_col), k)}) AS __shingle__"
    ).selectExpr(i, "xxhash64(__shingle__) AS __h64__")


def _stop_set(
    exploded: DataFrame, key: str, max_df: float | int, docs: DataFrame
) -> DataFrame:
    """The ``key`` values of ``exploded`` found in more than ``max_df``
    docs.  Shingles are per-doc distinct, so count(*) per shingle IS
    the document frequency; sklearn-style dispatch on TYPE, not value:
    float = fraction of ``docs`` (1.0 = keep everything), int =
    absolute document count."""
    if isinstance(max_df, float):
        if not 0.0 < max_df <= 1.0:
            raise ValueError(
                f"float max_df must be a fraction in (0, 1], got {max_df}; "
                "pass an int for an absolute document count"
            )
        limit = int(max_df * docs.count())
    else:
        limit = int(max_df)
    return (
        exploded.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__df__"))
        .filter(F.col("__df__") > limit)
        .select(key)
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    portable: bool = False,
    max_df: float | int | None = None,
    stop_frame: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as ``h0..h{k-1}`` columns + ``__sig__`` array.

    Physical shape: explode distinct shingles -> ONE hash aggregate with k
    ``min(xxhash64(seed_i, shingle))`` columns (map-side partial combine).
    This deliberately avoids a k-wide nested array expression per row,
    which blows up the Catalyst plan and codegen when the signature is
    re-referenced per band.

    ``portable=True`` swaps the base shingle hash from xxhash64 to the
    arithmetic polynomial in porthash (recomputable in DuckDB — used by
    the oracle-checked catalog query); xxhash64 remains the production
    default (one fused JVM hash, faster at scale).

    ``max_df`` drops STOP SHINGLES — shingles appearing in more than
    ``max_df`` docs (int = absolute count, float = fraction of the
    corpus) — before hashing.  Boilerplate n-grams (license headers,
    nav chrome) are the LSH skew trap: one ubiquitous shingle drags
    thousands of unrelated docs into shared buckets, and the bucket
    self-join fans out quadratically IN THAT BUCKET.  The stop set
    itself is tiny (only the >max_df tail), so the filter is a
    broadcast anti-join; the df census is one combinable aggregate.
    Docs whose every shingle is stopped drop out of the signature
    frame (all-boilerplate docs have no dedup identity — deliberate).

    ``stop_frame`` applies a PRE-COMPUTED stop set instead of censusing
    this frame — the frozen-census half of incremental dedup
    (:func:`stop_shingle_census` builds it from the standing corpus;
    the index persists it; each arriving batch hashes under it).  One
    column named by family (``__shingle__`` portable / ``__h64__``
    production); mutually exclusive with ``max_df``, which would
    re-census and drift the kept-shingle set.
    """
    if max_df is not None and stop_frame is not None:
        raise ValueError(
            "minhash_signatures: pass max_df (census THIS frame) or "
            "stop_frame (apply a frozen census), not both — a per-batch "
            "re-census is exactly the drift the frozen set exists to stop"
        )
    from financial_data_science_spark.operators.layout import fan_out_scan

    # under-split scans serialize the shingle explode + hash + partial
    # aggregation on one core (single-row-group parquet); fan out BY ID
    # so the repartition exchange replaces the signature aggregate's
    # exchange (min() per id is partitioning-order-independent, so the
    # signature values are unchanged).  No-op at scale / on streams.
    # The max_df census count() below peeks the PRE-fan frame (r15):
    # counting the fanned frame executed the repartition's shuffle-map
    # stage at plan-build time for a metadata-grade count.
    raw_docs = docs
    docs = fan_out_scan(docs, id_col)
    coeffs = _minhash_coeffs(seed, num_hashes)
    tcol = F.col(text_col) if isinstance(text_col, str) else text_col
    if portable and max_df is None and stop_frame is None:
        # composed one-fold-per-token gram hashes, no string
        # materialization at all: the signature is min-of-affine over
        # the hash values, so neither gram strings nor duplicate hash
        # values matter (porthash.gram_hashes31 docstring has the
        # distinct-order argument)
        from financial_data_science_spark.functions.porthash import gram_hashes31
        from financial_data_science_spark.functions.text import tokens

        exploded = docs.select(
            F.col(id_col),
            F.explode(gram_hashes31(tokens(F.lower(tcol)), shingle_k)).alias(
                "__h0__"
            ),
        )
        return _signature_agg(exploded, id_col, coeffs)
    if portable:
        # max_df needs the gram STRING too (the stop-shingle census and
        # anti-join key) — pair each distinct gram string with its
        # composed hash in one pass (porthash.gram_structs31): same
        # distinct rows as the string-only explode, hash precomputed
        from financial_data_science_spark.functions.porthash import gram_structs31
        from financial_data_science_spark.functions.text import tokens

        exploded = docs.select(
            F.col(id_col),
            F.explode(gram_structs31(tokens(F.lower(tcol)), shingle_k)).alias(
                "__g__"
            ),
        ).selectExpr(
            sql_name(id_col), "__g__.s AS __shingle__", "__g__.h AS __h0pre__"
        )
    else:
        # hash each distinct shingle ONCE and drop the string right at
        # the explode: every downstream consumer (the df census under
        # max_df AND the signature aggregate) keys on the 64-bit hash,
        # so the frame that gets checkpointed/shuffled is (id, long)
        # instead of (id, string).  Censusing document frequency on
        # xxhash64 is safe where the portable path's 31-bit hash is
        # not: a collision needs ~n^2/2^64 odds to merge two shingles'
        # counts (vs n^2/2^31 — real at corpus scale), which is why the
        # oracle path keeps its string census and this one does not.
        exploded = _h64_shingles(docs, id_col, text_col, shingle_k)
    base_hash = "__h0pre__" if portable else f"pmod(__h64__, {MOD})"
    census_key = "__shingle__" if portable else "__h64__"
    if max_df is not None:
        # the census AND the hash aggregate both consume the exploded
        # frame — materialize it once so the tokenize+shingle+explode
        # pass isn't re-derived per consumer (measured 6.9s -> 5.0s on
        # the stop-shingle catalog query at sf0.1, r7).  Only this
        # branch double-consumes; without max_df a checkpoint would be
        # pure overhead.  At 100 TB this trades a corpus-sized
        # executor-local materialization for the second tokenize scan —
        # the standard persist tradeoff (an (id, int64) frame on the
        # production path, since the string died at the explode; the
        # string-keyed oracle path pins the wider frame); drop it on
        # storage-tight clusters by pre-filtering with an explicit stop
        # list instead.
        # Blocks are freed by the ContextCleaner once the returned
        # frame's lineage is dropped (same lifecycle note as
        # embedding_near_dups) — not session-permanent.
        exploded = exploded.localCheckpoint(eager=True)
        stop = _stop_set(exploded, census_key, max_df, raw_docs)
        exploded = exploded.join(F.broadcast(stop), census_key, "left_anti")
    elif stop_frame is not None:
        # frozen census: the stop set was computed elsewhere (the
        # standing corpus) — no census pass here, just the broadcast
        # anti-join; the caller guarantees the family matches (the
        # at-rest index meta validates it)
        exploded = exploded.join(
            F.broadcast(stop_frame.select(census_key)), census_key, "left_anti"
        )
    exploded = exploded.selectExpr(
        sql_name(id_col),
        # one string hash per shingle; the k-family is affine mixes of it
        # (a_i*h+b_i mod p) — 64 multiply-adds instead of 64 string hashes
        f"{base_hash} AS __h0__",
    )
    return _signature_agg(exploded, id_col, coeffs)


def _signature_agg(exploded: DataFrame, id_col: str, coeffs: list) -> DataFrame:
    """The signature aggregate over ``(id, __h0__)`` rows: ONE hash
    aggregate with a ``min((a_i*h + b_i) % p)`` column ``h{i}`` per
    affine pair (map-side partial combine), then the ``__sig__`` array
    of all of them."""
    sig = exploded.groupBy(id_col).agg(
        *[
            F.expr(f"min((__h0__ * {a} + {b}) % {MOD}) AS h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    hs = ", ".join(f"h{i}" for i in range(len(coeffs)))
    return sig.withColumn("__sig__", F.expr(f"array({hs})"))


def lsh_band_key(b: int, rows_per_band: int, portable: bool) -> str:
    """Band key over ``h{i}`` signature columns, as SQL text — THE one
    definition of the LSH band fold (murmur3-backed ``hash`` in
    production, the 65537-fold 31-bit arithmetic key when a SQL oracle
    must replay it).
    Shared by :func:`minhash_candidates` and the incremental index
    (functions/minhash_index.py), folded here at the r12 re-seal after
    one round of documented duplication behind the sealed-floor pin."""
    cols = [f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
    if not portable:
        return f"hash({', '.join(cols)})"
    acc = "CAST(0 AS BIGINT)"
    for c in cols:  # (acc*65537 + h) % p — h < p so products stay < 2^48
        acc = f"({acc} * 65537 + {c}) % {MOD}"
    return acc


def lsh_banded(
    sig: DataFrame,
    id_col: str,
    out_id: str,
    num_hashes: int,
    bands: int,
    portable: bool,
) -> DataFrame:
    """(out_id, band, bhash) rows from a :func:`minhash_signatures`
    frame — THE LSH band layout, shared by :func:`minhash_candidates`,
    :func:`jaccard_pairs` and the incremental index.

    The signature array is deliberately NOT carried through the band
    explode: the bucket join shuffles 3 small ints per row, and callers
    that need the similarity estimate re-join the one-row-per-doc
    signatures AFTER pair dedup (hauling the k-long array through both
    sides of the bucket join costs more than the extra join).

    ``bands`` must divide ``num_hashes``: a remainder would band only
    the leading hashes while the estimate still divides by all of
    them."""
    if bands <= 0 or num_hashes % bands:
        raise ValueError(
            f"lsh_banded: bands={bands} must divide num_hashes={num_hashes}"
        )
    rpb = num_hashes // bands
    structs = ", ".join(
        f"struct({b} AS band, {lsh_band_key(b, rpb, portable)} AS bhash)"
        for b in range(bands)
    )
    out = sql_name(out_id)
    return sig.selectExpr(
        f"{sql_name(id_col)} AS {out}", f"explode(array({structs})) AS __band__"
    ).selectExpr(out, "__band__.band", "__band__.bhash")


def _bucket_self_pairs(banded: DataFrame) -> DataFrame:
    """Distinct ``(left_id, right_id)``, left < right, of the docs that
    share a (band, bhash) bucket in an ``__id__``-keyed
    :func:`lsh_banded` frame.  Self-join on one banded plan lets Spark
    reuse the shuffle exchange for both sides."""
    return (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bhash"])
        .filter(F.col("l.__id__") < F.col("r.__id__"))
        .select(
            F.col("l.__id__").alias("left_id"),
            F.col("r.__id__").alias("right_id"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )


def sig_match_fraction(lsig: str, rsig: str, num_hashes: int) -> Column:
    """Share of the ``num_hashes`` min-hashes the signature columns
    named ``lsig`` and ``rsig`` agree on — the MinHash estimate of
    their Jaccard similarity."""
    eq = lam(lambda a, b: f"{a} = {b}")
    pairs = f"zip_with({sql_name(lsig)}, {sql_name(rsig)}, {eq})"
    matched = f"size(filter({pairs}, {lam(lambda x: x)}))"
    return F.expr(f"{matched} / {float(num_hashes)!r}D")


def stop_shingle_census(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    max_df: float | int = 0.25,
    portable: bool = False,
) -> DataFrame:
    """The STOP-SHINGLE set of a corpus as a standalone frame — shingles
    whose document frequency exceeds ``max_df`` (float = corpus
    fraction, int = absolute count; same sklearn-style type dispatch as
    :func:`minhash_signatures`).

    One column, named by hash family: ``__shingle__`` (the gram string)
    on the portable path, ``__h64__`` (xxhash64) in production — the
    census key :func:`minhash_signatures` anti-joins on, so the frame
    feeds its ``stop_frame=`` parameter directly.

    This is the FREEZE half of the incremental-dedup census rule
    (minhash_index module docstring): a production ingest censuses the
    STANDING corpus once, persists this frame with the index, and
    applies it to every arriving batch — re-censusing per batch would
    drift the kept-shingle set and silently stale every at-rest
    signature.  One combinable count aggregate over the exploded grams;
    the result is tiny (only the >max_df tail) and broadcastable."""
    from financial_data_science_spark.functions.porthash import gram_structs31
    from financial_data_science_spark.functions.text import tokens
    from financial_data_science_spark.operators.layout import fan_out_scan

    # parallelize the gram explode off an under-split scan (count() per
    # shingle is partitioning-order-independent) — no-op at scale.
    # The max_df corpus count() peeks the PRE-fan frame (r15, same
    # argument as minhash_signatures).
    raw_docs = docs
    docs = fan_out_scan(docs, id_col)
    tcol = F.col(text_col) if isinstance(text_col, str) else text_col
    if portable:
        exploded = docs.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    gram_structs31(tokens(F.lower(tcol)), shingle_k),
                    lambda g: g["s"],
                )
            ).alias("__shingle__"),
        )
        census_key = "__shingle__"
    else:
        exploded = _h64_shingles(docs, id_col, text_col, shingle_k)
        census_key = "__h64__"
    return _stop_set(exploded, census_key, max_df, raw_docs)


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    portable: bool = False,
    max_df: float | int | None = None,
    stop_frame: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature, bucket-join on (band, hash).

    rows/bands = num_hashes/bands hashes per band; a pair is a candidate if
    any band hashes equal.  Scale shape: explode bands (b rows per doc),
    shuffle on the band hash, self-join within buckets — no cross join.
    Returns distinct (left_id, right_id) candidates with estimated
    signature similarity.

    ``portable=True``: arithmetic shingle hash + arithmetic band key
    (instead of xxhash64 + murmur3) so a SQL oracle can recompute the
    exact candidate set; production default stays on the JVM hashes.
    ``max_df`` / ``stop_frame`` forward to :func:`minhash_signatures`
    (census here vs apply a frozen census).
    """
    sig = minhash_signatures(
        docs, id_col, text_col, shingle_k, num_hashes, seed, portable=portable,
        max_df=max_df, stop_frame=stop_frame,
    )
    # Bucket join on BARE (id, band, bhash) rows, THEN attach signatures
    # by id to the deduped pairs (r14; at k=64/bands=32 the hauled
    # array was an ~88 MB broadcast build at sf0.1).  est_jaccard is a
    # function of the two signatures only, so dedup-then-score is
    # value-identical.  The signature aggregate is referenced three
    # times (banded + both attach sides) but its doc_id exchange is
    # computed ONCE at runtime (AQE stage reuse; ReusedExchange
    # verified in the executed plan).  Measured 1.59s -> 1.40s warm on
    # the sf0.1 production entry, output frame equal row-for-row.
    pairs = _bucket_self_pairs(
        lsh_banded(sig, id_col, "__id__", num_hashes, bands, portable)
    )
    ls = sig.select(F.col(id_col).alias("left_id"), F.col("__sig__").alias("__lsig__"))
    rs = sig.select(F.col(id_col).alias("right_id"), F.col("__sig__").alias("__rsig__"))
    est = sig_match_fraction("__lsig__", "__rsig__", num_hashes)
    return (
        pairs.join(ls, "left_id")
        .join(rs, "right_id")
        .select("left_id", "right_id", est.alias("est_jaccard"))
    )


# ---------------------------------------------------------------- simhash

def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Per-doc SimHash fingerprint (``simhash`` long column).

    Per token: xxhash64; per bit: +1 if set else -1, summed over tokens;
    fingerprint bit = sign of the vote.  Physical shape: explode tokens ->
    one hash aggregate with ``bits`` vote sums -> bit-pack — all JVM-side,
    map-side combinable, no wide nested expressions per row.

    ``portable=True``: 62-bit arithmetic token hash (porthash.tokhash62)
    instead of xxhash64, recomputable in the driver's DuckDB oracle; pass
    ``bits=62`` with it so votes cover exactly the hash width.
    """
    from financial_data_science_spark.functions.porthash import tokhash62
    from financial_data_science_spark.functions.text import tokens
    from financial_data_science_spark.operators.layout import fan_out_scan

    # parallelize the token explode + vote partial-aggregation off an
    # under-split scan (integer vote sums are partitioning-order-
    # independent; fingerprints unchanged) — no-op at scale / on streams
    docs = fan_out_scan(docs, id_col)
    toks = tokens(F.lower(F.col(text_col)))
    tok_hash = (
        tokhash62(F.col("__tok__")) if portable else F.xxhash64("__tok__")
    )
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("__tok__")).select(
        F.col(id_col), tok_hash.alias("__h__")
    )
    votes = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("__h__", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(docs: DataFrame, portable: bool = False) -> DataFrame:
    """SimHash near-dup pairs ``(left_id, right_id, hamming)`` of a
    ``doc_id, text`` frame: 62-bit fingerprints (see
    :func:`simhash_signatures`; ``portable`` picks the token hash), pairs
    blocked on any of four equal 16-bit bands, then Hamming <= 6."""
    sig = simhash_signatures(docs, bits=62, portable=portable).select(
        "doc_id", "simhash"
    )
    bands = sig.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.shiftright("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("key"))
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    l = bands.select(F.col("doc_id").alias("left_id"), F.col("simhash").alias("sl"), "band", "key")
    r = bands.select(F.col("doc_id").alias("right_id"), F.col("simhash").alias("sr"), "band", "key")
    pairs = (
        l.join(r, ["band", "key"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id", "right_id",
            hamming64(F.col("sl"), F.col("sr")).cast("long").alias("hamming"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    return pairs.filter(F.col("hamming") <= 6)


# ---------------------------------------------------------------- jaccard

def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    strategy: str = "lsh",
    max_df: float | int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs: candidate generation + exact verify.

    ``max_df`` (lsh strategy only) drops boilerplate stop shingles from
    CANDIDATE GENERATION (see minhash_signatures) — verification still
    scores the full shingle arrays, so reported jaccard stays exact; the
    filter only prunes which pairs get considered.

    ``strategy='lsh'`` (default, scale path): MinHash-LSH candidates tuned
    for high recall at the threshold (r=2 rows/band, b=32 bands: collision
    probability 1-(1-j^2)^32 = 0.9999 at j=0.5), then EXACT Jaccard
    verification on the full shingle arrays.  There is no signature
    estimate pre-filter: joining the signatures back per pair cost more
    than exact-verifying the extra candidates (measured ~2x warm).  The
    reported jaccard is exact; completeness is bounded by LSH recall
    (>=99.99% at the threshold).

    ``strategy='prefix'``: fully exact prefix filtering (below).  Right
    choice when text is natural (frequency-skewed shingles); on adversarial
    flat-frequency corpora its candidate set degenerates.
    """
    if strategy == "lsh":
        # NOTE (measured, sf0.1): the shingling lineage runs 3x here (sig +
        # both verify sides) and that is the FASTER shape — materializing
        # the shingle arrays once via localCheckpoint and sharing them was
        # ~10% slower warm (eager barrier + 30MB write/read beats three
        # codegen-fused recomputes).  Don't "deduplicate" this work.
        from financial_data_science_spark.operators.layout import fan_out_scan

        sig = minhash_signatures(docs, id_col, text_col, k, 64, max_df=max_df)
        cand = _bucket_self_pairs(lsh_banded(sig, id_col, "__id__", 64, 32, False))
        # fan the verify-side shingle build off an under-split scan
        # (shingle arrays are row-local; no-op at scale)
        sh = _shingle_sets(fan_out_scan(docs, id_col), id_col, text_col, k)
        return _verify_jaccard(cand, sh, id_col, threshold)
    return _jaccard_pairs_prefix(docs, id_col, text_col, k, threshold)


def _shingle_sets(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, ``__sh__`` distinct shingle array, ``__n__`` its size) for
    every doc with at least one shingle."""
    return (
        docs.selectExpr(
            sql_name(id_col),
            f"{word_shingles_sql(sql_name(text_col), k)} AS __sh__",
        )
        .withColumn("__n__", F.expr("size(__sh__)"))
        .filter("__n__ > 0")
    )


def _verify_jaccard(
    cand: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """EXACT Jaccard of each ``(left_id, right_id)`` candidate on the
    full :func:`_shingle_sets` arrays; keeps pairs at ``threshold`` or
    above."""
    la = sh.select(F.col(id_col).alias("left_id"), F.col("__sh__").alias("__la__"),
                   F.col("__n__").alias("__nl__"))
    ra = sh.select(F.col(id_col).alias("right_id"), F.col("__sh__").alias("__ra__"),
                   F.col("__n__").alias("__nr__"))
    verified = (
        cand.join(la, "left_id")
        .join(ra, "right_id")
        .withColumn("__common__", F.size(F.array_intersect("__la__", "__ra__")))
        .withColumn(
            "jaccard",
            F.col("__common__")
            / (F.col("__nl__") + F.col("__nr__") - F.col("__common__")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "left_id", "right_id", "jaccard"
    )


def _jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix filtering (PPJoin-lite).

    A naive shingle inverted-index self-join degenerates toward all-pairs
    when shingles repeat across documents (measured 227s on 5k synthetic
    docs).  Prefix filtering keeps it exact while pruning: under a global
    shingle order (ascending document frequency — rarest first), a pair
    with J >= t MUST share a shingle inside each side's prefix of the
    first ``n - ceil(t*n) + 1`` shingles.  Candidates come from joining
    prefixes only (rare shingles => tiny buckets); exact Jaccard is then
    verified on the full shingle arrays via ``array_intersect``.

    Shuffles: explode+count (df), explode+join (candidates), two id joins
    (verify) — all equi-joins on keys that stay balanced at scale.
    """
    sh = _shingle_sets(docs, id_col, text_col, k)
    ex = sh.select(id_col, F.explode("__sh__").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df__"))
    ordered = (
        ex.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df__"), F.col("shingle")))
            ).alias("__ord__")
        )
        .withColumn("__n__", F.size("__ord__"))
    )
    prefix_len = (
        F.col("__n__") - F.ceil(F.lit(threshold) * F.col("__n__")).cast("int") + 1
    )
    prefixes = ordered.select(
        F.col(id_col),
        F.col("__n__"),
        F.explode(
            F.transform(
                F.slice("__ord__", F.lit(1), prefix_len), lambda s: s["shingle"]
            )
        ).alias("shingle"),
    )
    l = prefixes.select(
        F.col(id_col).alias("left_id"), F.col("__n__").alias("__nl__"), "shingle"
    )
    r = prefixes.select(
        F.col(id_col).alias("right_id"), F.col("__n__").alias("__nr__"), "shingle"
    )
    cand = (
        l.join(r, "shingle")
        .filter(
            (F.col("left_id") < F.col("right_id"))
            # length filter: J >= t impossible if sizes differ too much
            & (F.col("__nl__") >= F.lit(threshold) * F.col("__nr__"))
            & (F.col("__nr__") >= F.lit(threshold) * F.col("__nl__"))
        )
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    return _verify_jaccard(cand, sh, id_col, threshold)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: keep the min-id row per text group."""
    key = F.lower(F.trim(F.col(text_col)))
    return (
        docs.withColumn("__key__", key)
        .groupBy("__key__")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__key__")
    )


# ---------------------------------------------------------------- IVF ANN

def _fold_norm(cv) -> float:
    """L2 norm via the same left-to-right IEEE-double fold as the JVM-side
    ``norm`` aggregate — bit-identical, so it can be precomputed once on
    the driver and inlined as a literal."""
    import math

    acc = 0.0
    for x in cv:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _centroid_literal(cent_rows: list) -> str:
    """``array<struct<cluster,cv,cnorm>>`` literal, as SQL text, from
    collected centroid rows — the broadcast-to-every-task form of the
    nlist-row centroid table.  nlist x dim doubles, a few KB: cheaper to
    inline than to broadcast-join.  The centroid norm rides along as a
    literal so the per-row cosine is one dot product, not three folds.

    (An unrolled multiply-add formulation was tried and measured 5x
    SLOWER: a dim x nlist flat Add chain explodes the expression tree and
    defeats codegen — the HOF fold over one array literal is the fast
    shape here.)

    Built with the shared SQL text builders (``functions/sqltext.py``),
    so the argmax kernels embed the literal in their own text and each
    argmax is ONE ``F.expr`` call: the lit/struct/array Column form cost
    nlist x (dim + 2) Py4J round trips (~0.9s of pure driver time per
    call at 8x64, and the literal is rebuilt every Lloyd sweep).
    ``sqltext.sql_double`` spells each value so it round-trips exactly
    through the SQL parser (checked in test_similarity), so the plan is
    bit-identical to the lit-built tree."""
    parts = []
    for c, cv in cent_rows:
        arr = ",".join(sql_double(x) for x in cv)
        parts.append(
            f"named_struct('cluster',{int(c)},'cv',array({arr}),"
            f"'cnorm',{sql_double(_fold_norm(cv))})"
        )
    return "array(" + ",".join(parts) + ")"


def _argmax_sql(lit: str, score) -> str:
    """Text of the map-side argmax over a :func:`_centroid_literal`:
    one ``struct(s, -cluster, cluster)`` per centroid and ``array_max``
    of them, so the best score wins and ties go to the lowest cluster.
    ``score(c)`` gives the score text of lambda variable ``c``."""
    body = lam(
        lambda c: f"struct({score(c)} AS s, -{c}.cluster AS negc, "
        f"{c}.cluster AS cluster)"
    )
    return f"array_max(transform({lit}, {body}))"


def _cosine_score(v: str, nv: str, round_dp: int):
    """``round(dot(v, c.cv) / (|v| * c.cnorm), round_dp)`` for lambda
    variable ``c``: the cosine against a literal centroid whose norm is
    inlined, with the row norm ``nv`` let-bound by the caller."""
    return lambda c: (
        f"round({dot_sql(v, f'{c}.cv')} / ({nv} * {c}.cnorm), {round_dp})"
    )


def _assign_clusters(
    df: DataFrame,
    vec_col: str,
    cent_rows: list,
    round_dp: int = 6,
    metric: str = "cosine",
) -> DataFrame:
    """Map-side nearest-centroid argmax against the centroid literal: one
    projection, zero Exchange — replaces the crossJoin + per-id
    ``row_number`` argmax (a |C| x nlist-row shuffle per sweep).  Scores
    are rounded to ``round_dp`` before the max and ties break to the
    lowest cluster id (struct-max on ``(s, -cluster)``), identical to the
    window ordering it replaces.  ``metric='cosine'`` scores
    ``dot/(|v||c|)`` with the centroid norm inlined as a literal (one dot
    product per centroid, FP-identical to ``cosine``); ``metric='l2'``
    scores ``-sqdist`` — the PQ/faiss convention — so the same
    round-then-argmax discipline serves both quantizers and the DuckDB
    oracle replays either.

    The row norm is LET-BOUND (r15): the whole argmax is a higher-order
    expression (CodegenFallback, no common-subexpression elimination),
    so a bare ``norm(v)`` referenced inside the per-centroid lambda
    re-ran the O(dim) self-dot fold once PER CENTROID — nlist folds per
    row where one suffices.  ``let_sql`` evaluates it once; the bound
    double is the identical value, so scores are bit-identical.  The
    whole argmax is one SQL text (``_centroid_literal``)."""
    v, lit = sql_name(vec_col), _centroid_literal(cent_rows)
    if metric == "cosine":
        best = let_sql(
            norm_sql(v),
            lambda nv: _argmax_sql(lit, _cosine_score(v, nv, round_dp)),
        )
    elif metric == "l2":
        best = _argmax_sql(
            lit, lambda c: f"-round({sqdist_sql(v, f'{c}.cv')}, {round_dp})"
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return df.withColumn("cluster", F.expr(f"{best}.cluster"))


def _round_vec(vec: str, round_dp: int) -> str:
    """Text rounding each element of array operand ``vec`` to
    ``round_dp`` places — the grid centroids are snapped to."""
    rounded = lam(lambda x: f"round(CAST({x} AS DOUBLE), {round_dp})")
    return f"transform({vec}, {rounded})"


def _ivf_train_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    iters: int = 3,
    round_dp: int = 6,
    train_mod: int = 1,
    metric: str = "cosine",
) -> list:
    """Lloyd training loop returning the centroids as collected rows
    ``[(cluster, cv), ...]`` — the form the map-side assignment literal
    wants.  Each sweep: map-side argmax assignment (no shuffle), then one
    posexplode + two-level aggregation (dim x nlist partial cells,
    map-side combinable) for the coordinate means.  Only the nlist-row
    centroid frame is ever collected.

    Deterministic, no RNG: init = the ``nlist`` lowest-id vectors,
    assignment scores and centroid means are rounded to ``round_dp``
    (ties to the lowest cluster id), so the engine- and
    partitioning-dependent float sums snap to a reproducible grid and
    the DuckDB oracle replays the training bit-for-bit.

    ``train_mod > 1`` trains the quantizer on the deterministic 1-in-mod
    id subset (``id % mod == 0``) — the standard IVF recipe (a coarse
    quantizer never needs the full corpus; at 100 TB you train on a
    sample and assign everything).  The rule is replayable SQL, so the
    oracle trains on exactly the same subset.  The sample is
    localCheckpointed once: the sweeps iterate over in-memory blocks, not
    repeated source scans."""
    v = sql_name(vec_col)
    train = corpus.select(id_col, vec_col)
    if train_mod > 1:
        train = train.filter((F.col(id_col) % train_mod) == 0)
    train = train.localCheckpoint(eager=True)
    init = (
        train.orderBy(id_col)
        .limit(nlist)
        .select(
            # bounded by construction: nlist rows after the limit
            F.row_number()
            .over(Window.partitionBy(F.lit(0)).orderBy(id_col))
            .alias("cluster"),
            F.expr(f"{_round_vec(v, round_dp)} AS cv"),
        )
    )
    cent_rows = sorted((r["cluster"], list(r["cv"])) for r in init.collect())
    for _ in range(iters):
        asg = _assign_clusters(
            train.select(vec_col), vec_col, cent_rows, round_dp, metric
        )
        cells = (
            asg.selectExpr("cluster", f"posexplode({v}) AS (pos, val)")
            .groupBy("cluster", "pos")
            .agg(F.expr(f"round(avg(CAST(val AS DOUBLE)), {round_dp}) AS cavg"))
        )
        by_pos = lam(lambda st: f"{st}.cavg")
        rows = (
            cells.groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, cavg))), "
                    f"{by_pos}) AS cv"
                )
            )
            .collect()
        )
        cent_rows = sorted((r["cluster"], list(r["cv"])) for r in rows)
    return cent_rows


def _probe_clusters(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list,
    nprobe: int,
    query_id: str,
    keep: tuple = (),
) -> DataFrame:
    """Top-``nprobe`` coarse clusters per query, map-side: sort the
    scored centroid array ascending on (-s, cluster) — s desc, ties to
    lowest cluster, same ordering as the row_number it replaces — slice
    nprobe, explode.  Shared by the IVF and IVF+PQ query paths.
    ``keep`` carries extra query-side columns (e.g. a label for filtered
    search) through unchanged."""
    return (
        queries.select(
            F.expr(f"{sql_name(id_col)} AS {sql_name(query_id)}"),
            F.expr(f"{sql_name(vec_col)} AS __qv__"),
            *keep,
        )
        .withColumn("cluster", F.expr(_probe_sql(cent_rows, nprobe)))
        .select(query_id, "__qv__", "cluster", *keep)
    )


def _probe_sql(cent_rows: list, nprobe: int) -> str:
    """Text exploding the ``nprobe`` best clusters of ``__qv__`` (see
    :func:`_probe_clusters`).  The query norm is let-bound (r15):
    interpreted HOFs have no CSE, so a bare norm in the per-centroid
    lambda re-ran the O(dim) fold nlist times per query row; bound
    once, values bit-identical."""
    lit = _centroid_literal(cent_rows)

    def scored(nq: str) -> str:
        score = _cosine_score("__qv__", nq, 6)
        body = lam(
            lambda c: f"struct(-{score(c)} AS negs, {c}.cluster AS cluster)"
        )
        return f"transform({lit}, {body})"

    probe_arr = let_sql(norm_sql("__qv__"), scored)
    best = f"slice(array_sort({probe_arr}), 1, {nprobe})"
    return f"explode(transform({best}, {lam(lambda p: f'{p}.cluster')}))"


def _probe_join(
    probes: DataFrame,
    lists: DataFrame,
    query_id: str,
    id_col: str,
    candidate_filter=None,
) -> DataFrame:
    """Candidate rows of the inverted-list paths: the probed lists of
    ``lists`` joined on ``cluster``, self-pairs dropped, and the
    optional ``candidate_filter`` applied BEFORE the top-k window (so
    top-k means "best k satisfying the predicate").  The probes are
    |Q| x nprobe rows, so they broadcast and the corpus-side join is
    map-side; a hash shuffle on the nlist-value cluster key would cap
    parallelism at nlist and skew on popular lists."""
    scored = F.broadcast(probes).join(lists, "cluster").filter(
        F.col(query_id) != F.col(id_col)
    )
    if candidate_filter is not None:
        scored = scored.filter(candidate_filter)
    return scored


def ivf_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    iters: int = 3,
    train_mod: int = 1,
    persist: bool = False,
    payload: tuple = (),
    fan_out: bool = True,
) -> dict:
    """TRAIN-ONCE half of IVF (the faiss ``index.train()`` +
    ``index.add()`` split): Lloyd the coarse quantizer, bin the corpus,
    and return ``{"centroids": rows, "binned": DataFrame}``.

    ``persist=True`` materializes the binned corpus with an eager
    localCheckpoint — the 'index on disk' stance: at query time only the
    probed lists are scanned and NO training/binning work re-runs.  On a
    cluster the equivalent is writing ``binned`` bucketed by cluster.

    ``payload`` names extra corpus columns stored in the inverted lists
    (same vector-DB payload pattern as :func:`ivfpq_build_index`) so
    filtered search (``ivf_query_index(candidate_filter=...)``) can
    prune candidates BEFORE the top-k window.  Unlike the PQ index the
    in-list vectors are FULL PRECISION, so filtered IVF is the right
    twin for boundary-sensitive retrieval (e.g. hard-negative mining,
    where PQ's quantization error drowns the fine different-label
    ranking — measured in SCALE.md)."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    cent_rows = _ivf_train_rows(
        corpus, id_col, vec_col, nlist, iters, train_mod=train_mod
    )
    # fan ONLY the assignment input (row-local argmax — partitioning-
    # independent); the training lineage above keeps its partitioning
    # (its float avg aggregates are accumulation-order-sensitive).
    # ``fan_out=False`` (semdedup's cell-split path) keeps the binned
    # frame's original partitioning too: downstream sub-kmeans sweeps
    # aggregate float avgs over it, and fanning would make their
    # partial-merge order fetch-nondeterministic.
    assign_in = corpus.select(id_col, vec_col, *payload)
    if fan_out:
        assign_in = fan_out_scan(assign_in, id_col)
    binned = _assign_clusters(assign_in, vec_col, cent_rows, 6)
    if persist:
        binned = binned.localCheckpoint(eager=True)
    return {"centroids": cent_rows, "binned": binned,
            "id_col": id_col, "vec_col": vec_col, "payload": tuple(payload)}


def ivf_query_index(
    queries: DataFrame,
    index: dict,
    k: int = 5,
    nprobe: int = 2,
    query_id: str = "query_id",
    qkeep: tuple = (),
    candidate_filter=None,
) -> DataFrame:
    """QUERY-ONLY half of IVF: probe ``nprobe`` lists of a pre-built
    index and return exact within-list top-k.  No Lloyd sweeps, no
    binning — the per-query cost the SCALE.md crossover argument prices.

    Filtered search mirrors :func:`ivfpq_query_index`: ``qkeep`` carries
    query-side columns into the candidate frame and ``candidate_filter``
    prunes BEFORE the top-k window (top-k means "best k satisfying the
    predicate"); referenced corpus-side columns must be in the index's
    ``payload``.  In-list scores are exact cosine, so no rerank stage is
    needed after a filtered IVF query."""
    id_col, vec_col = index["id_col"], index["vec_col"]
    cent_rows, binned = index["centroids"], index["binned"]
    probes = _probe_clusters(
        queries, id_col, vec_col, cent_rows, nprobe, query_id, keep=qkeep
    ).withColumn("__qn__", norm("__qv__"))
    # Norms hoisted per SIDE below the join (one fold per corpus row /
    # per probe row, evaluated before the hash-table probe fans out) —
    # bit-identical scores, see embedding_near_dups; the index schema
    # is untouched (the corpus norm is a lazy projection on top of the
    # checkpointed binned frame)
    binned = binned.withColumn("__cn__", norm(vec_col))
    scored = _probe_join(probes, binned, query_id, id_col, candidate_filter)
    raw_dot = dot_sql("__qv__", sql_name(vec_col))
    scored = scored.select(
        query_id,
        *qkeep,
        F.expr(f"{sql_name(id_col)} AS neighbor_id"),
        *index.get("payload", ()),
        # rounded to the 6dp grid BEFORE the top-k ordering so a
        # cross-engine ulp difference near a rank boundary cannot flip
        # membership vs the oracle (same discipline as the assignment)
        F.expr(f"round({raw_dot} / (__qn__ * __cn__), 6) AS score"),
    )
    return _top_k(scored, query_id, "score", k, ascending=False)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    iters: int = 3,
    query_id: str = "query_id",
    train_mod: int = 1,
) -> DataFrame:
    """IVF approximate nearest neighbors: train the coarse quantizer, bin
    the corpus once, probe only ``nprobe`` inverted lists per query.

    The scale path for similarity search when hyperplane-LSH recall is not
    enough: scoring cost drops from |Q| x |C| (cosine_topk) to
    |Q| x (nprobe/nlist) x |C|.  Both the corpus binning and the query
    probing are map-side argmax/top-nprobe against the inlined centroid
    literal — no Exchange anywhere before the final top-k window.  Recall
    depends on nprobe/nlist — the standard IVF tradeoff; results within
    the probed lists are exact.

    Composition of :func:`ivf_build_index` + :func:`ivf_query_index`
    (train+query fused for the one-shot/oracle path; callers with a
    standing corpus should build the index once and reuse it)."""
    index = ivf_build_index(
        corpus, id_col, vec_col, nlist=nlist, iters=iters, train_mod=train_mod
    )
    return ivf_query_index(queries, index, k=k, nprobe=nprobe, query_id=query_id)


# ---------------------------------------------------------------- PQ

def _vec_array_literal(cent_rows: list) -> str:
    """array<array<double>> literal text of centroid vectors POSITIONED
    by cluster id (1-based — ``element_at(lit, code)`` fetches a code's
    centroid).  Lloyd sweeps can empty a cluster, leaving id gaps; gap
    positions hold empty arrays so surviving ids still land at their own
    index (codes only ever reference surviving clusters, so a gap slot
    is never read).  Spelled like :func:`_centroid_literal`."""
    by_id = {int(c): cv for c, cv in cent_rows}
    parts = [
        "array(" + ",".join(sql_double(x) for x in by_id[c]) + ")"
        if c in by_id
        else "CAST(array() AS ARRAY<DOUBLE>)"
        for c in range(1, max(by_id) + 1)
    ]
    return "array(" + ",".join(parts) + ")"


def _adc_luts(df: DataFrame, qvec: str, books: list, sub: int) -> DataFrame:
    """``df`` plus per-query ADC lookup tables (faiss's dist_table),
    columns ``__lut0__..``: LUT j is an array<double> whose entry c =
    ||q_j - book_j[c]||^2 for the query vector column ``qvec``,
    computed ONCE on the (broadcast) query/probe side.  Per candidate the ADC
    distance is then m array lookups + adds instead of m interpreted
    subvector sqdist folds — the work drops from m*sub ops per pair to
    m, paying m*k*sub once per query row (wins whenever a probe scores
    more than k candidates, i.e. always at corpus scale).
    BIT-IDENTICAL to the per-pair form: entry c is the same sqdist
    expression the old code evaluated after element_at, so the selected
    double is unchanged; gap slots of the codebook literal (emptied
    Lloyd clusters) evaluate to null and are never selected (codes only
    reference surviving clusters)."""
    q = sql_name(qvec)
    for j, book in enumerate(books):
        qs = f"slice({q}, {j * sub + 1}, {sub})"
        body = lam(lambda cent: sqdist_sql(qs, cent))
        df = df.withColumn(
            f"__lut{j}__",
            F.expr(f"transform({_vec_array_literal(book)}, {body})"),
        )
    return df


def _adc_sum(m: int) -> str:
    """Left-associated ADC sum over the per-query LUT columns (SQL
    text) — the same addition chain the per-pair form built, so doubles
    match."""
    return " + ".join(f"element_at(__lut{j}__, codes[{j}])" for j in range(m))


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    train_mod: int = 1,
) -> list[list]:
    """Product-quantization codebooks: the vector is split into ``m``
    contiguous subspaces of dim/m and each subspace gets its own
    deterministic L2 Lloyd codebook of ``k`` centroids (faiss IndexPQ
    training, minus the RNG: init = k lowest-id training subvectors,
    fixed sweeps, round-before-argmax — the same determinism discipline
    as the IVF coarse quantizer, so a SQL oracle replays training
    bit-for-bit).

    Returns ``[codebook_0, ..., codebook_{m-1}]``, each a list of
    (cluster, centroid) rows.  Memory math at 100 TB: a 64-dim float64
    vector is 512 bytes; its PQ code is m bytes (k<=256) — a 128x
    compression that lets the scored corpus live in RAM/cache while the
    full vectors stay in cold storage."""
    if dim % m:
        raise ValueError("dim must divide into m equal subspaces")
    sub = dim // m
    books = []
    for j in range(m):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * sub + 1, sub).alias("__sv__"),
        )
        books.append(
            _ivf_train_rows(
                sliced, id_col, "__sv__", nlist=k, iters=iters,
                train_mod=train_mod, metric="l2",
            )
        )
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """Encode every vector as its array of per-subspace nearest-centroid
    ids — ``m`` map-side L2 argmaxes in ONE projection, zero Exchange
    (the plan shape test_plans asserts for IVF assignment).  The codes
    column is the compressed corpus representation ADC scoring reads."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    # parallelize the per-row argmax encode off an under-split scan —
    # row-local (round-before-argmax, deterministic ties), so codes are
    # partitioning-independent.  Never reached from the Lloyd training
    # loop (whose float avg aggregates must keep their partitioning).
    # No-op at scale / when the caller already fanned the frame.
    corpus = fan_out_scan(corpus, id_col)
    v = sql_name(vec_col)
    sub = len(codebooks[0][0][1])
    codes = []
    for j, book in enumerate(codebooks):
        # subvector slice let-bound (r15): the interpreted argmax has no
        # CSE, so a bare slice() in the per-centroid lambda re-copied
        # the subvector k times per row; bound once — codes identical
        lit = _centroid_literal(book)
        best = let_sql(
            f"slice({v}, {j * sub + 1}, {sub})",
            lambda sv: _argmax_sql(
                lit, lambda c: f"-round({sqdist_sql(sv, f'{c}.cv')}, 6)"
            ),
        )
        codes.append(f"{best}.cluster")
    return corpus.selectExpr(
        sql_name(id_col), f"array({', '.join(codes)}) AS {sql_name(out)}"
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 8,
    topk: int = 5,
    iters: int = 2,
    train_mod: int = 1,
    query_id: str = "query_id",
) -> DataFrame:
    """PQ approximate nearest neighbors via asymmetric distance
    computation (ADC): approx_d2(q, x) = sum_j ||q_j - centroid_j[code_j(x)]||^2.

    Physical shape: train m codebooks (driver loop over m tiny Lloyd
    runs), encode the corpus map-side, broadcast the queries, and score
    each (query, code) pair with m subvector-to-centroid lookups against
    the inlined codebook literals — no Exchange before the final top-k
    window, and the scored corpus side carries only m small ints per
    row, not the full vector (the PQ memory win).  Ranking is ascending
    approximate L2, ties to the lowest neighbor id, distances rounded to
    the 6dp grid before ranking (round-before-argmax discipline)."""
    books = pq_train(corpus, id_col, vec_col, dim, m, k, iters, train_mod)
    sub = dim // m
    coded = pq_encode(corpus, books, id_col, vec_col)
    # ADC lookup tables built once per query on the broadcast side
    # (_adc_luts: m lookups per candidate instead of m sqdist folds)
    q = queries.select(
        F.col(id_col).alias(query_id), F.col(vec_col).alias("__qv__")
    )
    q = F.broadcast(_adc_luts(q, "__qv__", books, sub))
    scored = coded.join(q, F.col(query_id) != F.col(id_col)).select(
        query_id,
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"round({_adc_sum(m)}, 6) AS approx_d2"),
    )
    return _top_k(scored, query_id, "approx_d2", topk, ascending=True)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    topk: int = 5,
    iters: int = 2,
    train_mod: int = 1,
    query_id: str = "query_id",
) -> DataFrame:
    """IVF+PQ — the production large-scale ANN index shape (faiss IVFPQ
    with ``by_residual=False``): the cosine coarse quantizer restricts
    each query to ``nprobe`` inverted lists, and scoring inside the
    probed lists runs ADC over m-byte PQ codes instead of full vectors.

    Cost model at 100 TB: candidates = |C| * nprobe/nlist, each scored
    with m table lookups over data that is 100x+ smaller at rest than
    the raw vectors — the coarse step bounds WORK, the PQ step bounds
    MEMORY.  Physical shape: both quantizers train via the shared
    deterministic Lloyd machinery; binning and encoding are one
    shuffle-free projection; probes are broadcast so the list-restricted
    join is map-side; no Exchange before the final top-k window.  All
    three stages replay in the SQL oracle.

    Composition of :func:`ivfpq_build_index` + :func:`ivfpq_query_index`
    (train+encode+query fused; standing corpora should build once)."""
    index = ivfpq_build_index(
        corpus, id_col, vec_col, dim=dim, nlist=nlist, m=m, k=k,
        iters=iters, train_mod=train_mod,
    )
    return ivfpq_query_index(
        queries, index, nprobe=nprobe, topk=topk, query_id=query_id
    )


def ivfpq_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    train_mod: int = 1,
    persist: bool = False,
    payload: tuple = (),
) -> dict:
    """TRAIN-ONCE half of IVF+PQ: Lloyd the coarse quantizer, train the
    per-subspace PQ codebooks, bin + encode the corpus.  Returns
    ``{"coarse": rows, "books": codebooks, "coded": DataFrame}``.

    ``persist=True`` materializes the m-byte-per-vector coded corpus
    (localCheckpoint here; bucketed-by-cluster parquet on a cluster) so
    query time pays ONLY probe + ADC — the faiss train/add vs search
    split, which is what makes the nprobe/nlist cost model real.

    ``payload`` names extra corpus columns stored alongside the codes
    (the vector-DB payload-column pattern): filtered search
    (``ivfpq_query_index(candidate_filter=...)``) can then apply its
    predicate BEFORE the top-k window, so the candidate pool isn't
    flooded by rows the filter would discard — decisive when the
    predicate is selective against the nearest vectors, e.g. the
    label-inequality of hard-negative mining where every nearest
    neighbor is same-label by construction."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    coarse = _ivf_train_rows(
        corpus, id_col, vec_col, nlist=nlist, iters=iters,
        train_mod=train_mod, metric="cosine",
    )
    books = pq_train(corpus, id_col, vec_col, dim, m, k, iters, train_mod)
    # fan ONLY the bin+encode input (row-local argmaxes); both Lloyd
    # trainings above keep their partitioning (order-sensitive avgs)
    binned = _assign_clusters(
        fan_out_scan(corpus.select(id_col, vec_col, *payload), id_col),
        vec_col, coarse, 6, "cosine"
    )
    coded = pq_encode(binned, books, id_col, vec_col).join(
        binned.select(id_col, "cluster", *payload), id_col
    )
    if persist:
        coded = coded.localCheckpoint(eager=True)
    return {"coarse": coarse, "books": books, "coded": coded,
            "id_col": id_col, "vec_col": vec_col, "dim": dim,
            "payload": tuple(payload)}


def ivfpq_query_index(
    queries: DataFrame,
    index: dict,
    nprobe: int = 2,
    topk: int = 5,
    query_id: str = "query_id",
    qkeep: tuple = (),
    candidate_filter=None,
) -> DataFrame:
    """QUERY-ONLY half of IVF+PQ: probe + ADC scoring over the pre-built
    coded corpus.  No training, no encoding — m table lookups per
    candidate inside the probed lists, then the top-k window.

    Filtered search: ``qkeep`` carries query-side columns into the
    candidate frame and ``candidate_filter`` (a boolean Column over the
    joined query+payload columns) prunes candidates BEFORE the top-k
    window — so topk means "best k rows SATISFYING the predicate", not
    "best k overall, minus whatever the filter kills".  Requires the
    referenced corpus-side columns to be in the index's ``payload``.
    Output carries query_id, qkeep, neighbor_id, payload, approx_d2."""
    id_col, vec_col = index["id_col"], index["vec_col"]
    coarse, books, coded = index["coarse"], index["books"], index["coded"]
    payload = index.get("payload", ())
    sub = index["dim"] // len(books)
    probes = _probe_clusters(
        queries, id_col, vec_col, coarse, nprobe, query_id, keep=qkeep
    )
    # ADC lookup tables built once per probe row on the broadcast side
    probes = _adc_luts(probes, "__qv__", books, sub)
    scored = _probe_join(
        probes, coded, query_id, id_col, candidate_filter
    ).select(
        query_id,
        *qkeep,
        F.col(id_col).alias("neighbor_id"),
        *payload,
        F.expr(f"round({_adc_sum(len(books))}, 6) AS approx_d2"),
    )
    return _top_k(scored, query_id, "approx_d2", topk, ascending=True)


def rerank_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    neighbor_id: str = "neighbor_id",
    k: int = 5,
    metric: str = "cosine",
) -> DataFrame:
    """Exact re-ranking of ANN candidates (the faiss IndexRefine
    pattern): any approximate stage — hyperplane LSH, IVF, PQ, IVFPQ —
    proposes (query, neighbor) pairs, and only those |Q| x R pairs pay
    for full-vector scoring.  Two joins back to the vector table plus a
    top-k window; the candidate frame is small by construction, so both
    fetches broadcast the candidate side and stream the corpus.

    ``metric='cosine'`` ranks descending exact cosine; ``'l2'`` ranks
    ascending exact squared distance.  Ties break to the lowest neighbor
    id; scores are rounded to the 6dp grid before ranking (the repo-wide
    round-before-argmax discipline), column ``score`` either way."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    # per-vector norms hoisted into the fetch projections (bit-identical
    # to per-pair cosine() — see embedding_near_dups); exact scoring on
    # FLAT-UNPACKED columns (codegen multiply-add chain, bit-identical
    # to the interpreted array fold — see _flat_dot)
    dim = _vec_dim(corpus, vec_col)
    i, v = sql_name(id_col), sql_name(vec_col)
    qid, nid = sql_name(query_id), sql_name(neighbor_id)
    qv = corpus.selectExpr(
        f"{i} AS {qid}", *_flat_cols(v, "q", dim), f"{norm_sql(v)} AS __qn__"
    )
    nv = corpus.selectExpr(
        f"{i} AS {nid}", *_flat_cols(v, "n", dim), f"{norm_sql(v)} AS __nn__"
    )
    # candidates are |Q| x R pairs — small by construction — so FORCE the
    # broadcast (don't rely on autoBroadcastJoinThreshold seeing through
    # the projection): the full vector table must stream, never shuffle
    paired = (
        F.broadcast(candidates.select(query_id, neighbor_id))
        .join(qv, query_id)
        .join(nv, neighbor_id)
    )
    if metric == "cosine":
        score = f"{_flat_dot('q', 'n', dim)} / (__qn__ * __nn__)"
    else:
        score = _flat_sqdist("q", "n", dim)
    scored = paired.selectExpr(qid, nid, f"round({score}, 6) AS score")
    return _top_k(
        scored, query_id, "score", k, ascending=metric == "l2",
        neighbor_id=neighbor_id,
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_id: str = "query_id",
    neighbor_id: str = "neighbor_id",
    k: int | None = None,
) -> DataFrame:
    """Per-query recall@k of an approximate retrieval vs the exact top-k
    — THE tuning dial for the ANN ladder (faiss reports exactly this for
    nprobe/m sweeps).  ``recall = |approx ∩ exact| / |exact|`` per query,
    with the exact side as ground truth (queries the approximate stage
    missed entirely still appear, recall 0).  If ``k`` is given it
    overrides the per-query denominator (use when the exact frame may
    hold fewer than k rows for boundary queries).

    Shape: one broadcast-able join on (query, neighbor) + a groupBy on
    query — both sides are |Q| x k rows, trivially small next to the
    corpus no matter the corpus scale.  The exact frame is walked ONCE
    (r15): the old semi-join-for-hits + groupBy-for-denominator pair
    referenced it twice, and `exact` is typically the expensive
    brute-force arm — a left join against the deduped approx pairs
    flags hits and counts the denominator in the same aggregate
    (dedup keeps the semi-join's exists semantics if a caller passes
    duplicate approx pairs), recall values identical."""
    ap = (
        approx.select(query_id, neighbor_id)
        .dropDuplicates([query_id, neighbor_id])
        .withColumn("__hit__", F.lit(1))
    )
    per_q = (
        exact.select(query_id, neighbor_id)
        .join(ap, [query_id, neighbor_id], "left")
        .groupBy(query_id)
        .agg(
            F.count(F.lit(1)).alias("__n_exact__"),
            F.count("__hit__").alias("__hits__"),
        )
    )
    denom = (
        F.lit(float(k))
        if k is not None
        else F.col("__n_exact__").cast("double")
    )
    return per_q.select(
        query_id,
        (F.coalesce("__hits__", F.lit(0)) / denom).alias("recall"),
    )


def _residual(vec_col: str, coarse_rows: list) -> Column:
    """Element-wise residual v - coarse_centroid[cluster] (map-side: the
    centroid table rides as a positional literal, the subtraction of
    identical doubles is FP-exact across engines)."""
    cent = f"element_at({_vec_array_literal(coarse_rows)}, cluster)"
    diff = lam(lambda a, b: f"CAST({a} AS DOUBLE) - {b}")
    return F.expr(f"zip_with({sql_name(vec_col)}, {cent}, {diff})")


def ivfpq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    topk: int = 5,
    iters: int = 2,
    train_mod: int = 1,
    query_id: str = "query_id",
) -> DataFrame:
    """Residual IVF+PQ — faiss IVFPQ's DEFAULT (by_residual=True): PQ
    codebooks are trained on and encode the residual v - coarse_centroid,
    not the raw vector.  Residuals concentrate near zero, so the same
    code budget quantizes them far more accurately than raw vectors —
    the accuracy/memory sweet spot production indexes run.

    The cost vs by_residual=False: the query-side ADC operand is
    PER-PROBED-LIST (qr = qv - coarse_cv[cluster] differs per probe), so
    lookup tables cannot be shared across probes — here that is simply
    the residual expression evaluated per (query, probe) row, still
    map-side.  All stages (coarse training, binning, residual PQ
    training, encoding, probing, residual ADC) replay in the SQL oracle.
    """
    coarse = _ivf_train_rows(
        corpus, id_col, vec_col, nlist=nlist, iters=iters,
        train_mod=train_mod, metric="cosine",
    )
    sub = dim // m
    binned = _assign_clusters(
        corpus.select(id_col, vec_col), vec_col, coarse, 6, "cosine"
    )
    res = binned.withColumn("__rv__", _residual(vec_col, coarse))
    # PQ codebooks train on TRAINING-SAMPLE residuals — the TRAINING
    # lineage keeps the original partitioning (its Lloyd float avgs are
    # accumulation-order-sensitive)
    train = res if train_mod <= 1 else res.filter(
        (F.col(id_col) % train_mod) == 0
    )
    books = pq_train(train, id_col, "__rv__", dim, m, k, iters, train_mod=1)
    # ENCODE lineage fans BEFORE the assignment (r15): pq_encode's
    # internal fan sat ABOVE the assign+residual projections, so those
    # row-local stages still ran on the single scan task; fanning the
    # raw (id, vec) input parallelizes them too.  Assignment and
    # residual are row-local (round-before-argmax, element-wise
    # subtract), so values are partitioning-independent; the training
    # lineage above is untouched.
    from financial_data_science_spark.operators.layout import fan_out_scan

    binned_enc = _assign_clusters(
        fan_out_scan(corpus.select(id_col, vec_col), id_col),
        vec_col, coarse, 6, "cosine",
    )
    res_enc = binned_enc.withColumn("__rv__", _residual(vec_col, coarse))
    coded = pq_encode(
        res_enc.select(id_col, F.col("__rv__").alias("__enc__")),
        books, id_col, "__enc__",
    ).join(binned_enc.select(id_col, "cluster"), id_col)
    # probes: top-nprobe coarse clusters per query (cosine, as in ivf)
    probes = _probe_clusters(queries, id_col, vec_col, coarse, nprobe, query_id)
    # query residual PER PROBED LIST, then ADC vs the coded residuals;
    # LUTs per (query, probe) row — the residual operand depends on the
    # probed cluster, so that row is exactly where the table belongs
    pr = probes.withColumn("__qr__", _residual("__qv__", coarse))
    pr = _adc_luts(pr, "__qr__", books, sub)
    scored = _probe_join(pr, coded, query_id, id_col).select(
        query_id,
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"round({_adc_sum(len(books))}, 6) AS approx_d2"),
    )
    return _top_k(scored, query_id, "approx_d2", topk, ascending=True)


# ---------------------------------------------------------------- SQ8

def _dim_stats(corpus: DataFrame, vec_col: str, round_dp: int = 6) -> tuple:
    """Per-dimension (min, max) of the corpus, rounded to the shared
    grid — one posexplode + combinable aggregate, collected as two
    dim-length lists (the scalar-quantizer 'codebook')."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.round(F.min(F.col("val").cast("double")), round_dp).alias("lo"),
            F.round(F.max(F.col("val").cast("double")), round_dp).alias("hi"),
        )
        .collect()
    )
    by_pos = sorted((r["pos"], r["lo"], r["hi"]) for r in rows)
    return [lo for _, lo, _ in by_pos], [hi for _, _, hi in by_pos]


def _dlist_literal(xs: list) -> Column:
    return F.expr("array(" + ",".join(sql_double(x) for x in xs) + ")")


def sq8_encode(
    corpus: DataFrame,
    mins: list,
    maxs: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """8-bit scalar quantization (faiss IndexScalarQuantizer QT_8bit
    shape): code_i = round((v_i - min_i) / (max_i - min_i) * 255),
    clamped — per-dimension affine, one map-side projection.  64 float64
    dims (512 bytes) become 64 bytes; unlike PQ there is no training
    beyond the min/max census and decode is exact-per-dimension affine,
    so SQ8 is the first rung of the compression ladder (SQ8 -> PQ ->
    IVFPQ) with the gentlest recall loss.  Constant dimensions (max ==
    min) encode to 0 and decode to their min — exact."""
    from financial_data_science_spark.operators.layout import fan_out_scan

    # row-local affine quantization — parallelize off an under-split
    # scan (codes are partitioning-independent; no-op at scale)
    corpus = fan_out_scan(corpus, id_col)
    v = F.col(vec_col)
    lo, hi = _dlist_literal(mins), _dlist_literal(maxs)
    idx = F.sequence(F.lit(0), F.size(v) - 1)
    code = F.zip_with(
        v,
        idx,
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.when(
                    F.element_at(hi, i + 1) > F.element_at(lo, i + 1),
                    F.round(
                        (x.cast("double") - F.element_at(lo, i + 1))
                        / (F.element_at(hi, i + 1) - F.element_at(lo, i + 1))
                        * 255
                    ).cast("int"),
                ).otherwise(F.lit(0)),
            ),
        ),
    )
    return corpus.select(id_col, code.alias(out))


def sq8_dequantize(codes: Column, mins: list, maxs: list) -> Column:
    """Exact affine decode of SQ8 codes back to approximate doubles."""
    lo, hi = _dlist_literal(mins), _dlist_literal(maxs)
    idx = F.sequence(F.lit(0), F.size(codes) - 1)
    return F.zip_with(
        codes,
        idx,
        lambda c, i: F.element_at(lo, i + 1)
        + c.cast("double")
        / 255.0
        * (F.element_at(hi, i + 1) - F.element_at(lo, i + 1)),
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_id: str = "query_id",
) -> DataFrame:
    """Top-k cosine against the SQ8-compressed corpus: full-precision
    queries broadcast, corpus rows scored through the affine decode —
    the scan reads 64-byte codes, not 512-byte vectors (the SQ8 win at
    rest), and every stage is map-side before the final top-k window."""
    mins, maxs = _dim_stats(corpus, vec_col)
    coded = sq8_encode(corpus, mins, maxs, id_col, vec_col)
    # decode AND norm hoisted below the join: the affine dequantize and
    # the self-dot run once per CORPUS ROW (projection evaluated
    # before the broadcast-hash probe fans out per query), not once per
    # (query, corpus) pair — bit-identical scores (same decode
    # expression -> same doubles; see embedding_near_dups for the norm
    # argument).
    coded = coded.withColumn(
        "__dv__", sq8_dequantize(F.col("codes"), mins, maxs)
    ).withColumn("__cn__", norm("__dv__"))
    v = sql_name(vec_col)
    q = F.broadcast(
        queries.selectExpr(
            f"{sql_name(id_col)} AS {sql_name(query_id)}",
            f"{v} AS __qv__",
            f"{norm_sql(v)} AS __qn__",
        )
    )
    raw_dot = dot_sql("__qv__", "__dv__")
    scored = coded.join(q, F.col(query_id) != F.col(id_col)).selectExpr(
        sql_name(query_id),
        f"{sql_name(id_col)} AS neighbor_id",
        f"round({raw_dot} / (__qn__ * __cn__), 6) AS score",
    )
    return _top_k(scored, query_id, "score", k, ascending=False)

