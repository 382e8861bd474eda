"""MLlib pipeline layer (reference recipes/learn.py:36-72).

The reference preps train/test splits and batches for torch models; the
Spark-native counterpart is an MLlib ``Pipeline`` whose stages run
distributed and whose fitted model is itself a DataFrame transformer.
``lang_classifier_pipeline`` is the worked example on the synthetic
documents table: tokens -> counts -> logistic regression over the ``lang``
label — tokenization and featurization scale out; training is MLlib's
distributed LBFGS.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import CountVectorizer, RegexTokenizer, StringIndexer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lang_classifier_pipeline(
    text_col: str = "text",
    label_col: str = "lang",
    vocab_size: int = 4096,
    max_iter: int = 20,
) -> Pipeline:
    """Tokens -> counts -> logistic regression over ``label_col``: the
    Spark-native counterpart of the reference's train/test prep
    (learn.py:36-72); ``.fit`` on a training split returns the model."""
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__tokens__", pattern="\\W+", toLowercase=True
    )
    cv = CountVectorizer(
        inputCol="__tokens__", outputCol="__features__", vocabSize=vocab_size
    )
    idx = StringIndexer(inputCol=label_col, outputCol="__label__")
    lr = LogisticRegression(
        featuresCol="__features__", labelCol="__label__", maxIter=max_iter,
        regParam=0.01,
    )
    return Pipeline(stages=[tok, cv, idx, lr])


def pad_sequences(
    df: DataFrame,
    tokens_col: str,
    batch_col: str | None = None,
    pad: int = 0,
    out: str = "padded",
) -> DataFrame:
    """Pad token-id arrays to equal length within each batch — the
    rectangular-tensor prep of reference learn.py:14 ``form_input``.

    (The reference body is inverted — ``[0]*max_length if not not n`` pads
    the NONEMPTY docs with zeros and nests the else branch one list too
    deep; like fft_neweywest this is a broken-as-shipped utility, so this
    implements the evident intent: every doc padded with ``pad`` to the
    batch max, empty docs becoming all-``pad`` rows.)

    Window max + ``array_repeat`` concat, pure column expressions; with
    ``batch_col=None`` the max is global (one single-partition window on
    the LENGTHS only — at scale always pass a batch/shard column, e.g.
    the output of ``pipeline.pack_token_budget``)."""
    from pyspark.sql import Window

    w = Window.partitionBy(batch_col) if batch_col else Window.partitionBy()
    t = F.col(tokens_col)
    mx = F.max(F.size(t)).over(w)
    return df.withColumn(
        out,
        F.concat(t, F.array_repeat(F.lit(pad), mx - F.size(t))),
    )


def batch_assign(
    df: DataFrame,
    key_col: str,
    batch_size: int,
    salt: int = 0,
    out: str = "batch",
    num_blocks: int = 32,
) -> DataFrame:
    """Deterministic minibatch assignment — reference learn.py:36
    ``form_batches`` (random.shuffle + fixed-size chunks) re-expressed
    without RNG state: rows are ordered by the portable keyhash (a
    reproducible shuffle — change ``salt`` for a new epoch's permutation)
    and chunked into consecutive ``batch_size`` groups.

    The global rank uses the two-phase distributed prefix sum
    (operators.windows.global_cumsum over a ones column), not a
    single-partition window, so assignment scales; the same hash order is
    replayable in any SQL engine for the oracle."""
    from financial_data_science_spark.functions.porthash import keyhash
    from financial_data_science_spark.operators.windows import global_cumsum

    d = df.withColumn("__bh__", keyhash(F.col(key_col), salt)).withColumn(
        "__one__", F.lit(1)
    )
    d = global_cumsum(
        d, ["__bh__", key_col], "__one__", out="__rank__", num_blocks=num_blocks
    )
    return (
        d.withColumn(
            out,
            F.floor((F.col("__rank__") - 1) / F.lit(batch_size)).cast("long"),
        )
        .drop("__bh__", "__one__", "__rank__")
    )
