"""Hashed-feature text quality classifier — fastText-style logistic
regression trained with Spark aggregations, scored in one narrow pass.

The heuristic quality signals (``queries/text.py`` t02/t08: length,
punctuation, repetition) rank documents by fixed rules; this learns the
ranking from labeled examples — the model-based quality filter of the
CCNet / GPT-3 data pipelines. No counterpart in the reference.

Training (full-batch gradient descent, exact and deterministic):

- Features: bag of hashed unigrams (+ optional bigrams) in ``dim``
  buckets. The hash is ``crc32`` — the one hash available identically
  JVM-side (``F.crc32``) and in Python (``zlib.crc32``), so the
  train-time join path and the score-time Arrow path bucket every
  token the same way.
- Each iteration is two aggregations over the persisted exploded
  feature table: margins per doc (features ⋈ broadcast weight table →
  sum per doc), then gradient per bucket (residuals joined back →
  sum per bucket). Partial products are summed as DECIMAL (exact,
  order-independent — same rationale as ``clustering.py``), so the
  learned weights are bit-identical on any partitioning/cluster shape.
- The weight vector (``dim`` doubles) lives on the driver between
  iterations — O(dim) driver memory, like k-means' centroids.

At 100 TB: train on a sample (``operators/sampling.py`` provides
deterministic ones — labeled data is scarce anyway), score the full
corpus with ``score_quality``: a broadcast-weights Pandas UDF, ZERO
shuffles (plan-asserted), one pass over the corpus.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import local_frame

DEC = "decimal(28,12)"


def _terms(toks):
    return toks


def _with_bigrams(toks):
    n = F.size(toks)
    bi = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws("_", a, b),
        )
    )
    return F.concat(toks, bi)


def hashed_features(
    df: DataFrame, text_col: str, id_col: str, dim: int, bigrams: bool = False
) -> DataFrame:
    """Sparse hashed bag-of-terms: one row per (id, bucket) with the
    term count in that bucket. Terms are normalized whitespace tokens,
    plus adjacent ``a_b`` bigrams when ``bigrams``."""
    from ..functions import text as T

    toks = T.tokens(text_col)
    terms = _with_bigrams(toks) if bigrams else _terms(toks)
    return (
        df.select(F.col(id_col), F.explode(terms).alias("_t"))
        .where(F.length("_t") > 0)
        .select(
            id_col,
            F.pmod(F.crc32(F.encode("_t", "UTF-8")), F.lit(dim))
            .cast("int")
            .alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )


def train_quality_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    dim: int = 4096,
    bigrams: bool = False,
    n_iters: int = 30,
    lr: float = 1.0,
    l2: float = 1e-4,
) -> dict:
    """Learn logistic-regression weights; returns the model dict
    ``{"weights": [dim floats], "bias": float, "dim": dim, "bigrams":
    bool}`` for ``score_quality``. ``label_col`` must be 0/1."""
    spark = df.sparkSession
    labeled = df.select(
        F.col(id_col), F.col(label_col).cast("double").alias("_y")
    )
    # bucket == dim is the intercept: a constant feature on every doc,
    # so one gradient aggregation per iteration covers bias too.
    feats = (
        hashed_features(df, text_col, id_col, dim, bigrams)
        .unionByName(
            labeled.select(
                id_col, F.lit(dim).alias("bucket"), F.lit(1.0).alias("cnt")
            )
        )
        .join(labeled, id_col)
        .persist()
    )
    n_docs = labeled.count()
    if n_docs == 0:
        feats.unpersist()
        raise ValueError("no labeled documents")
    w = np.zeros(dim + 1, dtype=np.float64)
    reg_mask = np.ones(dim + 1)
    reg_mask[dim] = 0.0  # never regularize the intercept
    for _ in range(n_iters):
        wdf = F.broadcast(
            local_frame(
                spark,
                [(int(b), float(x)) for b, x in enumerate(w) if x != 0.0]
                or [(0, 0.0)],
                "bucket int, w double",
            )
        )
        resid = (
            feats.join(wdf, "bucket", "left")
            .groupBy(id_col, "_y")
            .agg(
                F.sum(
                    (F.col("cnt") * F.coalesce(F.col("w"), F.lit(0.0))).cast(DEC)
                )
                .cast("double")
                .alias("_m")
            )
            .select(
                id_col,
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_m")))
                    - F.col("_y")
                ).alias("_resid"),
            )
        )
        grad_rows = (
            feats.join(resid, id_col)
            .groupBy("bucket")
            .agg(
                F.sum((F.col("cnt") * F.col("_resid")).cast(DEC))
                .cast("double")
                .alias("g")
            )
            .collect()
        )
        grad = np.zeros(dim + 1, dtype=np.float64)
        for r in grad_rows:
            grad[r["bucket"]] = r["g"]
        w -= lr * (grad / n_docs + l2 * w * reg_mask)
    feats.unpersist()
    return {
        "weights": [float(x) for x in w[:dim]],
        "bias": float(w[dim]),
        "dim": dim,
        "bigrams": bigrams,
    }


def score_quality(
    df: DataFrame, text_col: str, id_col: str, model: dict
) -> DataFrame:
    """``(id_col, quality_score)`` — P(label=1) per document. Broadcast
    numpy weights inside an Arrow-batched UDF: one narrow pass, zero
    shuffles; this is the 100 TB scoring path."""
    w = np.asarray(model["weights"], dtype=np.float64)
    bias, dim, bigrams = model["bias"], model["dim"], model["bigrams"]

    @pandas_udf("double")
    def score_udf(texts: pd.Series) -> pd.Series:
        def one(text):
            toks = [t for t in (text or "").split(" ") if t]
            terms = list(toks)
            if bigrams:
                terms += [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
            m = bias
            for t in terms:
                m += w[zlib.crc32(t.encode("utf-8")) % dim]
            return 1.0 / (1.0 + math.exp(-m))

        return texts.map(one)

    from ..functions import text as T

    norm = F.array_join(T.tokens(text_col), " ")
    return df.select(F.col(id_col), score_udf(norm).alias("quality_score"))
