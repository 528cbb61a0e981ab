"""Alternate engines for the quality-filter stages, kept only as
differential-test references for the production path in
``bytefreq_spark.pipeline``:

* ``with_mask_key`` — the JVM mask chain (translate + regexp passes +
  backreference collapse) for the dictionary key, vs the Arrow kernel in
  ``featurize`` / ``with_mask_key_arrow``;
* ``with_dup_flag`` — the duplicate flag as a lag over the raw text, vs the
  pre-shuffle 64-bit hash lag in ``with_dup_flag_hashed``;
* ``with_prev_turn`` — the duplicate flag as a self-join on
  ``(conv_id, turn_idx - 1)``, which needs no conversation layout;
* ``with_decision_udf`` — the keep/drop decision through the ``decide()``
  kernel in a pandas UDF, vs the native ``decision_cols`` expressions;
* ``hyperplane_signature_col`` — the hyperplane-LSH signature as a native
  literal-tree expression, vs the Arrow kernels behind
  ``similarity.hyperplane_signatures``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from bytefreq_spark.masks import mask_col
from bytefreq_spark.quality import LU_KEY_LEN, LU_KEY_SRC_CHARS, decide
from bytefreq_spark.similarity import _dot

DECISION_SCHEMA = StructType([
    StructField("keep", BooleanType()),
    StructField("drop_reason", StringType()),
])


def with_mask_key(df: DataFrame) -> DataFrame:
    """JVM-only columns: LU-mask dictionary key + char count (NULL text →
    NULL key, as mask_col propagates NULL)."""
    return df.withColumns({
        # same prefix rule as quality.text_features (frozen contract)
        "lu_key": F.substring(
            mask_col(F.substring(F.col("text"), 1, LU_KEY_SRC_CHARS), "LU"),
            1, LU_KEY_LEN,
        ),
        "n_chars": F.coalesce(F.length("text"), F.lit(0)).cast("long"),
    })


def with_dup_flag(df: DataFrame) -> DataFrame:
    """Duplicate-turn flag as a lag over the raw text; must run on a
    ``conversation_layout`` frame."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("text").over(w)
    return df.withColumn(
        "is_dup",
        prev.isNotNull()
        & (prev == F.col("text"))
        & (F.coalesce(F.col("text"), F.lit("")) != ""),
    )


def with_prev_turn(df: DataFrame) -> DataFrame:
    """Duplicate-turn flag as a self-join on the composite key (no layout
    requirement; costs its own shuffle of both sides)."""
    prev = df.select(
        F.col("conv_id").alias("conv_id"),
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.col("text").alias("_prev_text"),
    )
    joined = df.join(prev, ["conv_id", "turn_idx"], "left")
    return joined.withColumn(
        "is_dup",
        F.col("_prev_text").isNotNull()
        & (F.col("_prev_text") == F.col("text"))
        & (F.coalesce(F.col("text"), F.lit("")) != ""),
    ).drop("_prev_text")


def _decide_udf():
    @F.pandas_udf(DECISION_SCHEMA)
    def dec(
        lang: pd.Series, ppl: pd.Series, n_chars: pd.Series,
        digit_count: pd.Series, weird_count: pd.Series, mask_entropy: pd.Series,
        lu_count: pd.Series, lu_total: pd.Series, is_dup: pd.Series,
        role: pd.Series,
    ) -> pd.DataFrame:
        return decide(lang, ppl, n_chars, digit_count, weird_count,
                      mask_entropy, lu_count, lu_total, is_dup, role)

    return dec


def with_decision_udf(df: DataFrame) -> DataFrame:
    """Keep/drop through the ``decide()`` kernel in a pandas UDF."""
    dec = _decide_udf()(
        F.col("lang"), F.col("ppl"), F.col("n_chars"), F.col("digit_count"),
        F.col("weird_count"), F.col("mask_entropy"), F.col("lu_count"),
        F.col("lu_total"), F.col("is_dup"), F.col("role"),
    )
    return df.withColumn("_d", dec).select("*", "_d.*").drop("_d")


def hyperplane_signature_col(vec_col: str, planes: np.ndarray) -> F.Column:
    """Sign-bit signature of a vector against fixed random hyperplanes as
    native expressions: each plane is a literal array and each dot product a
    ``zip_with``/``aggregate`` fold (n_planes × dim literal nodes)."""
    bits = []
    for i, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(_dot(F.col(vec_col), lit) >= 0,
                   F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out
