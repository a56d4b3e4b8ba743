"""Symmetric int8 embedding quantization — the 4x storage/bandwidth
lever for a 100 TB embedding store (float32 -> int8 + one scale per
vector, the FAISS SQ8 / Lucene scalar-quantization scheme).

Per vector: ``scale = max(|x|) / 127``; ``q_i = round(x_i / scale)``
(int8 in [-127, 127]); ``x̂_i = q_i * scale``. Pure array expressions
— transform / array_max / round — no UDF, no shuffle: quantization is
a projection that runs at scan speed and composes with everything
downstream (the IVF index can store qvecs and dequantize inside the
re-rank).

Engine parity (oracle-checked): floats are cast to double BEFORE any
arithmetic (float->double is exact, and double ops are IEEE-identical
across Spark and DuckDB), and rounding is round-half-away-from-zero
in both engines, so quantized codes are bit-identical.

The all-zero vector has scale 0; its codes are defined as all-zero
(guarded division), and dequantization returns the zero vector.
A vector containing NaN/Infinity components (a bad upstream encoder),
an empty vector, or a NULL vector quantizes to NULL codes + NULL
scale — one corrupt row must not kill a 100 TB projection (under
ANSI, an unguarded round(x/NaN) cast to tinyint would), and NULL is
the honest output for an unrepresentable input. Dequantizing NULL
codes returns a NULL vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Replace ``embedding`` with int8 codes + a per-vector scale.
    Output carries all other columns unchanged."""
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # NaN compares GREATER than everything in Spark, so a NaN
    # component would sail through `scale > 0` and the tinyint cast
    # of round(x/NaN) would throw under ANSI — guard on finiteness
    # explicitly and emit NULL codes for unrepresentable vectors
    finite = F.forall(
        as_double,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )
    maxabs = F.array_max(F.transform(as_double, F.abs))
    scale = F.when(finite, maxabs / F.lit(127.0))
    q = F.when(
        scale > 0,
        F.transform(as_double, lambda x: F.round(x / scale).cast("tinyint")),
    ).when(
        scale == 0,  # the all-zero vector
        F.transform(as_double, lambda x: F.lit(0).cast("tinyint")),
    )  # scale NULL (non-finite / empty / NULL vector) -> NULL codes
    return df.withColumn("qscale", scale).withColumn("qvec", q).drop("embedding")


def dequantize_embeddings(df: DataFrame) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (lossy: max error is
    scale/2 per component). Emits float vectors — the dtype the
    similarity operators take."""
    v = F.transform(
        F.col("qvec"),
        lambda x: (x.cast("double") * F.col("qscale")).cast("float"),
    )
    return df.withColumn("embedding", v).drop("qvec", "qscale")
