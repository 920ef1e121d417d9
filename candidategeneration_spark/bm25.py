"""Exact reference BM25 arithmetic — the rank-identity contract.

Transcribed semantics (NOT code) of the reference scorer ``getBM25``
(``src/main/java/PredictiveIndex/utilsClass.java:115-130``):

    k = 1.6, b = 0.75
    ntf   = 0.5 + 0.5 * tf / maxtf_doc          (maxtf_doc = max tf in doc)
    idf   = ln((N - df + 0.5) / (df + 0.5))
    avgdl = total_tokens // N                   (integer division — floored!)
    denom = ntf + k * (1 - b + b * doc_len / avgdl)
    score = idf * ntf * (k + 1) / denom
    score_q = int(score * 1e7)                  (truncation toward zero)

The floored ``avgdl`` and the ×1e7 int truncation are deliberate quirks we
reproduce exactly: every downstream sum is over quantized int64 scores, so
multi-term scores are order-independent and rank-identical across engines.

A corpus with fewer kept tokens than documents (``['', 'aa']``) floors
``avgdl`` to 0. The reference's ``b * docLen / avg`` is then a Java double
division by zero, +Infinity, so ``denom`` is infinite and every score is
0. Python's float division and Spark's ANSI division raise there instead,
so the scalar, NumPy and Column paths return 0 for ``avgdl == 0``
explicitly.

Three implementations with identical results: NumPy (UDF kernels), Spark
Column (JVM path), and scalar Python (test oracle). The DuckDB oracle SQL
uses ``trunc()`` because DuckDB's CAST(double AS BIGINT) *rounds* while
Spark's cast truncates.

Determinism note (round-2 fix): the ONLY non-exact operation in the whole
formula is ``ln``. IEEE add/sub/mul/div/trunc are bit-identical across
NumPy, the JVM and DuckDB, but each engine ships its own ``log``:
NumPy ≥1.22 uses SIMD polynomial kernels, the JVM an x86 intrinsic, DuckDB
``std::log`` (glibc) — any pair can disagree by 1 ulp, which flips the
×1e7 truncation when a score lands within ~1 ulp of an integer boundary
(the round-1 ``bm25_topk`` hash mismatch). Fix: every idf in every path is
computed by CPython ``math.log`` (a thin wrapper over the same glibc
``log`` DuckDB calls) over the *distinct* df values — :func:`idf_map`.
The JVM column path receives idf as a precomputed column (tiny per-term
table) instead of calling ``F.log``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

K1 = 1.6
B = 0.75
QUANT = 1e7


def avgdl_floor(total_tokens: int, n_docs: int) -> int:
    """Reference's long/long division (``utilsClass.java`` avgdl)."""
    return total_tokens // n_docs


def idf_scalar(df: int | float, n_docs: int) -> float:
    """The one idf implementation every path shares (glibc ``log`` via
    CPython ``math.log`` — see the determinism note above). The argument
    expression mirrors the DuckDB oracle's ``({n} - {df} + 0.5)/({df}+0.5)``
    left-to-right double arithmetic exactly."""
    d = float(df)
    return math.log((n_docs - d + 0.5) / (d + 0.5))


def idf_np(df, n_docs: int) -> np.ndarray:
    """Vectorized idf over an int/float array: math.log per *distinct* df
    (distinct dfs ≪ rows; n·log n unique + k scalar logs beats the 1-ulp
    lottery of ``np.log``'s SIMD kernels)."""
    arr = np.asarray(df, dtype=np.float64)
    u, inv = np.unique(arr, return_inverse=True)
    vals = np.array([idf_scalar(d, n_docs) for d in u.tolist()],
                    dtype=np.float64)
    return vals[inv]


@pandas_udf(DoubleType())
def _idf_udf(df: pd.Series, n_docs: pd.Series) -> pd.Series:
    # one UDF object for every call: n_docs arrives as a literal column,
    # so a build (or a streaming micro-batch with a grown corpus) reuses
    # it instead of pickling a fresh closure per n_docs
    n = int(n_docs.iloc[0]) if len(n_docs) else 0
    return pd.Series(idf_np(df.to_numpy(np.float64), n))


def idf_col(df: Column, n_docs: int) -> Column:
    """idf as a Spark Column via an Arrow-batched pandas UDF around
    :func:`idf_np`. Apply it to the small per-TERM df table (vocabulary-
    sized), never per posting — the per-posting score math stays in
    whole-stage codegen; only this tiny projection leaves the JVM."""
    return _idf_udf(df, F.lit(n_docs))


def bm25_quantized_np(tf, maxtf, df, doc_len, n_docs: int, avgdl: int):
    """Vectorized quantized BM25 → int64 array."""
    tf = np.asarray(tf, dtype=np.float64)
    if avgdl == 0:
        return np.zeros(tf.shape, dtype=np.int64)
    maxtf = np.asarray(maxtf, dtype=np.float64)
    doc_len = np.asarray(doc_len, dtype=np.float64)
    ntf = 0.5 + 0.5 * tf / maxtf
    idf = idf_np(df, n_docs)
    denom = ntf + K1 * (1.0 - B + B * doc_len / float(avgdl))
    score = idf * ntf * (K1 + 1.0) / denom
    return np.trunc(score * QUANT).astype(np.int64)


def bm25_quantized_scalar(tf: int, maxtf: int, df: int, doc_len: int,
                          n_docs: int, avgdl: int) -> int:
    """Pure-Python scalar version (oracle / golden tests)."""
    if avgdl == 0:
        return 0
    ntf = 0.5 + 0.5 * tf / maxtf
    idf = idf_scalar(df, n_docs)
    denom = ntf + K1 * (1.0 - B + B * doc_len / float(avgdl))
    # grouping matches the vector paths: ((idf*ntf)*(K1+1))/denom
    return int(idf * ntf * (K1 + 1.0) / denom * QUANT)


def bm25_quantized_col(tf: str, maxtf: str, doc_len: str, idf: str,
                       avgdl: int) -> Column:
    """Spark Column version over column names (whole-stage-codegen path).
    Same arithmetic and grouping, as ONE SQL expression: one py4j round
    trip where a Column-op form pays one per operator.

    ``idf`` names a column precomputed via :func:`idf_col` on the per-term
    df table — the JVM ``Math.log`` intrinsic is the one op allowed to
    diverge from glibc by 1 ulp (see module note), so there is no
    in-JVM idf. Every literal carries the ``D`` suffix: an unsuffixed SQL
    ``0.5`` is a DECIMAL, which would change the arithmetic.
    """
    if avgdl == 0:
        return F.lit(0).cast("bigint")

    def d(x: float) -> str:
        return f"{float(x)!r}D"

    ntf = (f"({d(0.5)} + {d(0.5)} * CAST({tf} AS DOUBLE) / "
           f"CAST({maxtf} AS DOUBLE))")
    denom = (f"({ntf} + {d(K1)} * ({d(1.0 - B)} + {d(B)} * "
             f"CAST({doc_len} AS DOUBLE) / {d(avgdl)}))")
    # Spark's double→long cast truncates toward zero, matching int() in Java.
    return F.expr(f"CAST({idf} * {ntf} * {d(K1 + 1.0)} / {denom} * "
                  f"{d(QUANT)} AS BIGINT)")


# SQL fragment for the DuckDB oracle — keep in lockstep with the above.
# Placeholders: {tf} {maxtf} {df} {doclen} {n} {avgdl}
BM25_SQL_TEMPLATE = (
    "CAST(trunc((ln(({n} - {df} + 0.5) / ({df} + 0.5))"
    " * (0.5 + 0.5 * {tf} / {maxtf}) * 2.6"
    " / ((0.5 + 0.5 * {tf} / {maxtf})"
    "    + 1.6 * (0.25 + 0.75 * {doclen} / {avgdl}))) * 10000000.0)"
    " AS BIGINT)"
)


def bm25_sql(tf: str, maxtf: str, df: str, doclen: str, n: str,
             avgdl: str) -> str:
    """Render the DuckDB-side BM25 expression over column/scalar SQL exprs.

    All numeric inputs must be rendered as doubles by the caller where
    integer division could bite (we cast inline below).
    """
    return BM25_SQL_TEMPLATE.format(
        tf=f"CAST({tf} AS DOUBLE)",
        maxtf=f"CAST({maxtf} AS DOUBLE)",
        df=f"CAST({df} AS DOUBLE)",
        doclen=f"CAST({doclen} AS DOUBLE)",
        n=f"CAST({n} AS DOUBLE)",
        avgdl=f"CAST({avgdl} AS DOUBLE)",
    )
