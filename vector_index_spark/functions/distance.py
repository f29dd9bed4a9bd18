"""Distance kernels as native Spark SQL higher-order expressions.

Capability parity with reference source/distance.h:
  - l2sq      = squared L2 WITHOUT sqrt     (distance.h:128-135, the only
                dispatchable metric, distance.h:174-187)
  - ip_dist   = 1 - dot(a, b)               (distance.h:143-151)
  - cos_dist  = 1 - dot/(|a||b|)            (distance.h:158-170)

Design decisions (SURVEY.md §7):
  - float64 accumulation in strict left-to-right order — deterministic and
    DuckDB-checkable, unlike the reference's float32 SIMD tree accumulation.
  - We do NOT replicate the reference's tail-drop bug (distance.h:43-46
    processes only floor(d/16)*16 components); all components count.
  - These are pure Catalyst expressions: they run JVM-side inside
    whole-stage codegen — no Python, no serialization. This is the Spark
    analogue of the reference's SIMD kernels: vectorization is Tungsten's
    job, not ours.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Inner product in float64, sequential accumulation."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance (no sqrt), as the reference computes it
    (source/distance.h:128-135)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2(a: Column, b: Column) -> Column:
    """Euclidean distance with sqrt (not in the reference's dispatch; provided
    for completeness)."""
    return F.sqrt(l2sq(a, b))


def l2_norm(a: Column) -> Column:
    """||a||_2 in float64."""
    return F.sqrt(
        F.aggregate(_to_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def ip_dist(a: Column, b: Column) -> Column:
    """Inner-product distance = 1 - dot(a, b) (source/distance.h:143-151)."""
    return F.lit(1.0) - dot(a, b)


def cos_dist(a: Column, b: Column) -> Column:
    """Cosine distance = 1 - dot/(|a||b|) (source/distance.h:158-170).

    A zero-norm side has no cosine: the distance is NULL (``try_divide``)
    instead of an ANSI DIVIDE_BY_ZERO, the same NULL the Arrow twin
    :func:`seq_metric_arrow` returns for that row."""
    return F.lit(1.0) - F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def normalize(a: Column) -> Column:
    """Unit-normalize a vector column (float64). Cosine top-k over normalized
    vectors reduces to inner-product top-k — the standard trick for making
    cosine ANN reuse a dot-product kernel.

    Zero vectors pass through unchanged (cosine is undefined there; a zero
    vector then sits at cos_dist 1.0 from everything instead of raising
    ANSI DIVIDE_BY_ZERO)."""
    nrm = l2_norm(a)
    return F.when(nrm == 0.0, _to_double(a)).otherwise(
        F.transform(_to_double(a), lambda x: x / nrm)
    )


def l2sq_arrow():
    """Arrow-batched pandas-UDF twin of :func:`l2sq` for hot candidate-scoring
    loops (interpreted higher-order expressions cost ~20 us/row; the numpy
    form is ~0.1 us/row in 64-d). Per-row float64 numpy accumulation — value
    may differ from the sequential HOF form in the last ulp, so use it on
    recall-gated paths, keep the HOF form for oracle-hashed outputs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _l2sq(a, b):
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        d = A - B
        return pd.Series((d * d).sum(axis=1))

    return _l2sq


def _seq_sum(P):
    """Strict left-to-right accumulation vectorized across rows: each
    row's partial sums follow ``((0 + p0) + p1) + ...`` exactly like the
    Catalyst fold (one IEEE add per element per row)."""
    import numpy as np

    acc = np.zeros(len(P))
    for j in range(P.shape[1]):
        acc += P[:, j]
    return acc


def _seq_row_fallback(kind: str, x, y):
    """Per-row exact twin of the HOF kernels for null/ragged rows: a
    null side or a length mismatch yields NULL (zip_with pads the short
    side with null, which nulls the whole fold); equal-length rows fold
    left-to-right in python floats (C doubles — the same IEEE ops), and
    a zero-norm cosine row is NULL like the HOF's ``try_divide``."""
    import math

    if x is None or y is None or len(x) != len(y):
        return None
    if kind == "euclidean2":
        acc = 0.0
        for a, b in zip(x, y):
            u = float(a) - float(b)
            acc += u * u
        return acc
    dv = 0.0
    for a, b in zip(x, y):
        dv += float(a) * float(b)
    if kind == "dot":
        return dv
    if kind == "inner_product":
        return 1.0 - dv
    na = 0.0
    nb = 0.0
    for a in x:
        fa = float(a)
        na += fa * fa
    for b in y:
        fb = float(b)
        nb += fb * fb
    den = math.sqrt(na) * math.sqrt(nb)
    return None if den == 0.0 else 1.0 - dv / den


def seq_metric_arrow(kind: str):
    """Arrow-batched twin of the HOF kernels (``"euclidean2"``:
    :func:`l2sq`, ``"inner_product"``: :func:`ip_dist`,
    ``"cosine_similarity"``: :func:`cos_dist`, ``"dot"``: :func:`dot`)
    preserving their EXACT values (round 16): per element the same
    single-rounding ops as zip_with's lambda, then a strict
    left-to-right fold (see :func:`_seq_sum`), so every value bit-equals
    the interpreted higher-order expression it replaces — safe on
    oracle-hashed outputs (maxsim's q90 hashes ``round(score, 6)``),
    unlike :func:`l2sq_arrow` (numpy pairwise accumulation,
    recall-gated paths only). Null or ragged rows keep the HOF's NULL
    result via a per-row fallback; a zero-norm cosine row is NULL, as
    in the HOF. ~20 us/row of interpreter dispatch becomes one
    vectorized pass per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if kind not in ("euclidean2", "inner_product", "cosine_similarity", "dot"):
        raise ValueError(f"unknown metric {kind!r}")

    @pandas_udf("double")
    def _f(a, b):
        n = len(a)
        if n == 0:
            return pd.Series([], dtype="float64")
        av = a.to_numpy()
        bv = b.to_numpy()
        la = {len(x) for x in av if x is not None}
        lb = {len(y) for y in bv if y is not None}
        clean = (
            len(la) == 1
            and la == lb
            and not a.isnull().any()
            and not b.isnull().any()
        )
        if not clean:
            return pd.Series(
                [_seq_row_fallback(kind, x, y) for x, y in zip(av, bv)],
                dtype="float64",
            )
        A = np.stack(av).astype(np.float64)
        B = np.stack(bv).astype(np.float64)
        if kind == "euclidean2":
            D = A - B
            return pd.Series(_seq_sum(D * D))
        dv = _seq_sum(A * B)
        if kind == "dot":
            return pd.Series(dv)
        if kind == "inner_product":
            return pd.Series(1.0 - dv)
        den = np.sqrt(_seq_sum(A * A)) * np.sqrt(_seq_sum(B * B))
        out = np.full(n, np.nan)  # NaN leaves the UDF as NULL
        nz = den != 0.0
        out[nz] = 1.0 - dv[nz] / den[nz]
        return pd.Series(out)

    return _f


def assert_dim(df, vec_col: str, dim: int):
    """Fail fast on ragged vectors: raises at execution time if any row's
    vector length differs from ``dim``.

    The zip_with/aggregate distance kernels pad mismatched-length arrays
    with NULL, which propagates to a silently-NULL distance — the worst
    failure mode (rows quietly drop from top-k results). The check is one
    codegen'd ``size() == dim`` comparison per row, negligible next to
    any distance kernel; apply it once at ingest (VectorIndex.build,
    append and query all do) rather than inside every kernel call.

    Caveat: the probe is folded into ``vec_col``, so a downstream plan
    that prunes the vector column entirely (``count()``, id-only
    projections) also prunes the check — the guard fires on any plan that
    actually reads vectors, which is every distance/kernel path."""
    from pyspark.sql import functions as F

    probe = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        F.concat(
            F.lit(f"vector dimension mismatch: expected {dim}, got "),
            F.size(F.col(vec_col)).cast("string"),
        ),
    )
    # assert_true returns NULL on success; fold the probe into the vector
    # column itself (a dropped side-column would be pruned away by
    # Catalyst, silently disabling the check)
    return df.withColumn(
        vec_col, F.when(probe.isNull(), F.col(vec_col))
    )
