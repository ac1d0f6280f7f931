"""Arrow-batched pandas UDFs — the documented Python escape hatch.

This repo's rule (README "Scale design"): expressions stay JVM-side in
whole-stage codegen; Python appears only where built-in functions
genuinely cannot express the semantics, and then ONLY as Arrow-batched
pandas UDFs (one Python call per ~10k-row batch, zero-copy columnar
transfer), never row-at-a-time ``F.udf`` (one Python call + pickling
per ROW — the 10-100x slow path).

``cosine_pandas_udf`` exists as the worked example of that rule: the
engine's production cosine is the codegen ``zip_with``/``aggregate``
expression (operators/similarity.py:_dot); this UDF computes the same
thing through numpy so tests can (a) pin the parity between the two
paths and (b) document the trade — use it as the template when a real
kernel (a tokenizer, a decoder, a model forward) has no builtin
equivalent. The deliberate differences from a naive UDF:

 * operates on the whole Arrow batch as numpy arrays (``np.stack`` +
   one vectorized einsum), no per-row Python;
 * float summation order is numpy's pairwise reduction — NOT Spark's
   left-to-right fold, so results match the codegen path to ~1e-12
   relative, not bit-for-bit. Engine-exact floats (the DuckDB oracle
   gate) need Spark's fold order: either the expression path or numpy
   that folds left to right from 0.0 the same way, as
   operators/recommend.topk_by_cosine does.
"""

# NO `from __future__ import annotations` here: pyspark resolves the
# pandas_udf signature from the REAL type hints; stringified ones are
# rejected with UNSUPPORTED_SIGNATURE.
import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def cosine_pandas_udf():
    """pandas_udf (array<T>, array<T>) -> double cosine similarity.

    Returns a fresh UDF object (creating it at import time would bind
    a SparkSession that may not exist yet)."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        # one numpy kernel per Arrow batch: stack the fixed-dim arrays
        # and fold the whole batch at once
        ma = np.stack(a.to_numpy())
        mb = np.stack(b.to_numpy())
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        denom = na * nb
        out = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)
        return pd.Series(out)

    return _cos
