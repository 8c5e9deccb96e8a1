"""Vectorized Monte-Carlo kernel for the permutation tests.

The four permutation-based tests (diff, highrank, lowrank, bootstrap-ks —
/root/reference/algorithms.go:105-205, 290-309) are not expressible as
closed-form SQL, so they run as ONE Arrow-batched ``pandas_udf`` over the
per-key tail-window array. The per-key payload is tiny (act+ref points,
default perm_count=500), so kernel cost is O(perm_count · n log n) ≈
microseconds per key; parallelism comes from the number of keys — the
100 TB axis (SURVEY.md §2.5, §4.3).

The kernel shares its math with the NumPy oracle (``anomalyzer_spark.oracle``)
— oracle and engine are literally the same code, keyed identically by the
'|'-joined key string (the hash-permutation spec in oracle.perm_matrix), so
batch results are reproducible, testable, AND reproducible by the DuckDB
correctness oracle in plain SQL.

Design note: this is a scalar ``pandas_udf`` over an already-aggregated
array column, NOT ``applyInPandas`` — the groupBy that built the arrays is
the only shuffle, and the UDF then rides the same partitioning (no second
exchange, plain Arrow batch transfer).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import oracle
from ..config import AnomalyzerConf

MC_METHODS = ("diff", "highrank", "lowrank", "ks")

_RESULT_TYPE = StructType(
    [StructField(m, DoubleType(), nullable=True) for m in MC_METHODS]
)


def mc_probs_udf(conf: AnomalyzerConf, methods: tuple[str, ...]):
    """Build a pandas UDF computing the requested MC probs.

    Signature: (vec array<double>, key string) -> struct<diff,highrank,
    lowrank,ks double>. ``key`` is the '|'-joined key string feeding the
    hash-permutation spec (oracle.perm_matrix). Methods not requested come
    back NULL (and cost nothing).
    """
    want = tuple(m for m in MC_METHODS if m in methods)

    @F.pandas_udf(_RESULT_TYPE)
    def _kernel(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        for vecs, keys in it:
            out = {m: [] for m in MC_METHODS}
            for vec, key in zip(vecs, keys):
                v = np.asarray(vec, dtype=np.float64)
                k = str(key)
                # all requested tests' permutation matrices in ONE
                # vectorized md5 batch — the md5 loop was ~65% of kernel
                # CPU; LazyPerms defers the batch until the first test
                # passes its window guard, so too-short vectors stay
                # digest-free (oracle.perms_for_tests / LazyPerms)
                perms = oracle.LazyPerms(conf, k, want, len(v))
                for m in MC_METHODS:
                    out[m].append(oracle.method_prob(m, v, conf, k, perms)
                                  if m in want else None)
            yield pd.DataFrame(out, dtype="float64")

    return _kernel


def key_str_col(key_cols: list[str]) -> Column:
    """'|'-joined key string — the per-key component of the permutation-hash
    preimage. NULL key components become the sentinel 'None' (matching the
    streaming path's Python ``str(None)``, detect_stream.detect_stream —
    a NULL-keyed series must draw the same MC permutation stream in batch
    and streaming; bare concat_ws would silently SKIP the component).
    DuckDB reproduces it with ``concat_ws('|', coalesce(k::VARCHAR,
    'None'), ...)``. Two documented-unsupported collisions: key values
    containing '|' can collide across multi-column keys, and a literal
    string key 'None' collides with a NULL key (both draw the identical MC
    permutation stream — forced by the streaming path's ``str(None)``, so
    it can only be documented, not avoided)."""
    return F.concat_ws("|", *[
        F.coalesce(F.col(k).cast("string"), F.lit("None")) for k in key_cols
    ])
