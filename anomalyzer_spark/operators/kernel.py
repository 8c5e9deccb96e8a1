"""Vectorized Monte-Carlo kernel for the permutation tests.

The four permutation-based tests (diff, highrank, lowrank, bootstrap-ks —
/root/reference/algorithms.go:105-205, 290-309) are not expressible as
closed-form SQL, so they run as ONE Arrow-batched ``pandas_udf`` over the
per-key tail-window array. Under the default hash spec a key costs
``perm_count · n`` md5 digests per test (2,500 at the reference defaults)
plus a (perm_count, n) argsort, so the work is set by how many NumPy calls
that takes, not by arithmetic. The kernel therefore groups each Arrow
batch's keys by window length and runs every test once per BLOCK of
equal-length keys (``oracle.mc_block``): one digest pass, one argsort and
one vectorized test per block instead of per key. Window guards depend on
the length alone, so a group whose tests all return NA is never digested.
Parallelism comes from the number of keys — the 100 TB axis (SURVEY.md
§2.5, §4.3).

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

#: digest rows (keys × tests × perm_count × n) per block of equal-length
#: keys. The round loop's per-call NumPy overhead is amortized by this
#: size (14 keys at perm_count=500, n=5, one test), and the bound keeps a
#: block's (keys, perm_count, n) intermediates cache-sized for long
#: windows.
DIGEST_BUDGET = 36_000

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
            yield pd.DataFrame(_batch_probs(conf, want, list(vecs),
                                            [str(k) for k in keys]))

    return _kernel


def _batch_probs(conf: AnomalyzerConf, want: tuple[str, ...],
                 vecs: list, keys: list[str]) -> dict[str, np.ndarray]:
    """MC probs of one Arrow batch, NaN (→ NULL) where a test is not
    requested or returns NA: keys grouped by window length, each group
    cut into blocks of at most DIGEST_BUDGET digest rows."""
    out = {m: np.full(len(vecs), np.nan) for m in MC_METHODS}
    lens = np.array([len(v) for v in vecs], dtype=np.int64)
    for n in np.unique(lens).tolist():
        tests = tuple(m for m in want if oracle.mc_window(m, n, conf))
        if not tests:
            continue
        rows = np.flatnonzero(lens == n)
        per = max(1, DIGEST_BUDGET // (len(tests) * conf.perm_count * n))
        for lo in range(0, len(rows), per):
            blk = rows[lo : lo + per]
            V = np.array([vecs[i] for i in blk], dtype=np.float64)
            probs = oracle.mc_block(V, conf, [keys[i] for i in blk], tests)
            for m, p in probs.items():
                out[m][blk] = p
    return out


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
