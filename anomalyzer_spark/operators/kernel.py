"""Vectorized Monte-Carlo kernel for the permutation tests.

The four permutation-based tests (diff, highrank, lowrank, bootstrap-ks —
/root/reference/algorithms.go:105-205, 290-309) are not expressible as
closed-form SQL, so they run as ONE Arrow-batched ``pandas_udf`` over the
per-key tail-window array. Under the default hash spec a key costs
``perm_count · n`` md5 digests per test (2,500 at the reference defaults)
plus a (perm_count, n) argsort, so the work is set by how many NumPy calls
that takes, not by arithmetic. The kernel therefore groups each Arrow
batch's keys by window length and runs every test once per BLOCK of
equal-length keys (``oracle.mc_probs``, which streaming ``detect_stream``
shares): one digest pass, one argsort and one vectorized test per block
instead of per key. Window guards depend on the length alone, so a group
whose tests all return NA is never digested.
Parallelism comes from the number of keys — the 100 TB axis (SURVEY.md
§2.5, §4.3).

The kernel shares its math with the NumPy oracle (``anomalyzer_spark.oracle``)
— oracle and engine are literally the same code, keyed identically by the
'|'-joined key string (the hash-permutation spec in oracle.perm_matrix), so
batch results are reproducible, testable, AND reproducible by the DuckDB
correctness oracle in plain SQL.

Only keys whose combined prob can still depend on the MC tests are
digested: the kernel's third input is the ``combine.open_col`` mask, and
rows an Eval gate zeroes anyway (magnitude below ``sensitivity``, or too
few points under ``delay``) come back NULL. ``detect_by_test`` passes an
all-true mask.

Design note: this is a scalar ``pandas_udf`` over an already-aggregated
array column, NOT ``applyInPandas`` — no per-key grouping in Python, plain
Arrow batch transfer. The groupBy that built the arrays is the one hash
shuffle; ``detect`` then round-robins the aggregated rows (one per key,
negligible bytes) so the kernel's CPU spreads over every core.
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

    Signature: (vec array<double>, key string, open boolean) ->
    struct<diff,highrank,lowrank,ks double>. ``key`` is the '|'-joined
    key string feeding the hash-permutation spec (oracle.perm_matrix).
    ``open`` is the ``combine.open_col`` mask: rows where it is false come
    back all NULL and are never digested. Methods not requested come back
    NULL (and cost nothing).
    """
    want = tuple(m for m in MC_METHODS if m in methods)

    @F.pandas_udf(_RESULT_TYPE)
    def _kernel(it: Iterator[tuple[pd.Series, pd.Series, pd.Series]]
                ) -> Iterator[pd.DataFrame]:
        for vecs, keys, open_ in it:
            rows = np.flatnonzero(open_.to_numpy(dtype=bool))
            probs = oracle.mc_probs(conf, want, [vecs.iat[i] for i in rows],
                                    [str(keys.iat[i]) for i in rows])
            out = {m: np.full(len(vecs), np.nan) for m in MC_METHODS}
            for m, p in probs.items():
                out[m][rows] = p
            yield pd.DataFrame(out)

    return _kernel


def key_str_col(key_cols: list[str]) -> Column:
    """'|'-joined key string — the per-key component of the permutation-hash
    preimage, computed in Spark by batch ``detect`` and streaming
    ``detect_stream`` alike, so both draw the same MC permutation stream
    for every key type. Each component is Spark's string cast; a NULL
    component becomes the sentinel 'None' (bare concat_ws would silently
    SKIP it). Built in Spark, the string never passes through pandas,
    where a NULL integral key would read as NaN; the stream keys its
    windows by the typed key values, not by this string.
    DuckDB reproduces it with ``concat_ws('|', coalesce(k::VARCHAR,
    'None'), ...)``. Two documented-unsupported collisions, which share an
    MC permutation stream but never a window: key values containing '|'
    can collide across multi-column keys, and a literal string key 'None'
    collides with a NULL key."""
    return F.concat_ws("|", *[
        F.coalesce(F.col(k).cast("string"), F.lit("None")) for k in key_cols
    ])
