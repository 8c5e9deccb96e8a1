"""Eval combiner as pure column expressions.

Reproduces ``Eval``/``EvalByTest``/``getWeight``
(/root/reference/anomalyze.go:145-241):

  * cap every per-test prob to [0, 1];
  * NULL (the reference's NA) results are dropped from the weighted mean;
  * highrank/lowrank merge into one ``rank`` entry via max;
  * hard gate: a present magnitude prob below ``sensitivity`` zeroes the
    WHOLE combined probability (anomalyze.go:173-175);
  * dynamic weights: 0.5 base, 5.0 for magnitude/fence when their prob > 0.8;
  * weighted mean with 0 fallback when no test produced a value;
  * delay gate: 0 until the key has ``window_size`` points (when enabled).

``eval_gates`` is the one definition of the two gates: ``combined_prob``
applies them, and ``open_col`` (their negation) tells batch ``detect``
which keys still need the Monte-Carlo tests.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import AnomalyzerConf

#: Combiner entry names in output order (highrank/lowrank fold into "rank").
def combined_entries(methods: tuple[str, ...]) -> list[str]:
    out: list[str] = []
    for m in methods:
        name = "rank" if m in ("highrank", "lowrank") else m
        if name not in out:
            out.append(name)
    return out


def _cap01(x: Column) -> Column:
    # NULL must stay NULL (the reference's cap() passes NA through,
    # anomalyze.go:154) — Spark's least/greatest SKIP nulls, so guard.
    return F.when(x.isNotNull(), F.greatest(F.least(x, F.lit(1.0)), F.lit(0.0)))


def merge_probs(probs: dict[str, Column], methods: tuple[str, ...]) -> dict[str, Column]:
    """Cap raw per-test probs and fold highrank/lowrank into 'rank' (max)."""
    capped = {m: _cap01(probs[m]) for m in methods}
    merged: dict[str, Column] = {}
    for m in methods:
        if m in ("highrank", "lowrank"):
            if "rank" not in merged:
                pair = [capped[x] for x in ("highrank", "lowrank") if x in methods]
                # greatest() skips NULLs, matching "NA results dropped / max".
                merged["rank"] = pair[0] if len(pair) == 1 else F.greatest(*pair)
        else:
            merged[m] = capped[m]
    return merged


def weight_col(name: str, prob: Column) -> Column:
    """getWeight (anomalyze.go:225-241)."""
    if name in ("magnitude", "fence"):
        return F.when(prob > 0.8, F.lit(5.0)).otherwise(F.lit(0.5))
    return F.lit(0.5)


def combined_prob(
    merged: dict[str, Column], conf: AnomalyzerConf, n_points: Column
) -> Column:
    """Weighted mean of the merged per-test probs with all Eval gates."""
    num = F.lit(0.0)
    den = F.lit(0.0)
    for name, p in merged.items():
        w = weight_col(name, p)
        num = num + F.coalesce(p * w, F.lit(0.0))
        den = den + F.when(p.isNotNull(), w).otherwise(F.lit(0.0))
    prob = F.when(den > 0.0, num / den).otherwise(F.lit(0.0))
    for gate in eval_gates(merged.get("magnitude"), conf, n_points):
        prob = F.when(gate, F.lit(0.0)).otherwise(prob)
    return prob


def eval_gates(magnitude: Column | None, conf: AnomalyzerConf,
               n_points: Column) -> list[Column]:
    """The Eval gates, each true where it zeroes the whole combined prob
    whatever the other tests return: a present capped ``magnitude`` prob
    below ``sensitivity`` (anomalyze.go:173-175; pass None when the conf
    has no magnitude test), and, under ``delay``, fewer than
    ``window_size`` points."""
    gates = []
    if magnitude is not None:
        gates.append(magnitude.isNotNull() & (magnitude < F.lit(conf.sensitivity)))
    if conf.delay:
        gates.append(n_points < F.lit(conf.window_size))
    return gates


def open_col(magnitude: Column | None, conf: AnomalyzerConf,
             n_points: Column) -> Column:
    """True where no ``eval_gates`` gate is shut, i.e. where the combined
    prob can depend on the other tests; a literal true when the conf has
    no gate. Batch ``detect`` runs the Monte-Carlo kernel only where it is
    true."""
    gates = eval_gates(magnitude, conf, n_points)
    return ~reduce(operator.or_, gates) if gates else F.lit(True)
