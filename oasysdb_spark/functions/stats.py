"""User-defined aggregate surface (pandas GROUPED_AGG UDFs) with native
expression twins.

The reference has no user-extensible functions at all (its metrics are a
closed enum, /root/reference/src/types/metric.rs:19-22; SURVEY.md §2.5
'UDF/UDAF/UDTF' row). Our engine's UDAF story mirrors the metric
registry's: every Arrow-batched aggregate ships with a bit-compatible
native-expression twin, and the NATIVE form is the scale path — a
grouped-agg pandas UDF materializes each group's column in one worker's
memory, so it is for moderate-cardinality groups only; the expression
twin streams through whole-stage codegen with partial aggregation and
survives any group size.

UDF objects are built lazily (pandas_udf decoration needs an active
SparkSession) and cached per process.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_UDFS: dict = {}


def geomean_udaf(c: Column | str) -> Column:
    """Geometric mean as a GROUPED_AGG pandas UDF (Arrow-batched)."""
    if "geomean" not in _UDFS:

        @F.pandas_udf("double")
        def _geomean(v: pd.Series) -> float:  # type: ignore[misc]
            return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

        _UDFS["geomean"] = _geomean
    return _UDFS["geomean"](c)


def geomean_expr(c: Column | str) -> Column:
    """Native twin: exp(avg(ln(x))) — partial-aggregatable, codegen'd."""
    return F.exp(F.avg(F.log(c)))


def harmonic_mean_udaf(c: Column | str) -> Column:
    """Harmonic mean as a GROUPED_AGG pandas UDF."""
    if "harmonic" not in _UDFS:

        @F.pandas_udf("double")
        def _harmonic(v: pd.Series) -> float:  # type: ignore[misc]
            arr = v.to_numpy(dtype=np.float64)
            return float(len(arr) / np.reciprocal(arr).sum())

        _UDFS["harmonic"] = _harmonic
    return _UDFS["harmonic"](c)


def harmonic_mean_expr(c: Column | str) -> Column:
    """Native twin: n / sum(1/x)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.count(col) / F.sum(F.lit(1.0) / col)


def to_micro(x: Column) -> Column:
    """``x`` quantized to integer micro-units (bigint), the step before a
    sum: an integer sum is exact and independent of partition order."""
    return F.round(x * 1e6).cast("bigint")


def from_micro(m: Column) -> Column:
    """Display a micro-unit value (integer or fractional: an integer
    mean ``sum(u) / count(*)``, a percentile over micro-units, cents
    scaled by 1e4) in units, rounded to 6 decimals.

    Rounding an unscaled double at scale 6 is engine-divergent at exact
    decimal boundaries: Spark rounds the double's binary expansion,
    DuckDB re-rounds through a ×10^6 multiply, so the last digit flips
    for about one value in 1e6. Both engines agree on the value in
    display units rounded AT SCALE 0 (the same double, half away from
    zero), cast to bigint and divided back, so every oracle twin spells
    this same expression."""
    return F.round(F.round(m).cast("bigint") / F.lit(1e6), 6)


def round6(x: Column) -> Column:
    """``x`` display-rounded to 6 decimals (see ``from_micro``)."""
    return from_micro(x * 1e6)


def misra_gries_update(counters: dict, x, k: int) -> None:
    """One Misra-Gries step: bounded-state frequency sketch over a
    stream (at most ``k`` live counters). Guarantee: after n items,
    every key with true frequency > n/k is present, and each estimate
    is within [true - n/k, true]."""
    if x in counters:
        counters[x] += 1
    elif len(counters) < k:
        counters[x] = 1
    else:
        dead = []
        for key in counters:
            counters[key] -= 1
            if counters[key] == 0:
                dead.append(key)
        for key in dead:
            del counters[key]


def misra_gries_merge(a: dict, b: dict) -> dict:
    """Merge two Misra-Gries sketches by summing estimates (no extra
    pruning). Errors add: merged estimates are within
    [true - (n_a/k + n_b/k), true], so any key with global frequency
    above the summed error bound survives the merge — the property the
    two-pass heavy-hitter operator's candidate set relies on."""
    out = dict(a)
    for key, c in b.items():
        out[key] = out.get(key, 0) + c
    return out
