"""Skew-defusing salted aggregation (ST7 / SURVEY.md §4.2.1).

Why this exists: at 10^10 events a hot ``doc_id`` (the generator's top key
carries 20% of all traffic) would send one reducer 2×10^9 rows if the
aggregation shuffled raw rows by key. Two mechanisms prevent that here:

1. **Hash aggregates with map-side partial combine** (what the merge
   kernel's ``max_by`` LWW reduce uses) collapse duplicates per map task
   before the shuffle — the hot key crosses the wire at most once per
   input partition. When the aggregate is algebraic, ALWAYS prefer this;
   it is the built-in two-phase aggregation. Last-writer-wins is one such
   aggregate: the single hash-agg ``max_by`` is the engine's only LWW
   kernel, with no salted variant.
2. **Explicit salting** for cases partial combine can't save:
   high-cardinality state per key (collect_list/collect_set, exact
   percentile buffers) where the per-key combine buffer itself is the
   problem. ``salted_agg`` shards each key across ``n_salts`` reducers
   (phase 1: groupBy(key, salt) partials) and then merges the ≤n_salts
   partial rows per key (phase 2) — bounding any single reducer's load to
   ~1/n_salts of the hot key.

The salt is ``pmod(xxhash64(<row identity>), n_salts)`` — deterministic,
so replays stay exactly-once-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# phase-1 partial expr, phase-2 merge expr (over the partial column)
_ALGEBRAIC = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "collect_set": (F.collect_set, lambda c: F.array_distinct(F.flatten(F.collect_list(c)))),
    "collect_list": (F.collect_list, lambda c: F.flatten(F.collect_list(c))),
}

SALT_COL = "_salt"


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Two-phase salted groupBy.

    ``aggs`` maps output column -> (agg_name, input_column), e.g.
    ``{"n": ("count", "*"), "toks": ("collect_list", "tokens")}``.
    """
    salt_cols = [F.col(c) for c in (salt_on or df.columns)]
    salted = df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*salt_cols), F.lit(n_salts)).cast("int")
    )
    p1_exprs, p2_exprs = [], []
    for out, (name, col) in aggs.items():
        if name not in _ALGEBRAIC:
            raise ValueError(
                f"{name!r} is not algebraic-salted-safe; supported: {sorted(_ALGEBRAIC)}"
            )
        partial, merge = _ALGEBRAIC[name]
        p1_exprs.append(partial(F.col(col) if col != "*" else F.lit(1)).alias(out))
        p2_exprs.append(merge(F.col(out)).alias(out))
    phase1 = salted.groupBy(*keys, SALT_COL).agg(*p1_exprs)
    return phase1.groupBy(*keys).agg(*p2_exprs)


__all__ = ["salted_agg", "SALT_COL"]
