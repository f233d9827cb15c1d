"""Exact group percentiles via grouped numpy rank-select (r16, §4.2).

Spark's built-in ``percentile`` aggregate buffers every value of a group
in a per-group ``OpenHashMap[boxed value, count]`` and sorts the map at
evaluation — measured 1.20 s for 600 k near-distinct doubles at sf0.1
(the whole q_agg_quantile_filter wall). The same multiset, shipped once
to a Python worker as Arrow batches and sorted with numpy, computes the
identical result in a fraction of the time: ``np.sort`` of 200 k
float64 is ~10 ms; the cost is one exchange on the group key — which
the built-in's shuffle of its map state pays anyway.

Rejected intermediate (kept for the record, guide §1.2): a pure-JVM
sort + rank-select via ``row_number`` windows measured 0.63 s per
ranked column (Window buffering dominates) — 1.07 s for the two-column
threshold pass, no better than the built-in end-to-end once the
broadcast critical path is counted.

Bit-identity with ``percentile(v, array(p...))`` (pinned in
tests/test_percentile.py on every fixture SF, random data with NULLs,
duplicates, single-row and all-NULL groups): positions and
interpolation replicate ``Percentile.getPercentile`` operation for
operation — ``pos = p * (n-1)``; ``(higher - pos) * lowerKey +
(pos - lower) * higherKey``; integral position or equal keys return
``lowerKey``; Python floats ARE IEEE doubles, so the arithmetic is
the same instruction sequence.

NULLs are ignored like the built-in's; a NaN is a value, which
``np.sort`` places last, where the built-in's ordering puts it (NaN
greatest). Groups travel as Arrow (``applyInArrow``), whose per-column
validity bitmap is the null mask: through pandas a NULL double arrives
as NaN, and a NaN result leaves as NULL.

100 TB: one shuffle on the group key; each group's values must fit one
worker — the SAME bound the built-in has (its aggregation state holds
the full multiset per group on one executor); ``percentile_approx``
remains the documented posture when exactness is not oracle-required.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _spark_percentiles(sorted_vals, percentages: Sequence[float]):
    """Spark Percentile.getPercentile over a sorted float64 array."""
    n = len(sorted_vals)
    if n == 0:
        return None
    out = []
    for p in percentages:
        pos = p * (n - 1)
        lo_i = math.floor(pos)
        hi_i = math.ceil(pos)
        lo = float(sorted_vals[lo_i])
        hi = float(sorted_vals[hi_i])
        if hi_i == lo_i or lo == hi:
            out.append(lo)
        else:
            out.append((hi_i - pos) * lo + (pos - lo_i) * hi)
    return out


def exact_group_percentiles(
    df: DataFrame,
    group_col: str,
    specs: Sequence[tuple[str, Sequence[float], str]],
) -> DataFrame:
    """Per-``group_col`` exact percentiles for each
    ``(value_col, percentages, out_col)`` spec — returns ``group_col``
    plus one ``ARRAY<DOUBLE>`` column per spec, bit-identical to
    ``groupBy(group).agg(percentile(value, array(*ps)), ...)``.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    value_cols = [v for v, _, _ in specs]
    src = df.select(group_col, *value_cols)
    local_specs = [(v, list(map(float, ps)), out) for v, ps, out in specs]
    schema = T.StructType(
        [src.schema[group_col]]
        + [
            T.StructField(out, T.ArrayType(T.DoubleType()))
            for _, _, out in local_specs
        ]
    )
    arrow_schema = pa.schema(
        [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    )

    def pct(t: pa.Table) -> pa.Table:
        cols = {group_col: t.column(group_col).slice(0, 1)}
        for v, ps, out in local_specs:
            a = pc.drop_null(t.column(v)).to_numpy().astype(np.float64, copy=False)
            cols[out] = [_spark_percentiles(np.sort(a), ps)]
        return pa.table(cols, schema=arrow_schema)

    return src.groupBy(group_col).applyInArrow(pct, schema=schema)
