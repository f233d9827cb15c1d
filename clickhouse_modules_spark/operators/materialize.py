"""Materialization of reused intermediates.

Several operators compute an expensive intermediate that multiple plan
branches then read (an LSH signature table feeding both sides of a
self-join; the frontier of an iterative connected-components loop).
Catalyst has no cross-branch common-subexpression elimination, so
without pinning, the intermediate is recomputed once per branch
(measured 2× on the banding paths) — and iterative lineage grows
unboundedly.

Pinning is ``localCheckpoint(eager=True)``: the fastest posture on a
single node (blocks stay in executor storage memory). It is NOT fault
tolerant — lineage is truncated, so losing an executor loses the job —
and the blocks compete with shuffle memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Pin ``df`` for multi-branch / iterative reuse."""
    return df.localCheckpoint(eager=True)
