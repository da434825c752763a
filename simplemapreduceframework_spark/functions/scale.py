"""Scale guards for join-strategy choices.

Round-8 lesson (scripts/audit_at_scale.py at the synthetic 100x
point): an UNCONDITIONAL ``F.broadcast(dim)`` is a latent OOM — in
TPC-H scaling, customer / part / supplier grow linearly with SF, so a
"dimension" that broadcasts beautifully at validation scale is
billions of rows on a 100 TB deployment, and a forced hint removes
Catalyst's escape hatch. The guarded form keeps the forced broadcast
(it IS the right plan, and auto-broadcast can miss it when the dim
sits under a cached fragment whose static estimate is off) while the
row count stays inside an executor-safe budget, and silently falls
back to Catalyst's default strategy choice beyond it.

Counts come from ``table_rows`` — one parquet-metadata job per
(session, dir, table), memoized — so the guard costs nothing
measurable. For frames DERIVED from a scaled table (per-part support
counts, degree tables), pass the base table's count: cardinality of a
per-key aggregate is bounded by its key space.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session_memo import get_or_build

# ~150 MB of narrow dim rows; far inside the default 8 GB driver and
# any sane executor broadcast budget, far above every validation SF
# (sf10 customer = 1.5M rows) so test-scale plans are bit-identical.
# The env override exists for scripts/audit_at_scale.py: setting
# SMRF_BROADCAST_ROW_LIMIT=10000 drives every guarded site onto its
# above-budget branch at a scale the validation data can reach, so the
# branch that exists for deployment scale has end-to-end evidence
# (round-9 audit; PLANS.md appendix).
BROADCAST_ROW_LIMIT = int(
    os.environ.get("SMRF_BROADCAST_ROW_LIMIT", "5000000")
)


def table_rows(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Row count of a base table — one parquet-metadata count job,
    memoized per (session, dir, table)."""
    from ..sources import load_table

    return get_or_build(
        spark,
        ("table_rows", sf_dir, table),
        lambda: load_table(spark, sf_dir, table).count(),
    )


def broadcast_dim(
    df: DataFrame,
    n_rows: int,
    limit: int | None = None,
    fallback: str | None = None,
) -> DataFrame:
    """``F.broadcast(df)`` while ``n_rows`` fits the broadcast budget;
    beyond it, the frame's above-budget form. ``n_rows`` is the
    frame's row count or any upper bound for it (the base table's
    count for per-key aggregates derived from it).

    ``fallback`` picks the above-budget form per call site:

    - ``None`` (base-table scans): unhinted — the parquet scan's
      accurate size stats let Catalyst keep auto-broadcasting while
      the frame genuinely fits and switch to a shuffle strategy after.
    - ``"shuffle_hash"`` (frames DERIVED under persisted/cached
      fragments — per-key support tables, degree tables, near-dup pair
      tails): pin a distributed hash build. The 100x audit's rule
      (PLANS.md): cached fragments execute with the static planner
      only, AQE never re-plans inside them, and the static estimate
      derives from the tiny base scan — so handing the above-budget
      choice back to Catalyst would re-open the exact broadcast-OOM
      trap this guard exists to close. SHUFFLE_HASH over MERGE because
      these dims are narrow two-column frames: hash-building them
      per-partition is cheap and skips sorting the (large) probe side.
    """
    if limit is None:
        limit = BROADCAST_ROW_LIMIT
    if n_rows <= limit:
        return F.broadcast(df)
    return df.hint(fallback) if fallback else df
