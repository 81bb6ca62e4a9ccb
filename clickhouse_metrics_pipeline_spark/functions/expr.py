"""Row-local expression helpers shared by the column-kernel modules.

``row_let`` is the r11-optimization let-binding primitive (guide §1.2
step 2): Spark performs no common-subexpression elimination inside
higher-order-function lambda bodies (HOFs are CodegenFallback, so the
codegen-level subexpression elimination never sees them), which makes a
kernel that mentions an expensive subtree k times re-evaluate it k
times per row. Routing the shared subtrees through a 1-element
``transform`` evaluates each exactly once per row and turns every later
mention into a lambda-variable lookup. Same values, same types, no
plan-shape change (shuffles/aggregates identical).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def packed_ts_order(ts: Column | str, tiebreak: Column | str) -> Column:
    """The (ts, tiebreak-id) total order packed into one DECIMAL(38,0):
    ``unix_micros(ts) * 10^19 + id``.

    Identical ordering to ``struct(ts, id)`` whenever ``0 <= id <
    10^19`` (ids here are non-negative BIGINTs, max 2^63-1 ≈ 9.2e18)
    and ``unix_micros(ts) < 10^19`` (year ~318,000) — both monotone
    embeddings, no overflow inside DECIMAL(38,0) (max ~3e34 << 1e38).

    Why (r11 optimization, guide §2.4): ``max_by(v, struct(ts, id))``
    carries the struct in its aggregation buffer, and struct buffers
    are not UnsafeRow-mutable, so the whole aggregate — including
    cheap min/max/sum siblings — degrades to SortAggregate with a full
    map-side sort of the raw input. A DECIMAL(38,0) buffer is
    fixed-width mutable, keeping the aggregate a HashAggregate with
    map-side combine (measured 0.64 → 0.47 s on the sf0.1 1-minute
    rollup; value equality pinned by exceptAll in both directions).
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    i = F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak
    return F.unix_micros(t.cast("timestamp")).cast("decimal(38,0)") * F.lit(
        "10000000000000000000"
    ).cast("decimal(38,0)") + i.cast("decimal(38,0)")


def row_let(bindings: dict[str, Column], body) -> Column:
    """Evaluate each binding column ONCE per row and hand the values to
    ``body`` as fields of a bound lambda variable.

    ``body`` receives a struct-typed lambda variable whose fields are
    the binding names; reading a field is free relative to re-running
    the bound expression. Bindings are evaluated together and cannot
    reference each other — nest ``row_let`` calls for dependent
    bindings.
    """
    return F.element_at(
        F.transform(
            F.array(F.struct(*[v.alias(k) for k, v in bindings.items()])),
            body,
        ),
        1,
    )
