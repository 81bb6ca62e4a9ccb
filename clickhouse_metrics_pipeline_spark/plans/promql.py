"""PromQL-subset front-end: text query -> Catalyst plan.

The reference's query surface stops at Prometheus matcher lists
compiled to SQL (``pkg/promread/handler.go:227-302``); the text
queries users actually type are PromQL. This module adds the missing
front-end for a well-defined subset, compiled onto the same engine
kernels the catalog queries use:

    expr     := binop | setop | aggop | call | histq | histf | topk
              | vfn | lblfn | cvals | quant
    cvals    := 'count_values' '(' STR ',' aggop ')'
                -- r9: group the aggregated vector by its VALUE per
                   window; output labels = just the new label (the
                   stringified integer value — canonical under the
                   exactness contract), value = the series count.
                   Count encoding
    matchmod := ('on'|'ignoring') '(' label (',' label)* ')'
                (('group_left'|'group_right')
                 ('(' label (',' label)* ')')?)?
                -- r9 vector matching (the r8 verdict's item 3). The
                   match key is the on-labels (must be a subset of
                   the lhs by-tuple) or the lhs by-tuple minus the
                   ignoring-labels; windows always also match on
                   bucket_ts. Without group_left the match is strict
                   one-to-one: BOTH sides must aggregate by exactly
                   the key. group_left allows many-to-one — every
                   lhs row joins the key-unique rhs; bare group_left
                   leaves the output labels = the lhs by-tuple (the
                   share-of-total ratio idiom), group_left(l1,...)
                   additionally pulls those rhs labels into the
                   output (the info-metric enrichment idiom), which
                   requires the rhs to aggregate by exactly
                   key + pulled labels and enforces one rhs row per
                   match group with a runtime assert (real PromQL's
                   "multiple matches" execution error).
                   group_right (r11) is the exact mirror: the many
                   side is the RIGHT one; it desugars at parse time
                   into the swapped group_left BinQuery with a
                   swapped flag so '-'/'/'/comparisons still apply
                   operands in the user's order. 'or' does not take
                   a match modifier (its union would mix label
                   sets); and/unless accept on/ignoring but not
                   group_left/group_right (PromQL rule)
    setop    := aggop scalar? ('and'|'or'|'unless') matchmod?
                aggop scalar?
                -- vector set operations at the (by-labels, window)
                   key: 'and' keeps lhs rows whose key also exists on
                   the rhs (semi join), 'unless' those whose key does
                   NOT (anti join), 'or' the lhs plus unmatched rhs
                   rows. Comparison binds TIGHTER than the set op
                   (real PromQL precedence), so
                   ``A and B > 10`` filters the rhs vector before
                   matching — the alerting idiom "value where
                   condition holds". Both sides must aggregate by the
                   same labels with equal ranges (offsets may
                   differ). and/unless keep the lhs values and
                   encoding (the rhs is only a key filter, so mixed
                   encodings are fine); or merges values, so equal
                   encodings are required. scalar here is the
                   raw-unit trailing form below
    binop    := aggop ('/'|'+'|'-'|'*') matchmod? aggop
              | aggop ('>'|'>='|'<'|'<='|'=='|'!=') matchmod? aggop
                -- r9 VECTOR comparison: keeps the lhs rows (values
                   unchanged, PromQL filter semantics) where the
                   comparison against the matched rhs row holds — the
                   current-vs-baseline alerting idiom (today's counts
                   > the same window offset 1d). Sides must carry the
                   SAME output encoding so the integer comparison is
                   the raw-unit comparison; on/ignoring + group_left
                   compose exactly as for arithmetic
              | aggop ('+'|'-'|'*'|'/') INT
              | aggop ('>'|'>='|'<'|'<='|'=='|'!=') 'bool'? INT
                -- scalar forms: comparisons FILTER the vector (PromQL
                   instant-vector comparison semantics) and keep the
                   value column unchanged; with the 'bool' modifier
                   (r9) every row survives and the value becomes the
                   0/1 truth of the comparison (count encoding — avg
                   over the flags is the breach ratio, the SLO idiom). The scalar is interpreted
                   in RAW SAMPLE-VALUE units (real PromQL semantics —
                   an r8 behavior change from the r7
                   scalar-in-encoding-units contract): '> 100' after
                   sum_over_time means 100 raw units and compiles to
                   a 10000-cent threshold; after an aggregated rate,
                   100/s compiles to 1e8 micro-units. '+'/'-' scale
                   the scalar into the side's encoding the same way;
                   '*' and '/' are dimensionless: '*' multiplies
                   as-is; '/ N' (r11) stores sign-truncated
                   (value x1e6) DIV N and appends '/ppm' to the
                   encoding label, so the raw read-back is
                   raw(value)/N — `sum(increase(x[1h])) / 3600` IS
                   the per-second average idiom. N must be a NONZERO
                   integer. The scalar itself must still be an
                   INTEGER (the exactness contract; sub-unit
                   thresholds are not in the subset).
                -- vector arithmetic between two aggregated vectors:
                   with no matchmod the by-tuples must be IDENTICAL
                   (that tuple is the match key); matchmod sets an
                   explicit key (rules above). Output encodings must
                   be IDENTICAL (enforced at parse time via
                   ``output_encoding`` — adding cents to value*10000
                   would be silently wrong), except '*' also accepts
                   a count-encoded (scale-1) side as a dimensionless
                   multiplier — the group()/info-metric idiom;
                   ``result_scale`` of '*' is the product of the side
                   scales;
                   windows join on bucket_ts, so ranges must be equal
                   while offsets may differ (the week-over-week
                   shape). '/' emits truncated ppm (BIGINT, integer
                   exactness) — with equal encodings the scales
                   CANCEL, so the ppm ratio is the true raw-unit
                   ratio; rows whose rhs is 0 are dropped (PromQL's
                   +Inf is not representable). '*' runs through
                   DECIMAL(38,0) with an explicit BIGINT overflow
                   assert (cents*cents at large magnitudes would
                   otherwise wrap silently)
    aggop    := ('sum'|'avg'|'min'|'max'|'count'|'group')
                (('by'|'without') '(' label (',' label)* ')')? '(' call ')'
                -- 'group': every surviving group gets value 1
                   (PromQL group()), count encoding
                -- 'without' groups by the REMAINING labels; the output
                   keeps the labels map (minus the dropped keys)
                -- NO clause at all = scalar aggregation over every
                   series (PromQL's sum(rate(...))): one row per
                   evaluation window, columns (bucket_ts, value)
    call     := fname '(' (phi ',')? selector range (',' T)? ')'
              | subq
                -- the phi argument only for quantile_over_time; the
                   trailing whole-seconds horizon T only for
                   predict_linear
    subq     := over_time_fn '(' call '[' R ':' S ']' ')'
                -- PromQL subqueries, subset: the outer function is
                   one of the seven *_over_time aggregators; the step
                   S must EQUAL the inner call's range (the engine
                   evaluates at the window grain, so inner results
                   exist exactly once per S) and R must be a >1x
                   multiple of S, e.g.
                   max_over_time(rate(x[5m])[1h:5m]) — the worst 5m
                   rate within each hour. Double-valued inners
                   integerize to micro-units before the outer
                   aggregation (the by-agg rule); avg_over_time /
                   avg-agg over micro keep micro precision
                   (avg_scale=1). No subquery-level offset; the inner
                   call may carry one. Nested subqueries and
                   quantile-agg over subqueries are outside the
                   subset
    range    := '[' N ('m'|'h'|'d') ']'
                (('offset' N ('m'|'h'|'d')) | ('@' UNIX_SECONDS))*
                -- each at most once, either order; '@ T' pins
                   evaluation to the grid window containing T (r10)
    fname    := 'count_over_time' | 'sum_over_time' | 'avg_over_time'
              | 'min_over_time' | 'max_over_time' | 'last_over_time'
              | 'present_over_time' | 'quantile_over_time' | 'delta'
              | 'rate' | 'increase' | 'irate' | 'absent'
              | 'absent_over_time' | 'resets' | 'changes'
              | 'stdvar_over_time' | 'stddev_over_time' | 'deriv'
              | 'predict_linear' | 'holt_winters'
                -- holt_winters(sel[r], sf, tf): double exponential
                   smoothing of the in-window samples per series —
                   the events_holt_winters kernel's EXACT fixed-point
                   recursion (factors in thousandths, every /1000
                   rescale floored identically in both engines) at
                   the (series, window) grain. Prometheus init
                   s0 = y0, b0 = y1 - y0; a single-sample window
                   emits y0. sf/tf must be multiples of 0.001 in
                   (0,1). Emits the final smoothed level in integer
                   cents (value_x100 encoding, composing with the
                   cents family in binops)
                -- predict_linear(sel[r], T): the deriv regression
                   evaluated T whole seconds past the window end —
                   intercept + slope*(span + T), the capacity-planning
                   forecast. RAW VALUE units (not /s): bare
                   round(double,6) labeled value_double, aggregated
                   BIGINT micro labeled value_micro, so mixing with
                   rate-family sides in binops is rejected
                -- deriv: per-series least-squares slope of the
                   in-window samples in raw-value units per second
                   (the events_predict_linear kernel's exact
                   DECIMAL(38,0) moment arithmetic at the window
                   grain; the only float op is the final division).
                   Same encoding family as rate: round(double,6)
                   bare, BIGINT micro-units aggregated. Single-
                   sample / single-timestamp windows emit nothing
                -- stdvar: the exact integer moment form the
                   events_stddev_over_time kernel stores
                   (n*sum(c^2) - sum(c)^2, c = integer cents) floored
                   by n^2: population variance in cents^2, which IS
                   raw value^2 x10000 — emitted without any float.
                   stddev: the floor integer square root of that
                   variance (IEEE-correctly-rounded sqrt with a
                   one-step +-1 correction, exact below 2^52) =
                   stddev in cents, composing with the cents-encoded
                   sides in binops
                -- resets/changes: per series, the number of
                   consecutive-sample decreases (resets) / value
                   changes (changes) WITHIN each evaluation window,
                   compared on exact integer cents, (ts, sample_id)
                   order; a single-sample window emits 0, matching
                   PromQL (the range vector holds only in-window
                   samples, so the comparison never crosses the
                   window edge). Count encoding (x1)
                -- irate: the instant rate at each window's LAST
                   sample — last value / seconds since the series'
                   previous sample, the events_irate_5m kernel's
                   contract (the lag crosses window boundaries; real
                   PromQL uses the last two samples inside the
                   window — documented divergence). Same encoding as
                   rate: round(double,6) bare, micro-units aggregated
                -- absent: cannot be aggregated or carry matchers'
                   labels through; emits (bucket_ts, value=1) for
                   every window in the METRIC's lifetime (grid from
                   the metric frame before matcher filtering) where
                   the matcher-filtered selector has NO samples —
                   the gone-silent detector (events_absent_series)
                   as a text query
    histq    := 'histogram_quantile' '(' phi ',' aggop ')'
                -- phi a whole-percent quantile in (0,1); the inner
                   aggop must be sum by (...) (count_over_time(...))
                   over raw values or stored bucket/exp arrays, or
                   sum by (...) (rate(...)) over TIME-cumulative
                   stored bucket/exp arrays (r10)
    histcomp := ('histogram_count'|'histogram_sum')
                '(' ('rate'|'increase') '(' selector range ')' ')'
                -- r10: rate the stored histogram's count/sum
                   component counter (the native-histogram component
                   reads); aggregable like any rate
    histf    := 'histogram_fraction' '(' lo ',' hi ',' aggop ')'
                -- the fraction of the merged histogram's samples
                   with lo < value <= hi, as truncated
                   parts-per-million (the events_histogram_fraction
                   kernel's exact-ppm arithmetic per (by-labels,
                   window)). Same inner shape as histq — incl. (r11)
                   sum by (...) (rate/increase(...)) over stored
                   cumulative bucket/exp counters, Prometheus's
                   canonical native-histogram fraction spelling
                   (classic: the shared rated merge +
                   bucket_fraction_ppm over micro-rate counts; exp:
                   the rated H7 merge + two-bound mass difference).
                   lo/hi must sit ON the fixed le ladder
                   (10/25/50/100/200/500) or be an INTEGER inside
                   the ladder range (r10: exact in-bucket linear
                   interpolation), with lo = 0 meaning -Inf and
                   hi = 'Inf' meaning +Inf — at ladder bounds the
                   bucket walk is an exact count (no interpolation),
                   so the count form counts raw samples directly and
                   the result equals the stored-bucket answer by
                   construction. Real PromQL interpolates arbitrary
                   bounds inside buckets; non-integer off-ladder
                   bounds are rejected rather than approximated
                   (documented divergence)
    topk     := ('topk'|'bottomk') '(' K ',' aggop ')'
                -- deterministic tiebreak: value, then by-labels asc
                   (real PromQL ties are nondeterministic; documented)
    vfn      := ('clamp_min'|'clamp_max') '(' aggop ',' INT ')'
              | 'abs' '(' aggop ')'
                -- row-local value functions over the aggregated
                   vector; the clamp bound is an INTEGER in RAW units,
                   scaled into the side's encoding at compile time
                   (same rule as the trailing scalar). Encoding
                   unchanged
    lblfn    := 'label_replace' '(' aggop ',' STR ',' STR ',' STR
                ',' STR ')'
              | 'label_join' '(' aggop ',' STR ',' STR (',' STR)+ ')'
                -- r9 label manipulation over an agg-by vector,
                   row-local, value untouched.
                   label_replace(v, dst, repl, src, regex): dst = the
                   replacement with $1..$N group refs when src FULLY
                   matches the anchored regex, else dst's previous
                   value; absent labels read as "" (the by-key
                   convention; PromQL's empty-dst-removes-label maps
                   to ""). Bad regexes fail at parse time.
                   label_join(v, dst, sep, src...): dst = the src
                   values joined by sep. dst may overwrite an
                   existing by-label or append a new output column
    quant    := 'quantile' 'by' '(' label... ')' '(' phi ',' call ')'
                -- exact linear-interpolated quantile of the per-series
                   integer values, emitted as BIGINT value*10000
    selector := name ( '{' matcher (',' matcher)* '}' )?
    matcher  := label ('=' | '!=' | '=~' | '!~') '"' value '"'

The ``offset`` modifier shifts sample timestamps forward before
bucketing — exactly PromQL's "evaluate over data older by offset": a
sample at t lands in the evaluation window [T-range, T) iff
t in [T-range-offset, T-offset). Emitted bucket_ts is the evaluation
window start.

Evaluation model: RANGE queries at the bucket grain — the range
``[1h]`` is both the lookback and the step, so the result is one row
per (series labels / by-labels, window), the shape the rollup MVs and
Remote Read serve. Matchers compile through the same
``plans.matchers`` kernel (F8-F10) Remote Read uses, inheriting the
absent-label-matches-NEQ/NRE Prometheus semantics.

Exactness contract (same as the catalog): every emitted value is an
integer — counts, integer cents (sum/min/max/delta), half-up
value*10000 (avg), quantile*10000 (histogram_quantile), or BIGINT
micro-units for aggregated rate/increase — so compiled queries hash
identically on any engine. The one exception: BARE (unaggregated)
``rate``/``increase`` emit round(double, 6) per series, the dedicated
events_rate_5m kernel's own driver-green contract.

Output-encoding table (what one unit of the emitted BIGINT means in
raw sample-value units; ``output_encoding`` computes this label and
binops require both sides to match):

    count_over_time / present_over_time / count agg   count (x1)
    sum/min/max/last_over_time, delta                  cents (x100)
    avg_over_time                                      x10000
    quantile_over_time                                 cents x10000 (x1e6)
    stdvar_over_time                                   value^2 x10000
    stddev_over_time                                   cents (x100)
    deriv, aggregated / bare                           micro (x1e6 /s) / double
    predict_linear, aggregated / bare                  value micro / double
    rate/increase, aggregated (sum/min/max/avg)        micro (x1e6 /s)
    rate/increase, bare                                round(double, 6)
    irate, aggregated / bare                           micro / double
    histogram_quantile                                 x10000
    histogram_fraction                                 fraction ppm (x1e6)
    holt_winters                                       cents (x100)
    avg or quantile AGG over an inner encoding E       E x10000
    absent / absent_over_time                          count (0/1)
    binop '/'                                          ppm ratio (x1e6)
    scalar '/ N' (r11)                                 side encoding
                                                       x1e6 ('<base>/
                                                       ppm' composite
                                                       label; N lives
                                                       in the stored
                                                       value, not the
                                                       scale)
    subquery fn(inner[R:S])                            inner encoding
                                                       through fn
                                                       (count fns ->
                                                       count; avg ->
                                                       x10000, micro
                                                       stays micro)

``encoding_scale`` maps each label to its integer raw-units-per-unit
factor; ``result_scale`` resolves a whole parsed query (PromQuery or
BinQuery) to the divisor that converts the emitted value column back
to raw units — the HTTP endpoint divides by it at JSON
stringification so Prometheus clients read raw-unit floats, and
``_apply_scalar`` multiplies user scalars by it so thresholds are
raw-unit (see the binop grammar note).

The avg/quantile aggregation multiplies its inner encoding by a
further 10000 (the interpolation carries fractional precision in
integer form), so e.g. ``avg by (t) (sum_over_time(x[1h]))`` is cents
x10000 = raw x1e6. Scalar comparisons and '+'/'-' read the user's
integer scalar in RAW units and scale it into the side's encoding at
compile time (see _apply_scalar); '*' and '/' are dimensionless —
'/ N' (r11) stores sign-truncated (value x1e6) DIV N and appends
'/ppm' to the encoding label. rate/increase/
histogram_quantile compile onto those full-fidelity kernels
(functions/rate.py boundary extrapolation + reset correction;
bucket_percentile_scaled prometheus-mode interpolation) — no lossy
re-derivation here.

Series frame contract: a DataFrame with (metric STRING,
attributes MAP<STRING,STRING>, ts TIMESTAMP, value DOUBLE) plus an
optional ``sample_id`` (any orderable unique-per-sample column) — the
metrics_raw projection; ``events_as_series`` adapts the events table
and carries ``event_id`` as the sample_id. When present, sample_id
joins ``ts`` in every order-sensitive kernel (``delta``'s
min_by/max_by) so results are deterministic even when a series has two
samples at the same timestamp; without it, delta requires unique
timestamps per series.

Regex matcher semantics: ``=~``/``!~`` values are anchored as
``^(?:re)$`` — real PromQL's fully-anchored matching. This
deliberately DIVERGES from the matcher kernel's unanchored rlike
(which mirrors the reference's ClickHouse ``match()``,
``handler.go:227-302``): users typing PromQL text expect PromQL
anchoring; the Remote Read wire path keeps reference semantics.

Scale: a compiled plan is selector pushdown (metric equality +
attribute predicates at the scan) -> one shuffle to the
(series, window) grain -> optional tiny re-aggregation to the
by-labels — the same template every hand-built rollup query follows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark import plan_memo
from clickhouse_metrics_pipeline_spark.plan_memo import memo_expr
from clickhouse_metrics_pipeline_spark.functions.histogram import (
    _floordiv_exact,
)
from clickhouse_metrics_pipeline_spark.oracle_fragments import BOUNDS
from clickhouse_metrics_pipeline_spark.plans.matchers import (
    LabelMatcher,
    MatchType,
    compile_matchers,
)

_FUNCS = (
    "count_over_time",
    "sum_over_time",
    "avg_over_time",
    "min_over_time",
    "max_over_time",
    "last_over_time",
    "present_over_time",
    "quantile_over_time",
    "delta",
    "rate",
    "increase",
    "irate",
    "absent",
    "absent_over_time",
    "resets",
    "changes",
    "stdvar_over_time",
    "stddev_over_time",
    "deriv",
    "predict_linear",
    "holt_winters",
)
# functions whose per-series output is round(double, 6) — the
# deliberate exception to the integer contract, matching the dedicated
# events_rate_5m / events_irate_5m kernels; under an aggregation they
# are re-expressed as BIGINT micro-units (value_ppm-style) so
# cross-series summation stays order-independent and hash-exact
_DOUBLE_FUNCS = ("rate", "increase", "irate", "deriv", "predict_linear")
_AGGS = ("sum", "avg", "min", "max", "count", "group")

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<ident>[a-zA-Z_:][a-zA-Z0-9_:]*)"
    r"|(?P<str>\"(?:[^\"\\]|\\.)*\")"
    r"|(?P<num>\d+(?:\.\d+)?)"
    r"|(?P<op>=~|!~|!=|==|>=|<=|=|>|<|\{|\}|\(|\)|\[|\]|,|/|\+|-|\*|@))"
)

_OPS = {"=": MatchType.EQ, "!=": MatchType.NEQ, "=~": MatchType.RE, "!~": MatchType.NRE}


@dataclass(frozen=True)
class PromQuery:
    """Parsed form: optional aggregation over one range-function call,
    optionally wrapped in histogram_quantile (``quantile`` = integer
    percentile, e.g. 95 for 0.95)."""

    func: str
    metric: str
    matchers: tuple[LabelMatcher, ...]
    range_s: int
    agg: str | None = None
    by: tuple[str, ...] = field(default_factory=tuple)
    quantile: int | None = None
    offset_s: int = 0
    # outer operator over the aggregated vector: 'topk' | 'bottomk'
    # (k = K). param carries a whole-percent phi for agg == 'quantile'
    # or func == 'quantile_over_time'
    outer: str | None = None
    param: int | None = None
    k: int | None = None
    # 'without' aggregation: group by every label EXCEPT these (by
    # stays empty; the output keeps the pruned labels map)
    without: tuple[str, ...] = field(default_factory=tuple)
    # trailing scalar form: '> 100' filters, '* 3' rescales (INT only;
    # raw-unit semantics — see _apply_scalar). scalar_bool marks the
    # PromQL 'bool' modifier: the comparison KEEPS every row and the
    # value becomes 0/1 (count encoding) — the SLO-flag idiom
    scalar_op: str | None = None
    scalar: int | None = None
    scalar_bool: bool = False
    # second numeric argument: holt_winters' tf in thousandths (param
    # carries sf in thousandths)
    param2: int | None = None
    # outer value function: 'clamp_min' | 'clamp_max' | 'abs';
    # vfn_arg is the clamp bound in RAW units (scaled into the side's
    # encoding at compile time, like every scalar)
    vfn: str | None = None
    vfn_arg: int | None = None
    # subquery: func is the OUTER *_over_time function over the inner
    # call's per-series results; range_s is the subquery range R and
    # the step S equals inner.range_s (parser-enforced)
    inner: "PromQuery | None" = None
    # count_values("dst", v) (r9): group the aggregated vector per
    # (bucket_ts, value); the output carries dst = the stringified
    # value and value = the number of series that held it. Count
    # encoding by construction
    count_values_label: str | None = None
    # outer label function (r9): 'label_replace' with
    # lbl_args = (dst, replacement, src, regex), or 'label_join' with
    # lbl_args = (dst, sep, src1, ...). Applied to the aggregated
    # vector's label columns; encoding unchanged
    lbl_fn: str | None = None
    lbl_args: tuple[str, ...] | None = None
    # histogram_fraction bounds: ladder values, lo=0.0 meaning -Inf,
    # hi=inf meaning +Inf; None for every other query shape
    frac_lo: float | None = None
    frac_hi: float | None = None
    # '@ T' modifier (r10): pin evaluation to the single window of the
    # tumbling grid containing unix-second T — sel[r] @ T evaluates
    # the window [floor(T/r)*r, ...+r), the grid form of PromQL's
    # fixed evaluation timestamp. Composes with offset (the pinned
    # window reads data older by the offset, like real PromQL's
    # offset-after-@). Whole-query subset: rejected inside binop
    # sides and subqueries
    at_s: int | None = None
    # sort()/sort_desc() (r10): presentation order of the INSTANT
    # vector payload ('asc' | 'desc' by value, deterministic label
    # tiebreak). Like real Prometheus, a range query ignores it —
    # matrices sort by series identity; the plan itself is unchanged
    # (the driver/oracle comparison is order-free by design)
    sort_dir: str | None = None
    # histogram_count()/histogram_sum() (r10): rate the named stored
    # histogram COMPONENT counter ('count' | 'sum' column of a
    # metrics_raw-shaped frame) instead of the value column — the
    # native-histogram component reads. Parser-bound to wrap
    # rate()/increase() only
    hist_component: str | None = None


@dataclass(frozen=True)
class BinQuery:
    """Vector arithmetic or set operation between two aggregated
    vectors (see the ``binop``/``setop`` grammar rules). With no
    match modifier both sides must carry the same agg by-labels (the
    by-tuple is the vector-matching key); ``on``/``ignoring`` set an
    explicit key and ``group_left`` allows many-to-one matching
    (r9 — the r8 verdict's item 3)."""

    lhs: PromQuery
    op: str  # '/', '+', '-', '*', 'and', 'or', 'unless'
    rhs: PromQuery
    # vector matching: the explicit match key (on) or the labels
    # excluded from the lhs by-tuple (ignoring); None = legacy
    # identical-by matching
    match_on: tuple[str, ...] | None = None
    match_ignoring: tuple[str, ...] | None = None
    # many-to-one: keep every lhs row, join the (key-unique) rhs and
    # pull these rhs labels into the output. () = bare group_left
    # (no label pull); None = strict one-to-one
    group_left: tuple[str, ...] | None = None
    # r11: this BinQuery was desugared from ``group_right`` — the
    # structural sides are the USER's sides swapped (the many side is
    # always the structural lhs), so non-commutative ops ('-', '/',
    # comparisons) must apply operands in the user's original order:
    # user_lhs op user_rhs = structural_rhs op structural_lhs
    swapped: bool = False


def match_key(b: BinQuery) -> tuple[str, ...]:
    """The vector-matching label key of a BinQuery: the on(...)
    labels, the lhs by-labels minus ignoring(...), or (legacy) the
    full lhs by-tuple. Windows always also join on bucket_ts."""
    if b.match_on is not None:
        return b.match_on
    if b.match_ignoring is not None:
        return tuple(
            lbl for lbl in b.lhs.by if lbl not in b.match_ignoring
        )
    return b.lhs.by


_ARITH_OPS = ("/", "+", "-", "*")
_SET_OPS = ("and", "or", "unless")
_CMP_OPS = (">", ">=", "<", "<=", "==", "!=")
_SCALAR_ARITH = ("+", "-", "*", "/")


# base per-function encodings and the avg/quantile x10000 promotion
# (see the output-encoding table in the module docstring)
_BASE_ENC = {
    "count_over_time": "count",
    "present_over_time": "count",
    "resets": "count",
    "changes": "count",
    # population variance in integer cents^2 = raw value^2 x10000
    "stdvar_over_time": "value2_x10000",
    # floor-isqrt of the cents^2 variance = stddev in cents
    "stddev_over_time": "value_x100",
    "sum_over_time": "value_x100",
    "min_over_time": "value_x100",
    "max_over_time": "value_x100",
    "last_over_time": "value_x100",
    "delta": "value_x100",
    "holt_winters": "value_x100",
    "avg_over_time": "value_x10000",
    "quantile_over_time": "value_x1000000",
    "absent": "count",
    "absent_over_time": "count",
}
_AVG_MAP = {
    "count": "count_x10000",
    "value_x100": "value_x1000000",
    "value_x10000": "value_x100000000",
    "value_x1000000": "value_x10000000000",
    "value2_x10000": "value2_x100000000",
}
# micro-unit encodings keep their precision through an avg (the
# _micro_agg avg_scale=1 rule), so they map to themselves
_MICRO_ENCS = ("rate_micro", "value_micro")


def _avg_promote(enc: str) -> str:
    if enc in _MICRO_ENCS:
        return enc
    out = _AVG_MAP.get(enc)
    if out is None:
        raise PromQLError(
            f"avg aggregation over encoding {enc!r} is outside the "
            "subset (no defined x10000 promotion)"
        )
    return out


def _subquery_encoding(q: PromQuery) -> str:
    """Encoding of a subquery result: the inner call's (integerized)
    encoding pushed through the outer *_over_time function, then the
    optional by-aggregation — same promotion rules as everywhere."""
    i = q.inner
    if i.func in _DOUBLE_FUNCS:
        inner_enc = (
            "value_micro" if i.func == "predict_linear" else "rate_micro"
        )
    else:
        inner_enc = _BASE_ENC[i.func]
    if q.func in ("count_over_time", "present_over_time"):
        enc = "count"
    elif q.func == "avg_over_time":
        enc = _avg_promote(inner_enc)
    else:  # sum/min/max/last keep the inner encoding
        enc = inner_enc
    if q.agg is None or q.agg in ("sum", "min", "max"):
        return enc
    if q.agg in ("count", "group"):
        return "count"
    if q.agg == "avg":
        return _avg_promote(enc)
    raise PromQLError(  # pragma: no cover — quantile rejected at parse
        f"{q.agg} aggregation over a subquery is outside the subset"
    )


def output_encoding(q: PromQuery) -> str:
    """The value column's encoding label (see the module docstring's
    output-encoding table). Binary ops require both sides to carry the
    SAME label — mixing e.g. cents with value*10000 would produce
    silently wrong numbers vs PromQL; with equal labels the scales
    cancel under '/' and add consistently under '+'/'-'."""
    if q.scalar_op == "/":
        # scalar division (r11, closing a named subset residual):
        # the stored integer becomes sign·floor(|v|·1e6 / N) in the
        # side's own units, so the encoding is the side's label with
        # a further 1e6 denominator — a composite '<base>/ppm' label
        # whose scale encoding_scale() multiplies out. N itself does
        # NOT enter the scale: v' ≈ v·1e6/N already carries it, so
        # raw = v'/(base_scale·1e6) = (v/base_scale)/N exactly as
        # PromQL's `vector / N` means.
        from dataclasses import replace as _r

        return output_encoding(_r(q, scalar_op=None, scalar=None)) + "/ppm"
    if q.count_values_label is not None:
        return "count"  # count_values emits series-counts
    if q.scalar_bool:
        return "count"  # 'bool' comparisons emit 0/1 flags
    if q.frac_lo is not None:
        return "frac_ppm"  # histogram_fraction
    if q.quantile is not None:
        return "value_x10000"  # histogram_quantile
    if q.inner is not None:
        return _subquery_encoding(q)
    if q.func == "predict_linear":
        # double-valued like rate but in RAW VALUE units, not value/s —
        # its own labels so predict+rate binop mixes are rejected
        if q.agg is None:
            return "value_double"
        if q.agg in ("count", "group"):
            return "count"
        return "value_micro"
    if q.func in _DOUBLE_FUNCS:
        if q.agg is None:
            return "rate_double"
        if q.agg in ("count", "group"):
            return "count"
        # sum/min/max stay micro; avg of micro uses avg_scale=1, so
        # the label is micro for every aggregated form
        return "rate_micro"
    base = _BASE_ENC[q.func]
    if q.agg is None or q.agg in ("sum", "min", "max"):
        return base
    if q.agg in ("count", "group"):
        return "count"
    # avg / quantile aggregation: inner encoding x10000
    return _AVG_MAP[base]


ENC_SCALE: dict[str, int] = {
    "count": 1,
    "count_x10000": 10**4,
    "value_x100": 10**2,
    "value_x10000": 10**4,
    "value_x1000000": 10**6,
    "value_x100000000": 10**8,
    "value_x10000000000": 10**10,
    # raw unit is value^2 (variance); x10000 per the table
    "value2_x10000": 10**4,
    "value2_x100000000": 10**8,
    "rate_micro": 10**6,
    "value_micro": 10**6,
    "frac_ppm": 10**6,
    # double encodings are already raw-unit
    "rate_double": 1,
    "value_double": 1,
}


def encoding_scale(enc: str) -> int:
    """Integer factor between the emitted value column and raw
    sample-value units for an ``output_encoding`` label. The
    composite ``<base>/ppm`` label (scalar division, r11) multiplies
    the base scale by the division's 1e6 denominator."""
    if enc.endswith("/ppm"):
        return ENC_SCALE[enc[: -len("/ppm")]] * 10**6
    return ENC_SCALE[enc]


def result_scale(q) -> int:
    """Raw-unit divisor for a whole parsed query. PromQuery: the
    side's encoding scale. BinQuery: '/' emits a ppm ratio whose
    per-side scales CANCEL (1e6); '+'/'-' keep the (equal) side
    scale; '*' multiplies units, so the scales multiply; set ops
    (and/or/unless) emit lhs rows in the lhs encoding."""
    if isinstance(q, BinQuery):
        if q.op == "/":
            return 10**6
        s = encoding_scale(output_encoding(q.lhs))
        if q.op == "*":
            # units multiply, so the scales multiply; with the
            # dimensionless count-side exception (scale 1) this is
            # the lhs scale, and with equal encodings it is s^2
            return s * encoding_scale(output_encoding(q.rhs))
        return s
    return encoding_scale(output_encoding(q))


def evaluation_grain_seconds(q) -> int:
    """The engine's step in seconds: one emitted sample per window of
    this size (the range IS the step — see the module docstring's
    evaluation-model note). BinQuery sides are parser-checked to the
    same grain, so the lhs speaks for both; a subquery emits at the
    OUTER range R. The HTTP API compares a client-requested ``step``
    against this to raise the Prometheus step-mismatch warning."""
    if isinstance(q, BinQuery):
        return evaluation_grain_seconds(q.lhs)
    return q.range_s


def query_lookback_seconds(q) -> int:
    """Total trailing INPUT lookback of a parsed query: the widest
    (range + offset + nested-subquery lookback) across the tree. An
    output window at T can only read samples in [T - lookback, T + the
    window's own range), so the serving layer uses this to clip the
    series frame to the request span BEFORE compiling (r10 verdict
    item 2)."""
    if isinstance(q, BinQuery):
        return max(
            query_lookback_seconds(q.lhs), query_lookback_seconds(q.rhs)
        )
    lb = q.range_s + (q.offset_s or 0)
    if q.inner is not None:
        lb += query_lookback_seconds(q.inner)
    return lb


def input_time_bounds(
    q, start_s: float | None, end_s: float | None
) -> tuple[float | None, float | None]:
    """The [lo, hi] epoch-second span of input samples that can
    contribute to the request's output grid — conservative by at most
    one window on each side. r10 verdict item 2: the HTTP layer
    previously compiled against the UNCLIPPED routed table, so
    histogram_quantile's bounded dispatch probes (and the main plan's
    scan) read the table with only the metric/matcher pushdown — a
    NEGATIVE probe had to exhaust the full table per request. Filtering
    ``ts`` to these bounds before compile lets the probes and the plan
    both prune to the request's date partitions.

    An ``@``-pinned node evaluates at its own fixed window regardless
    of the request grid (r10 ADVICE item: a pin outside [start, end]
    must still be readable), so its bounds come from the pinned
    timestamp. Either side is None when unbounded (no start given and
    no pin)."""
    if isinstance(q, BinQuery):
        l1, h1 = input_time_bounds(q.lhs, start_s, end_s)
        l2, h2 = input_time_bounds(q.rhs, start_s, end_s)
        lo = None if l1 is None or l2 is None else min(l1, l2)
        hi = None if h1 is None or h2 is None else max(h1, h2)
        return lo, hi
    lb = float(query_lookback_seconds(q))
    if getattr(q, "at_s", None) is not None:
        w = float((q.at_s // q.range_s) * q.range_s)
        return w - lb, w + lb
    lo = None if start_s is None else start_s - lb
    hi = None if end_s is None else end_s + lb
    return lo, hi


class PromQLError(ValueError):
    pass


# label_replace executes with Java regex (rlike / regexp_replace), but
# the cheap parse-time syntax gate is Python's re.compile. r9 ADVICE
# item: constructs Python accepts but Java rejects or reinterprets must
# fail the PARSE (HTTP 400), not blow up in the executor (HTTP 500).
# The checked common subset below is literal in both dialects and in
# PromQL's RE2.
_PY_ONLY_GROUPS = (
    ("(?P<", "Python-only named group (?P<name>...)"),
    ("(?P=", "Python-only named backreference (?P=name)"),
    ("(?#", "Python-only inline comment (?#...)"),
    ("(?(", "Python-only conditional group (?(id)...)"),
)


def _scan_py_only_regex(regex: str) -> str | None:
    """Escape-aware scan for the dialect-divergent constructs. r10
    ADVICE item (low): the old substring checks false-positived on
    escaped literals — ``\\\\Z`` (a literal backslash then ``Z``)
    contains the ``\\Z`` marker but is portable, and ``\\(?P<`` is a
    literal paren. Walk the pattern consuming escape pairs, so a
    marker only fires at an UNESCAPED ``(`` / on a real ``\\Z``
    anchor escape."""
    i = 0
    while i < len(regex):
        ch = regex[i]
        if ch == "\\":
            if i + 1 < len(regex) and regex[i + 1] == "Z":
                return r"\Z differs between dialects (use $)"
            i += 2  # any other escape pair is literal in both dialects
            continue
        if ch == "(":
            for marker, why in _PY_ONLY_GROUPS:
                if regex.startswith(marker, i):
                    return why
        i += 1
    return None


def _validate_label_replace(regex: str, repl: str) -> None:
    """Parse-time validation of label_replace's regex AND replacement
    against the EXECUTING dialect's rules (r9 ADVICE item).

    Regex: must compile under Python re (the syntax gate) and avoid
    the Python-only constructs Java regex rejects or reinterprets.
    Replacement: Java's Matcher.appendReplacement treats ``$`` as a
    group reference and ``\\`` as an escape — a lone ``$`` or a stray
    backslash is an executor-side IllegalArgumentException. The subset
    accepted here: ``$N`` with N a group that exists in the pattern,
    ``\\$`` / ``\\\\`` escapes, and plain literals."""
    try:
        ngroups = re.compile(regex).groups
    except re.error as exc:
        raise PromQLError(
            f"label_replace regex {regex!r}: {exc}"
        ) from None
    why = _scan_py_only_regex(regex)
    if why is not None:
        raise PromQLError(
            f"label_replace regex {regex!r}: {why} is outside the "
            "dialect-portable subset (executed with Java regex)"
        )
    i = 0
    while i < len(repl):
        ch = repl[i]
        if ch == "\\":
            if i + 1 >= len(repl) or repl[i + 1] not in ("$", "\\"):
                raise PromQLError(
                    f"label_replace replacement {repl!r}: backslash "
                    "must escape '$' or '\\' (Java replacement rules)"
                )
            i += 2
            continue
        if ch == "$":
            m = re.match(r"\$(\d+)", repl[i:])
            if not m:
                raise PromQLError(
                    f"label_replace replacement {repl!r}: '$' must be "
                    "a $N group reference or escaped as \\$ (Java "
                    "replacement rules)"
                )
            digits = m.group(1)
            # r10 ADVICE item (low): Java's appendReplacement consumes
            # the LONGEST legal group-number prefix and leaves the
            # remaining digits as literals — '$12' with one group is
            # group 1 then a literal '2', not an error. Only a first
            # digit exceeding the group count (no legal prefix at all)
            # is an executor-side IndexOutOfBounds, so only that 400s.
            ref = int(digits[0])
            if ref > ngroups:
                raise PromQLError(
                    f"label_replace replacement {repl!r}: group "
                    f"${digits[0]} exceeds the pattern's "
                    f"{ngroups} group(s)"
                )
            j = 1
            while (
                j < len(digits)
                and ref * 10 + int(digits[j]) <= ngroups
            ):
                ref = ref * 10 + int(digits[j])
                j += 1
            i += 1 + j
            continue
        i += 1


_ESCAPES = {"\\": "\\", '"': '"', "n": "\n", "t": "\t", "r": "\r"}


def _unquote(raw: str) -> str:
    """Decode a quoted matcher value with a real escape pass: ``\\\\``
    before ``\\\"`` (a single str.replace mis-decodes ``\\\\\"``)."""
    body, out, i = raw[1:-1], [], 0
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise PromQLError(f"unexpected input at: {text[pos:]!r}")
            break
        pos = m.end()
        for kind in ("ident", "str", "num", "op"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def eat(self, kind=None, value=None):
        k, v = self.peek()
        if k is None or (kind and k != kind) or (value and v != value):
            raise PromQLError(
                f"expected {value or kind}, got {v!r} at token {self.i}"
            )
        self.i += 1
        return v

    def _maybe_scalar(self, q: PromQuery) -> PromQuery:
        """Attach a trailing scalar form (comparison filter or
        '+'/'-'/'*' arithmetic, raw-unit semantics — see
        _apply_scalar) if one follows; comparison binds tighter than
        the set ops, so both sides of and/or/unless route through
        here before the set op is parsed."""
        from dataclasses import replace

        k2, v2 = self.peek()
        nxt1 = (
            self.toks[self.i + 1]
            if self.i + 1 < len(self.toks)
            else (None, None)
        )
        nxt2 = (
            self.toks[self.i + 2]
            if self.i + 2 < len(self.toks)
            else (None, None)
        )
        scalar_next = nxt1[0] == "num"
        # PromQL 'bool' modifier: '> bool 10' — comparisons only
        bool_next = nxt1 == ("ident", "bool") and nxt2[0] == "num"
        # only claim the operator when a NUMBER (or 'bool' NUMBER)
        # follows — a vector rhs (comparison filter / arithmetic
        # between vectors) parses in the binop branches instead (r9:
        # vector comparisons exist, so `> sum by (...)` is no longer
        # a parse error here)
        if not (
            k2 == "op"
            and (
                (scalar_next and (v2 in _CMP_OPS or v2 in _ARITH_OPS))
                or (bool_next and v2 in _CMP_OPS)
            )
        ):
            return q
        self.eat("op")
        sbool = False
        if self.peek() == ("ident", "bool"):
            self.eat("ident")
            sbool = True
        raw = self.eat("num")
        if "." in raw:
            raise PromQLError(
                f"scalar must be an integer (the exactness "
                f"contract), got {raw!r}"
            )
        if v2 == "/" and int(raw) == 0:
            raise PromQLError("scalar division by zero")
        if q.agg is None:
            raise PromQLError(
                "scalar ops apply to aggregated vectors only"
            )
        return replace(q, scalar_op=v2, scalar=int(raw), scalar_bool=sbool)

    def _frac_bound(
        self, *, allow_zero: bool = False, allow_inf: bool = False
    ) -> float:
        """A histogram_fraction bound: a value ON the fixed le ladder
        (exact bucket-walk counts, no interpolation — see the histf
        grammar note), 0 for -Inf (lo only), 'Inf' for +Inf (hi
        only)."""
        k, v = self.peek()
        if k == "ident" and v == "Inf":
            if not allow_inf:
                raise PromQLError("Inf is only valid as the hi bound")
            self.eat("ident")
            return float("inf")
        val = float(self.eat("num"))
        if allow_zero and val == 0:
            return 0.0
        if val in BOUNDS:
            return val
        if 0 < val < max(BOUNDS) and val == int(val):
            # off-ladder INTEGER bounds (r10): in-bucket linear
            # interpolation — still exact, because the interpolated
            # count is the rational (cum_before·D + cnt·(B−prev)) / D
            # with integer terms (see _hist_fraction_plan)
            return val
        raise PromQLError(
            f"histogram_fraction bounds must be 0 / Inf, a ladder "
            f"value {BOUNDS}, or an INTEGER inside the ladder range "
            f"(in-bucket interpolation) — got {val}; non-integer or "
            f"beyond-ladder bounds are outside the exactness contract"
        )

    def _phi_percent(self) -> int:
        phi = float(self.eat("num"))
        p100 = phi * 100
        if not (0 < phi < 1) or abs(p100 - round(p100)) > 1e-9:
            raise PromQLError(
                f"quantile subset supports whole-percent values in "
                f"(0,1), got {phi}"
            )
        return int(round(p100))

    def parse(self) -> PromQuery | BinQuery:
        from dataclasses import replace

        k, v = self.peek()
        if k == "ident" and v in ("sort", "sort_desc"):
            # sort()/sort_desc() (r10): instant-payload presentation
            # order only — wraps the whole query, plan unchanged
            self.eat("ident")
            self.eat("op", "(")
            q = self._maybe_scalar(self._aggop_or_call())
            self.eat("op", ")")
            if self.i != len(self.toks):
                raise PromQLError(f"trailing input from token {self.i}")
            return replace(
                q, sort_dir="desc" if v == "sort_desc" else "asc"
            )
        if k == "ident" and v in ("topk", "bottomk"):
            self.eat("ident")
            self.eat("op", "(")
            raw_k = self.eat("num")
            if "." in raw_k or int(raw_k) < 1:
                raise PromQLError(f"topk/bottomk K must be a positive "
                                  f"integer, got {raw_k!r}")
            self.eat("op", ",")
            q = self._aggop_or_call()
            self.eat("op", ")")
            if q.agg is None or q.without or not q.by:
                raise PromQLError(
                    "topk/bottomk subset requires an aggregated inner "
                    "expression with a by (...) clause so the tiebreak "
                    "order is well-defined (without-form and the no-by "
                    "scalar aggregation have no orderable by-columns)"
                )
            q = replace(q, outer=v, k=int(raw_k))
            if self.i != len(self.toks):
                raise PromQLError(f"trailing input from token {self.i}")
            return q
        if k == "ident" and v == "count_values":
            # count_values("dst", aggop): group the aggregated vector
            # by its VALUE per window — the value-distribution panel
            # (how many series sat at each level). Subset: groups by
            # value only (no by/without on the outer op); output
            # labels = just dst (stringified value), count encoding
            self.eat("ident")
            self.eat("op", "(")
            dst = _unquote(self.eat("str"))
            self.eat("op", ",")
            q = self._aggop_or_call()
            self.eat("op", ")")
            if q.agg is None or q.without or not q.by:
                raise PromQLError(
                    "count_values() subset applies to agg by (...) "
                    "vectors"
                )
            if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
                raise PromQLError(
                    f"count_values() label {dst!r} is not a valid "
                    "label name"
                )
            if dst in ("bucket_ts", "value"):
                raise PromQLError(
                    f"count_values() label {dst!r} collides with the "
                    "output's reserved columns"
                )
            q = replace(q, count_values_label=dst)
            if self.i != len(self.toks):
                raise PromQLError(f"trailing input from token {self.i}")
            return q
        if k == "ident" and v in ("clamp_min", "clamp_max", "abs"):
            self.eat("ident")
            self.eat("op", "(")
            q = self._aggop_or_call()
            arg = None
            if v != "abs":
                self.eat("op", ",")
                raw = self.eat("num")
                if "." in raw:
                    raise PromQLError(
                        f"clamp bound must be an integer (raw units; "
                        f"the exactness contract), got {raw!r}"
                    )
                arg = int(raw)
            self.eat("op", ")")
            if q.agg is None:
                raise PromQLError(
                    f"{v}() subset applies to aggregated vectors only"
                )
            q = replace(q, vfn=v, vfn_arg=arg)
            if self.i != len(self.toks):
                raise PromQLError(f"trailing input from token {self.i}")
            return q
        if k == "ident" and v in ("label_replace", "label_join"):
            # label_replace(v, "dst", "repl", "src", "regex") /
            # label_join(v, "dst", "sep", "src", ...): PromQL's label
            # manipulation over an agg-by vector (r9). The regex is
            # fully anchored like every PromQL regex; $1..$N group
            # refs in the replacement; a no-match keeps the previous
            # dst value (absent labels read as "", the by-key
            # convention)
            self.eat("ident")
            self.eat("op", "(")
            q = self._aggop_or_call()
            args = []
            while self.peek() == ("op", ","):
                self.eat("op", ",")
                args.append(_unquote(self.eat("str")))
            self.eat("op", ")")
            if q.agg is None or q.without or not q.by:
                raise PromQLError(
                    f"{v}() subset applies to agg by (...) vectors "
                    "(its job is rewriting the by-label columns)"
                )
            want = 4 if v == "label_replace" else None
            if (want and len(args) != want) or (
                want is None and len(args) < 2
            ):
                raise PromQLError(
                    f"{v}() takes "
                    + ("(dst, replacement, src, regex)"
                       if v == "label_replace"
                       else "(dst, sep, src, ...)")
                    + f" string arguments, got {len(args)}"
                )
            dst = args[0]
            if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", dst):
                raise PromQLError(
                    f"{v}() destination {dst!r} is not a valid label "
                    "name"
                )
            if dst in ("bucket_ts", "value"):
                raise PromQLError(
                    f"{v}() destination {dst!r} collides with the "
                    "output's reserved columns"
                )
            if v == "label_replace":
                # fail at parse time on a bad regex, like real PromQL
                # — validated against the EXECUTING Java dialect's
                # rules, including the replacement string (r9 ADVICE
                # item: Python-only syntax or a stray $/\ used to pass
                # this gate and 500 in the executor)
                _validate_label_replace(args[3], args[1])
            q = replace(q, lbl_fn=v, lbl_args=tuple(args))
            if self.i != len(self.toks):
                raise PromQLError(f"trailing input from token {self.i}")
            return q
        if k == "ident" and v == "histogram_fraction":
            self.eat("ident")
            self.eat("op", "(")
            lo = self._frac_bound(allow_zero=True)
            self.eat("op", ",")
            hi = self._frac_bound(allow_inf=True)
            self.eat("op", ",")
            q = self._aggop_or_call()
            self.eat("op", ")")
            if (
                q.agg != "sum"
                or q.func not in ("count_over_time", "rate", "increase")
                or q.without
            ):
                raise PromQLError(
                    "histogram_fraction subset requires the merged-"
                    "histogram shape: sum by (...) "
                    "(count_over_time(selector[range])) or, over "
                    "stored cumulative bucket counters (classic or "
                    "exp), sum by (...) (rate/increase(sel[range])) "
                    "— Prometheus's canonical native-histogram "
                    "fraction spelling (r11)"
                )
            if not hi > lo:
                raise PromQLError(
                    f"histogram_fraction bounds must satisfy lo < hi, "
                    f"got {lo} >= {hi}"
                )
            q = replace(q, frac_lo=lo, frac_hi=hi)
            if self.i != len(self.toks):
                raise PromQLError(f"trailing input from token {self.i}")
            return q
        if k == "ident" and v == "histogram_quantile":
            self.eat("ident")
            self.eat("op", "(")
            p100 = self._phi_percent()
            self.eat("op", ",")
            q = self._aggop_or_call()
            self.eat("op", ")")
            if (
                q.agg != "sum"
                or q.func not in ("count_over_time", "rate", "increase")
                or q.without
            ):
                raise PromQLError(
                    "histogram_quantile subset requires the merged-"
                    "histogram shape: sum by (...) "
                    "(count_over_time(selector[range])) or, over "
                    "stored CUMULATIVE bucket arrays, sum by (...) "
                    "(rate(selector[range])) / (increase(...)) — the "
                    "without-form has no by-columns to group the "
                    "histograms on"
                )
            if q.hist_component is not None:
                raise PromQLError(
                    "histogram_quantile over histogram_count/"
                    "histogram_sum makes no sense — the component "
                    "rate is a scalar series, not a histogram"
                )
            if q.func in ("rate", "increase") and "le" in q.by:
                # r10: in this engine le is the bucket-array dimension
                # and is consumed by the walk, never a by-column — the
                # canonical 'sum by (le)' spelling over per-le _bucket
                # series maps to the bare array form (documented
                # divergence, same as the count_over_time path)
                raise PromQLError(
                    "histogram_quantile(φ, sum by (le) (rate(...))): "
                    "le is the stored bucket-array dimension here — "
                    "drop it from the by-clause (grouping happens per "
                    "le internally before the quantile walk)"
                )
            # replace(), not a positional rebuild: the inner call may
            # carry offset_s
            q = replace(q, quantile=p100)
        else:
            q = self._maybe_scalar(self._aggop_or_call())
            k2, v2 = self.peek()
            if k2 == "ident" and v2 in _SET_OPS:
                self.eat("ident")
                on, ignoring, gl, _gr = self._match_modifier()
                if gl is not None:
                    raise PromQLError(
                        "group_left/group_right do not apply to set "
                        "operations (real PromQL forbids grouping on "
                        "and/or/unless)"
                    )
                rhs = self._maybe_scalar(self._aggop_or_call())
                b = BinQuery(
                    q, v2, rhs, match_on=on, match_ignoring=ignoring
                )
                self._check_binop(b, "set-op")
                if v2 == "or":
                    enc_l, enc_r = output_encoding(q), output_encoding(rhs)
                    if enc_l != enc_r:
                        raise PromQLError(
                            "'or' merges values from both sides, so "
                            "the output encodings must match (got "
                            f"{enc_l} vs {enc_r}); and/unless accept "
                            "mixed encodings (rhs is only a key "
                            "filter)"
                        )
                if self.i != len(self.toks):
                    raise PromQLError(
                        f"trailing input from token {self.i}"
                    )
                return b
            if k2 == "op" and v2 in _ARITH_OPS and q.scalar_op is None:
                self.eat("op")
                on, ignoring, gl, gr = self._match_modifier()
                rhs = self._aggop_or_call()
                if gr:
                    # group_right desugars to the mirror group_left:
                    # the many side (user's RIGHT) becomes the
                    # structural lhs; swapped=True keeps '-'/'/' in
                    # the user's operand order at compile time
                    b = BinQuery(
                        rhs, v2, q,
                        match_on=on, match_ignoring=ignoring,
                        group_left=gl, swapped=True,
                    )
                else:
                    b = BinQuery(
                        q, v2, rhs,
                        match_on=on, match_ignoring=ignoring,
                        group_left=gl,
                    )
                self._check_binop(b, "binary-op")
                enc_l, enc_r = output_encoding(q), output_encoding(rhs)
                if enc_l != enc_r and not (
                    v2 == "*" and "count" in (enc_l, enc_r)
                ):
                    # '*' by a count-encoded vector (scale 1) is the
                    # dimensionless-multiplier exception — the
                    # group()/info-metric enrichment idiom; every
                    # other mix of scaled units would be silently
                    # wrong
                    raise PromQLError(
                        "binary-op sides must carry the same output "
                        f"encoding (got {enc_l} vs {enc_r}) — mixing "
                        "scaled units would be silently wrong; see "
                        "the output-encoding table in the module "
                        "docstring ('*' additionally accepts a "
                        "count-encoded side as a dimensionless "
                        "multiplier)"
                    )
                if self.i != len(self.toks):
                    raise PromQLError(
                        f"trailing input from token {self.i}"
                    )
                return b
            if k2 == "op" and v2 in _CMP_OPS and q.scalar_op is None:
                # VECTOR comparison filter (r9): lhs op rhs between two
                # aggregated vectors keeps the lhs rows (values
                # unchanged, PromQL filter semantics) where the
                # comparison holds against the matched rhs row — the
                # current-vs-baseline alerting idiom (e.g. today's
                # counts > the same window offset 1d). The scalar form
                # (`> INT`) was already consumed by _maybe_scalar, so
                # reaching here means the rhs is a vector. Sides must
                # carry the SAME output encoding (a comparison across
                # scales would be silently wrong); on/ignoring +
                # group_left compose exactly as for arithmetic.
                self.eat("op")
                on, ignoring, gl, gr = self._match_modifier()
                rhs = self._maybe_scalar(self._aggop_or_call())
                if gr:
                    # group_right comparison: the kept (and emitted)
                    # rows are the MANY side's — the user's RIGHT —
                    # with the comparison still in the user's operand
                    # order (swapped=True)
                    b = BinQuery(
                        rhs, v2, q,
                        match_on=on, match_ignoring=ignoring,
                        group_left=gl, swapped=True,
                    )
                else:
                    b = BinQuery(
                        q, v2, rhs,
                        match_on=on, match_ignoring=ignoring,
                        group_left=gl,
                    )
                self._check_binop(b, "comparison")
                enc_l, enc_r = output_encoding(q), output_encoding(rhs)
                if enc_l != enc_r:
                    raise PromQLError(
                        "vector comparison sides must carry the same "
                        f"output encoding (got {enc_l} vs {enc_r}) — "
                        "comparing across scaled units would be "
                        "silently wrong"
                    )
                if self.i != len(self.toks):
                    raise PromQLError(
                        f"trailing input from token {self.i}"
                    )
                return b
        if self.i != len(self.toks):
            raise PromQLError(f"trailing input from token {self.i}")
        return q

    def _match_modifier(
        self,
    ) -> tuple[
        tuple[str, ...] | None,
        tuple[str, ...] | None,
        tuple[str, ...] | None,
        bool,
    ]:
        """Optional vector-matching modifier after a binop operator:
        ``('on'|'ignoring') '(' labels ')'`` then optionally
        ``('group_left'|'group_right') ('(' labels ')')?``. Returns
        (on, ignoring, group_labels, is_right); all None/False when
        absent. ``group_right`` (r11 — previously rejected with a
        swap-the-sides hint) is DESUGARED at the construction sites
        into the mirror group_left BinQuery with structurally swapped
        sides and ``swapped=True``, so non-commutative ops still
        evaluate in the user's operand order."""
        k, v = self.peek()
        if not (k == "ident" and v in ("on", "ignoring")):
            return None, None, None, False
        self.eat("ident")
        labels = self._label_list()
        on = labels if v == "on" else None
        ignoring = labels if v == "ignoring" else None
        gl: tuple[str, ...] | None = None
        right = False
        k2, v2 = self.peek()
        if k2 == "ident" and v2 in ("group_left", "group_right"):
            right = v2 == "group_right"
            self.eat("ident")
            gl = self._label_list() if self.peek() == ("op", "(") else ()
        return on, ignoring, gl, right

    def _check_binop(self, b: BinQuery, what: str) -> None:
        """Shared parse-time validation for vector binops/set-ops:
        agg-by sides, aligned ranges, and the matching-key rules.
        Raises PromQLError; encoding compatibility is checked at the
        call sites (per-op rules differ)."""
        for side, name in ((b.lhs, "left"), (b.rhs, "right")):
            if side.agg is None or side.without or not side.by:
                raise PromQLError(
                    f"{what} {name} side must be an "
                    "agg by (...) expression (the by-tuple is "
                    "the vector-matching key)"
                )
            if side.at_s is not None:
                raise PromQLError(
                    f"@ on a {what} {name} side is outside the subset "
                    "— pinning one side's window while the other "
                    "evaluates the full grid would join mismatched "
                    "evaluation times"
                )
        if b.lhs.range_s != b.rhs.range_s:
            raise PromQLError(
                f"{what} sides must use the same range so "
                "their windows align (offsets may differ), "
                f"got {b.lhs.range_s}s vs {b.rhs.range_s}s"
            )
        if b.match_on is None and b.match_ignoring is None:
            if b.lhs.by != b.rhs.by:
                raise PromQLError(
                    f"{what} sides must aggregate by the same "
                    f"labels, got {b.lhs.by} vs {b.rhs.by} — use "
                    "on(...)/ignoring(...) for an explicit match key"
                )
            return
        if b.op == "or":
            raise PromQLError(
                "'or' with on(...)/ignoring(...) is outside the "
                "subset (the union's label sets would differ per "
                "side); and/unless and the arithmetic ops accept "
                "match modifiers"
            )
        key = match_key(b)
        if not key:
            raise PromQLError(
                "vector matching key is empty — on(...) needs at "
                "least one label / ignoring(...) must leave at least "
                "one lhs by-label"
            )
        lname, rname = ("right", "left") if b.swapped else ("left", "right")
        if b.match_on is not None and not set(key) <= set(b.lhs.by):
            raise PromQLError(
                f"on({', '.join(key)}) labels must be a subset of "
                f"the {lname} (many) side's by-labels {b.lhs.by}"
            )
        if b.op in _SET_OPS:
            # and/unless: the rhs is only a key filter; it may carry
            # extra labels beyond the key
            if not set(key) <= set(b.rhs.by):
                raise PromQLError(
                    f"match key {key} must be a subset of the right "
                    f"side's by-labels {b.rhs.by}"
                )
            return
        if b.group_left is None:
            # strict one-to-one: both sides reduce to exactly the key
            if set(b.lhs.by) != set(key) or set(b.rhs.by) != set(key):
                raise PromQLError(
                    f"one-to-one matching on key {key} requires both "
                    f"sides to aggregate by exactly those labels "
                    f"(got {b.lhs.by} vs {b.rhs.by}) — use "
                    "group_left/group_right for many-to-one"
                )
            return
        extras = b.group_left
        gname = "group_right" if b.swapped else "group_left"
        if set(extras) & (set(b.lhs.by) | set(key)):
            raise PromQLError(
                f"{gname}({', '.join(extras)}) labels must not "
                f"collide with the {lname} (many) side's by-labels "
                "or the match key"
            )
        if set(b.rhs.by) != set(key) | set(extras):
            raise PromQLError(
                f"{gname} requires the {rname} (one) side to "
                "aggregate by exactly the match key plus the pulled "
                f"labels, got {b.rhs.by} vs key {key} + "
                f"{gname}{extras}"
            )

    def _label_list(self) -> tuple[str, ...]:
        self.eat("op", "(")
        labels = [self.eat("ident")]
        while self.peek() == ("op", ","):
            self.eat("op", ",")
            labels.append(self.eat("ident"))
        self.eat("op", ")")
        return tuple(labels)

    def _by_clause(self) -> tuple[str, ...]:
        self.eat("ident", "by")
        self.eat("op", "(")
        by = [self.eat("ident")]
        while self.peek() == ("op", ","):
            self.eat("op", ",")
            by.append(self.eat("ident"))
        self.eat("op", ")")
        return tuple(by)

    def _aggop_or_call(self) -> PromQuery:
        from dataclasses import replace

        k, v = self.peek()
        if k == "ident" and v == "quantile":
            self.eat("ident")
            by = self._by_clause()
            self.eat("op", "(")
            p100 = self._phi_percent()
            self.eat("op", ",")
            q = self._aggable_call()
            self.eat("op", ")")
            if q.func in _DOUBLE_FUNCS:
                raise PromQLError(
                    "quantile subset takes integer-valued calls only "
                    "(rate/increase are double-valued)"
                )
            if q.param is not None or q.inner is not None:
                raise PromQLError(
                    "quantile by (...) over a parameterized call "
                    "(quantile_over_time / holt_winters / "
                    "predict_linear) or a subquery is outside the "
                    "subset"
                )
            return replace(q, agg="quantile", by=by, param=p100)
        if k == "ident" and v in _AGGS:
            agg = self.eat("ident")
            if self.peek() == ("ident", "without"):
                self.eat("ident", "without")
                without = self._label_list()
                self.eat("op", "(")
                q = self._aggable_call()
                self.eat("op", ")")
                return replace(q, agg=agg, without=without)
            if self.peek() == ("ident", "by"):
                by = self._by_clause()
                self.eat("op", "(")
                q = self._aggable_call()
                self.eat("op", ")")
                return replace(q, agg=agg, by=by)
            # no clause: scalar aggregation over every series —
            # sum(rate(...)) — one row per evaluation window
            self.eat("op", "(")
            q = self._aggable_call()
            self.eat("op", ")")
            return replace(q, agg=agg, by=())
        return self._call()

    def _aggable_call(self) -> PromQuery:
        q = self._call()
        if q.func in ("absent", "absent_over_time"):
            raise PromQLError(
                f"{q.func}() cannot be aggregated — its vector is "
                "label-less (one 0/1 row per window)"
            )
        return q

    def _call(self) -> PromQuery:
        from dataclasses import replace

        fname = self.eat("ident")
        if fname in ("histogram_count", "histogram_sum"):
            # native-histogram component reads (r10):
            # histogram_count(rate(x[r])) rates the stored histogram's
            # observation-count counter, histogram_sum its sum counter
            # — the component column swaps in for value at compile
            self.eat("op", "(")
            inner = self._call()
            self.eat("op", ")")
            if inner.func not in ("rate", "increase") or (
                inner.inner is not None
            ):
                raise PromQLError(
                    f"{fname}() subset wraps rate()/increase() of a "
                    "stored-histogram selector (the component is a "
                    "cumulative counter; other calls read the value "
                    "column directly)"
                )
            return replace(inner, hist_component=fname.split("_", 1)[1])
        if fname not in _FUNCS:
            raise PromQLError(
                f"unsupported function {fname!r} (subset: {_FUNCS})"
            )
        self.eat("op", "(")
        param = None
        if fname == "quantile_over_time":
            param = self._phi_percent()
            self.eat("op", ",")
        k2, v2 = self.peek()
        nxt = (
            self.toks[self.i + 1]
            if self.i + 1 < len(self.toks)
            else (None, None)
        )
        if k2 == "ident" and v2 in _FUNCS and nxt == ("op", "("):
            # SUBQUERY: fname(inner_call[R:S]) — the outer *_over_time
            # function over the inner call's per-series window results.
            # The inner ident counts as a CALL only when '(' follows
            # (two-token lookahead, real PromQL disambiguation — r8
            # ADVICE item): a metric literally named 'rate' stays
            # queryable as avg_over_time(rate[1h])
            return self._subquery(fname)
        metric = self.eat("ident")
        matchers: list[LabelMatcher] = []
        if self.peek() == ("op", "{"):
            self.eat("op", "{")
            while self.peek() != ("op", "}"):
                name = self.eat("ident")
                op = self.eat("op")
                if op not in _OPS:
                    raise PromQLError(f"bad matcher op {op!r}")
                raw = self.eat("str")
                val = _unquote(raw)
                if _OPS[op] in (MatchType.RE, MatchType.NRE):
                    # PromQL fully anchors regex matchers (see module
                    # docstring for the documented divergence from the
                    # unanchored Remote Read matcher kernel).
                    val = f"^(?:{val})$"
                matchers.append(LabelMatcher(_OPS[op], name, val))
                if self.peek() == ("op", ","):
                    self.eat("op", ",")
            self.eat("op", "}")
        self.eat("op", "[")
        range_s = self._duration()
        self.eat("op", "]")
        offset_s = 0
        at_s = None
        # offset and @ may appear in either order, each at most once
        # (real PromQL accepts both orders)
        while True:
            if self.peek() == ("ident", "offset") and offset_s == 0:
                self.eat("ident", "offset")
                offset_s = self._duration()
                continue
            if self.peek() == ("op", "@") and at_s is None:
                self.eat("op", "@")
                raw_at = self.eat("num")
                if "." in raw_at:
                    raise PromQLError(
                        "@ timestamp must be whole unix seconds, got "
                        f"{raw_at!r}"
                    )
                at_s = int(raw_at)
                continue
            break
        param2 = None
        if fname == "predict_linear":
            # trailing horizon argument: predict_linear(sel[r], T) —
            # whole seconds, like real PromQL's scalar t
            self.eat("op", ",")
            raw_t = self.eat("num")
            if "." in raw_t:
                raise PromQLError(
                    f"predict_linear horizon must be whole seconds, "
                    f"got {raw_t!r}"
                )
            param = int(raw_t)
        elif fname == "holt_winters":
            # trailing smoothing/trend factors, each a multiple of
            # 0.001 in (0,1) — the exact fixed-point contract
            self.eat("op", ",")
            param = self._thousandths("sf")
            self.eat("op", ",")
            param2 = self._thousandths("tf")
        self.eat("op", ")")
        return PromQuery(
            fname, metric, tuple(matchers), range_s, offset_s=offset_s,
            param=param, param2=param2, at_s=at_s,
        )

    _SUBQ_OUTER = (
        "count_over_time",
        "sum_over_time",
        "avg_over_time",
        "min_over_time",
        "max_over_time",
        "last_over_time",
        "present_over_time",
    )

    def _subquery(self, fname: str) -> PromQuery:
        """fname(inner_call[R:S]): the outer *_over_time function over
        the inner call's per-series results. Subset bounds: S must
        EQUAL the inner call's range (the engine evaluates at the
        window grain, so inner results exist exactly once per S) and
        R must be a >1x multiple of S. Double-valued inners
        (rate family) are integerized to micro-units before the outer
        aggregation, the same rule as their by-aggregated form."""
        if fname not in self._SUBQ_OUTER:
            raise PromQLError(
                f"subquery outer function must be one of "
                f"{self._SUBQ_OUTER}, got {fname!r}"
            )
        inner = self._call()
        if inner.func in ("absent", "absent_over_time") or inner.inner is not None:
            raise PromQLError(
                "subquery inner must be a bare per-series call "
                "(absent() is label-less; nesting subqueries is "
                "outside the subset)"
            )
        if inner.at_s is not None:
            raise PromQLError(
                "@ inside a subquery is outside the subset — pin the "
                "whole query instead (sel[r] @ T at the top level)"
            )
        self.eat("op", "[")
        rng, step = self._subrange()
        self.eat("op", "]")
        self.eat("op", ")")
        if step != inner.range_s:
            raise PromQLError(
                "subquery step must equal the inner call's range "
                "(the engine evaluates at the window grain), got "
                f"step {step}s vs inner [{inner.range_s}s]"
            )
        if rng % step != 0 or rng <= step:
            raise PromQLError(
                f"subquery range must be a >1x multiple of the step, "
                f"got {rng}s : {step}s"
            )
        return PromQuery(
            fname, inner.metric, inner.matchers, rng, inner=inner
        )

    def _subrange(self) -> tuple[int, int]:
        """The [R:S] body. The ident charset lexes 'h:5m' as ONE token
        (metric names legitimately contain colons), so the range unit
        and the whole step arrive fused: num '1' + ident 'h:5m'."""
        raw_n = self.eat("num")
        tail = self.eat("ident")
        if ":" not in tail:
            raise PromQLError(
                "subquery range needs the [R:S] form (no spaces), "
                "e.g. [1h:5m]"
            )
        unit, step_txt = tail.split(":", 1)
        m = re.fullmatch(r"(\d+)([mhd])", step_txt)
        if unit not in self._UNITS or not m:
            raise PromQLError(
                f"bad subquery range/step {raw_n}{tail!r} — units m/h/d"
            )
        return (
            int(raw_n) * self._UNITS[unit],
            int(m.group(1)) * self._UNITS[m.group(2)],
        )

    def _thousandths(self, name: str) -> int:
        """A smoothing factor in (0,1), exact in thousandths — the
        fixed-point grid the holt_winters recursion runs on."""
        raw = float(self.eat("num"))
        th = raw * 1000
        if not (0 < raw < 1) or abs(th - round(th)) > 1e-9:
            raise PromQLError(
                f"holt_winters {name} must be a multiple of 0.001 in "
                f"(0,1), got {raw}"
            )
        return int(round(th))

    _UNITS = {"m": 60, "h": 3600, "d": 86400}

    def _duration(self) -> int:
        raw_n = self.eat("num")
        if "." in raw_n:
            raise PromQLError(f"duration must be integral, got {raw_n!r}")
        unit = self.eat("ident")
        if unit not in self._UNITS:
            raise PromQLError(
                f"duration unit must be m, h or d, got {unit!r}"
            )
        return int(raw_n) * self._UNITS[unit]


def parse(text: str) -> PromQuery | BinQuery:
    q = _Parser(_tokenize(text)).parse()
    if isinstance(q, PromQuery):
        # force encoding resolution so out-of-subset combinations
        # (e.g. an avg promotion with no defined scale) fail at parse
        # time with a PromQLError, not at compile time
        output_encoding(q)
    return q


def parse_selector(text: str) -> tuple[str, tuple[LabelMatcher, ...]]:
    """Parse a BARE series selector (``name{label="v", ...}`` — no
    range, no function) as used by the Prometheus HTTP API's
    ``match[]`` parameters (/api/v1/series, /api/v1/labels). Returns
    (metric, matchers) with the same PromQL-anchored regex semantics
    as the query grammar."""
    p = _Parser(_tokenize(text))
    metric = p.eat("ident")
    matchers: list[LabelMatcher] = []
    if p.peek() == ("op", "{"):
        p.eat("op", "{")
        while p.peek() != ("op", "}"):
            name = p.eat("ident")
            op = p.eat("op")
            if op not in _OPS:
                raise PromQLError(f"bad matcher op {op!r}")
            val = _unquote(p.eat("str"))
            if _OPS[op] in (MatchType.RE, MatchType.NRE):
                val = f"^(?:{val})$"
            matchers.append(LabelMatcher(_OPS[op], name, val))
            if p.peek() == ("op", ","):
                p.eat("op", ",")
        p.eat("op", "}")
    if p.i != len(p.toks):
        raise PromQLError(
            f"trailing input in selector from token {p.i}"
        )
    return metric, tuple(matchers)


def events_as_series(events: DataFrame) -> DataFrame:
    return plan_memo.memo(
        ("series", events), lambda: _events_as_series_uncached(events)
    )


def _events_as_series_uncached(events: DataFrame) -> DataFrame:
    """Adapt the driver's events table to the series-frame contract:
    metric 'events', labels {event_type, user}; event_id rides along
    as the unique sample_id tiebreaker for order-sensitive kernels.

    ``_series_key`` (r11 optimization, guide §1.2 step 2): the
    attribute map's keys are LITERALS here, so the canonical sorted
    entry order of functions/hashing.series_key is known at plan time
    ("event_type" < "user" — array_sort on struct<key,value> compares
    the distinct keys first). The statically unrolled concat is
    byte-identical to the dynamic form (verified exceptAll-empty both
    directions at sf0.1) and skips the per-row interpreted
    map_entries+array_sort+transform chain, which measured ~3x the
    whole projection cost on the rate plans. Plans that need the key
    pick this column up via ``_sk_expr``; every plan's output columns
    are explicit, so the extra input column never surfaces."""
    return events.select(
        F.lit("events").alias("metric"),
        F.map_from_arrays(
            F.array(F.lit("event_type"), F.lit("user")),
            F.array(F.col("event_type"), F.col("user_id").cast("string")),
        ).alias("attributes"),
        F.col("ts"),
        F.col("value"),
        F.col("event_id").alias("sample_id"),
        static_series_key(
            "events",
            {
                "event_type": F.col("event_type"),
                "user": F.col("user_id").cast("string"),
            },
        ).alias("_series_key"),
    )


def static_series_key(metric: str, attrs: dict[str, Column]) -> Column:
    """Statically unrolled ``functions/hashing.series_key`` for a frame
    whose attribute-map keys are string LITERALS (and distinct): the
    canonical form sorts entries by (key, value), and with distinct
    literal keys the order is decided by the keys alone — plan-time
    constant. Byte-identical to the dynamic form (concat_ws mirrors
    its null-value handling) without the per-row interpreted
    map_entries+array_sort+transform chain (r11 optimization)."""
    parts = [
        F.concat_ws("=", F.lit(k), attrs[k]) for k in sorted(attrs)
    ]
    return F.concat(
        F.lit(metric + "{"), F.concat_ws(",", *parts), F.lit("}")
    )


def _cents(c: Column) -> Column:
    return F.round(c * 100).cast("bigint")


def _half_up_scaled_mean(s: Column, n: Column, scale: int) -> Column:
    """Sign-aware half-up mean of an integer sum over a count, scaled:
    sign(s) * floor((2*|s|*scale + n) / (2*n)) — the one rounding rule
    every avg in this module uses, DECIMAL(38,0)-exact at any
    magnitude (BIGINT/BIGINT double division loses ULPs past 2^53)."""
    mag = _floordiv_exact(
        F.lit(2) * F.abs(s) * F.lit(scale) + n, F.lit(2) * n
    )
    return F.when(s < 0, -mag).otherwise(mag)


def _by_keys(q: PromQuery) -> list[Column]:
    return [
        F.coalesce(
            F.element_at(F.col("attributes"), F.lit(k)), F.lit("")
        ).alias(k)
        for k in q.by
    ]


def _sk_expr(df: DataFrame) -> Column:
    """Canonical K2 series key for a series frame.

    Prefers a precomputed ``_series_key`` column when the frame carries
    one (``events_as_series`` attaches a statically unrolled key — its
    attribute-map keys are literals, so the canonical sort order is
    plan-time constant) over the per-row interpreted
    map_entries+array_sort+transform canonicalization, which measured
    ~3x the cost of the rest of the pre-shuffle projection (r11
    optimization; plans/r11/promql_rate_by_type_*). Identical values
    either way."""
    if "_series_key" in df.columns:
        return F.col("_series_key")
    from clickhouse_metrics_pipeline_spark.functions.hashing import (
        series_key,
    )

    return series_key("metric", "attributes")


def _stored_bucket_quantile_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_quantile over STORED bucket arrays (r9, the r8
    verdict's item 4): when the series frame carries the metrics_raw
    bucket columns (``schema.sql:33-36`` — either the zipped
    ``buckets`` array or the ingest sink's split
    ``buckets_le``/``buckets_count`` arrays), the text query reads the
    STORED histogram instead of re-bucketing raw sample values —
    closing the loop from the reference's stored-histogram read path
    (``promread/handler.go:177-205``,
    ``test/validate_percentiles.go:135-208``) to PromQL text.

    Merge = explode the (delta-temporality) bucket arrays and sum
    counts per (by-labels, window, le) — the same per-le partial-sum
    shape the rollup bucket merge (A5) uses: one shuffle, map-side
    combinable, O(le) rows per (group, window) — then the
    exact-integer prometheus-mode walk (BIGINT quantile x10000).

    Real PromQL reads per-le ``_bucket`` series with CUMULATIVE
    counts; this engine stores ClickHouse-style per-sample delta
    arrays, so the text form stays
    ``histogram_quantile(phi, sum by (L) (count_over_time(x[r])))``
    with the count_over_time standing for the bucket-count merge
    (documented divergence, same shape as the raw-value path)."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        bucket_percentile_scaled,
    )

    bucket = F.window("ts", f"{q.range_s} seconds")
    pairs = _bucket_pairs_col(df)
    # r11 optimization (guide §2.3, same lesson as the rate form): a
    # projection in the SAME select as the explode lands ABOVE the
    # Generate node — the by-key extraction and the window-start
    # timestamp chain used to run once per (row × ladder-width)
    # exploded row. Splitting the select keeps them below Generate,
    # once per input row; projects do not migrate through Generate.
    per_le = (
        df.where(pairs.isNotNull() & (F.size(pairs) > 0))
        .select(
            *_by_keys(q),
            bucket["start"].alias("bucket_ts"),
            pairs.alias("_pairs"),
        )
        .select(*q.by, "bucket_ts", F.explode("_pairs").alias("b"))
        .groupBy(*q.by, "bucket_ts", F.col("b.le").alias("le"))
        .agg(F.sum(F.col("b.count")).alias("count"))
    )
    merged = per_le.groupBy(*q.by, "bucket_ts").agg(
        F.array_sort(F.collect_list(F.struct("le", "count"))).alias(
            "buckets"
        )
    )
    return merged.select(
        *q.by,
        "bucket_ts",
        bucket_percentile_scaled(
            "buckets", q.quantile, interpolation="prometheus"
        ).alias("value"),
    )


def _bucket_pairs_col(df: DataFrame):
    """The zipped (le, count) bucket-array column of a series frame
    carrying either the metrics_raw ``buckets`` shape or the ingest
    sink's split ``buckets_le``/``buckets_count`` arrays; None when the
    frame has no bucket columns at all."""
    if "buckets" in df.columns:
        return F.col("buckets")
    if "buckets_le" in df.columns:
        return F.zip_with(
            "buckets_le",
            "buckets_count",
            lambda le, c: F.struct(le.alias("le"), c.alias("count")),
        )
    return None


# Dispatch probes run bounded jobs over the DATA during plan
# construction; a compile-memo hit replays them (plan_memo.py).
_PROBES_RUN = [0]
_REPLAYS_RUN = [0]


def _record_probe(run) -> bool:
    return plan_memo.record_probe(run, _PROBES_RUN)


def _pairs_presence_probe(df: DataFrame, pairs: Column) -> bool:
    """One bounded limit(1) jobette: do the matched series actually
    carry a non-empty classic bucket array? Shared by the three
    stored-bucket dispatch sites so they probe (and account)
    identically."""
    return _record_probe(
        lambda: bool(
            df.where(pairs.isNotNull() & (F.size(pairs) > 0))
            .limit(1)
            .count()
        )
    )


def _exp_presence_probe(df: DataFrame) -> bool:
    """One bounded limit(1) jobette: do the matched series actually
    carry a populated exp-histogram (any signed bucket or a nonzero
    zero-count)? Shared by the count_over_time and rate dispatch forms
    (r10 ADVICE item) so both probe identically before routing to the
    H7+H6 plans."""
    return _record_probe(lambda: bool(
        df.where(
            F.col("exp_scale").isNotNull()
            & (
                (
                    F.coalesce(F.size("exp_positive_buckets"), F.lit(0))
                    > 0
                )
                | (
                    F.coalesce(F.size("exp_negative_buckets"), F.lit(0))
                    > 0
                )
                | (F.coalesce(F.col("exp_zero_count"), F.lit(0)) > 0)
            )
        )
        .limit(1)
        .count()
    ))


def _stored_bucket_rate_quantile_plan(
    q: PromQuery, df: DataFrame
) -> DataFrame:
    """histogram_quantile(φ, sum by (L) (rate(x[r]))) over stored
    CUMULATIVE bucket arrays (r10, the r9 verdict's item 3) — the
    canonical Grafana latency-panel idiom
    ``histogram_quantile(0.95, sum by (le) (rate(x_bucket[5m])))``
    re-expressed over this engine's array-valued histogram storage
    (real Prometheus reads per-le ``_bucket`` counter series; the
    reference re-cumulates stored buckets for exactly that read loop,
    ``promread/handler.go:177-205``).

    Axis conventions: the stored arrays are TIME-cumulative counters
    with le-DELTA buckets (the engine's array form — H4/H5 convert the
    le axis, T1/T2 the time axis). Each per-bucket counter is rated
    directly, so the walk consumes le-delta rate "counts" exactly like
    the count_over_time path consumes le-delta sample counts. Real
    Prometheus rates le-CUMULATIVE ``_bucket`` series and walks those;
    the two agree except where the boundary extrapolation's per-series
    zero-clamp is nonlinear across buckets — the per-bucket form is
    the exactness-contract choice (documented divergence).

    Pipeline, all built-ins (py=0):
    1. explode the cumulative bucket arrays → one row per (series,
       sample, le);
    2. per (series, le, window): the Prometheus extrapolatedRate
       (``functions/rate.py`` — the driver-green events_rate_5m
       kernel), lag-partitioned on (canonical series key, le);
    3. each per-(series, le) rate re-expressed as BIGINT micro-units
       (round(rate·1e6)) so the cross-series ``sum by (L)`` is
       integer and order-free (the _micro_agg contract);
    4. per-le micro-rate sums become the merged histogram's counts;
       the exact-integer prometheus-mode H1 walk emits the quantile.
       Rank interpolation is scale-free (counts appear in ratios), so
       micro-rate counts walk identically to sample counts.

    Output: (by-labels, bucket_ts, value BIGINT quantile×10000) — the
    same contract as the count_over_time quantile forms.

    Scale: shuffle 1 lands on (series⊗le, window) — the rate kernel's
    single shuffle, fan-out bounded by the ladder width; shuffle 2 is
    the map-side-combinable (by, window, le) partial sum; the
    collect_list per (by, window) gathers O(ladder) rows. No UDFs, no
    collects."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        bucket_percentile_scaled,
    )
    from clickhouse_metrics_pipeline_spark.functions.rate import (
        rate_over_window,
    )

    pairs = _bucket_pairs_col(df)
    # r10 ADVICE item (medium): routing on bucket-column PRESENCE
    # alone silently answered EMPTY for a rate-form quantile over a
    # metric whose bucket columns exist but are all NULL (a gauge /
    # plain counter selected out of a metrics_raw-shaped frame) — the
    # exact silent-empty mode the r9 ADVICE fix closed for the
    # count_over_time form. Mirror that path's bounded limit(1)
    # presence probes: classic pairs first, then exp columns, and a
    # clear 400 when the matched series carry neither.
    if pairs is not None and not _pairs_presence_probe(df, pairs):
        pairs = None
    if pairs is None:
        if "exp_positive_buckets" in df.columns and _exp_presence_probe(
            df
        ):
            # native-histogram rate (r10): cumulative exp-histogram
            # counters route to the exp rate+merge+walk composition
            return _exp_rate_quantile_plan(q, df)
        raise PromQLError(
            "the rate() form of histogram_quantile reads stored "
            "cumulative bucket arrays (classic or exp); the matched "
            "series carry neither — use the count_over_time form "
            "over raw sample values instead"
        )
    merged = _stored_bucket_rate_merged(q, df, pairs)
    return merged.select(
        *q.by,
        "bucket_ts",
        bucket_percentile_scaled(
            "buckets", q.quantile, interpolation="prometheus"
        ).alias("value"),
    )


def _le_key(le: Column) -> tuple[Column, Column]:
    """``le`` with -0.0 folded into 0.0, and a string key ``_lek`` that
    groups exactly as a double grouping key does (-0.0 with 0.0, NaN
    with NaN): Java's double-to-string is injective."""
    norm = F.when(le == 0.0, F.lit(0.0)).otherwise(le)
    return norm.cast("string").alias("_lek"), norm.alias("le")


def _stored_bucket_rate_merged(
    q: PromQuery, df: DataFrame, pairs
) -> DataFrame:
    """Shared tail of the rate()/increase() stored-bucket read: rate
    every (series, le) counter with the Prometheus extrapolatedRate
    semantics in q.func's mode, re-express as BIGINT micro-units, and
    merge to one le-DELTA bucket array per (by-labels, window) — the
    frame both the quantile walk and the fraction kernel consume.

    The kernel explodes the bucket arrays and runs the shared
    Window+HashAggregate extrapolatedRate kernel per (series, le),
    whole-stage-codegen'd.
    """
    from clickhouse_metrics_pipeline_spark.functions.rate import (
        rate_over_window,
    )

    tb = F.col("sample_id") if "sample_id" in df.columns else F.lit(0)
    mode = "increase" if q.func == "increase" else "rate"
    # r11 optimization (guide §1.2 step 2, §4.1): computing _sk in
    # the SAME select as the explode placed the series_key
    # projection ABOVE the Generate node — once per (row ×
    # ladder-width) exploded row instead of once per input row. A
    # select BEFORE the explode keeps the canonicalization below
    # the Generate; projects do not migrate through Generate. The
    # by-labels join the window partition keys so the kernel's
    # aggregate stays a HashAggregate (guide §2.4/§5).
    exploded = (
        df.where(pairs.isNotNull() & (F.size(pairs) > 0))
        .select(
            *_by_keys(q),
            _sk_expr(df).alias("_sk"),
            F.col("ts"),
            tb.alias("_tb"),
            pairs.alias("_pairs"),
        )
        .select(
            *q.by,
            "_sk",
            "ts",
            "_tb",
            F.explode("_pairs").alias("b"),
        )
        .select(
            *q.by,
            "_sk",
            "ts",
            "_tb",
            *_le_key(F.col("b.le")),
            F.col("b.count").cast("double").alias("_cum"),
        )
    )
    # the Window and its aggregate partition on the string key
    # ``_lek``, not the double ``le``: Catalyst wraps a floating
    # Window key in NaN/-0.0 normalization, which the aggregate's
    # bare ``le`` does not match, so it shuffled a second time
    rated = rate_over_window(
        exploded,
        [*q.by, "_sk", "_lek", "le"],
        q.range_s,
        value_col="_cum",
        tiebreak_col="_tb",
        mode=mode,
        window_cols=[*q.by, "_sk", "_lek"],
    )
    per_le = (
        rated.where(F.col("rate").isNotNull())
        .select(
            *q.by,
            "bucket_ts",
            "le",
            F.round(F.col("rate") * 1e6)
            .cast("bigint")
            .alias("_r"),
        )
        .groupBy(*q.by, "bucket_ts", "le")
        .agg(F.sum("_r").alias("count"))
    )
    return per_le.groupBy(*q.by, "bucket_ts").agg(
        F.array_sort(F.collect_list(F.struct("le", "count"))).alias(
            "buckets"
        )
    )


def _exp_rate_quantile_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_quantile(φ, sum by (L) (rate(x[r]))) over exp
    columns: the H6 midpoint walk over the rated merged histogram
    (see ``_exp_rate_merged``)."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        exp_histogram_percentile,
    )

    rolled = _exp_rate_merged(q, df)
    val = exp_histogram_percentile(
        "exp_scale",
        "exp_zero_count",
        "exp_positive_buckets",
        "exp_negative_buckets",
        float(q.quantile),
    )
    return rolled.select(
        *q.by,
        "bucket_ts",
        F.round(val * F.lit(10000)).cast("bigint").alias("value"),
    )


def _exp_rate_fraction_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_fraction(lo, hi, sum by (L) (rate(x[r]))) over exp
    columns (r11 — Prometheus's canonical native-histogram fraction
    spelling composes rate() inside): the identical rated min-scale
    merge as the quantile form, then the two-bound cumulative-mass
    difference instead of the walk. Mass ratios are scale-free, so
    the micro-rate counts fraction exactly like sample counts.
    Output truncated-ppm BIGINT — the fraction encoding contract."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        exp_histogram_fraction,
    )

    rolled = _exp_rate_merged(q, df)
    val = exp_histogram_fraction(
        "exp_scale",
        "exp_zero_count",
        "exp_positive_buckets",
        "exp_negative_buckets",
        q.frac_lo,
        q.frac_hi,
    )
    return rolled.select(*q.by, "bucket_ts", val.alias("value"))


def _exp_rate_merged(q: PromQuery, df: DataFrame) -> DataFrame:
    """Rate()/increase() over
    TIME-cumulative EXP-histogram columns (r10) — the native-histogram
    rate read, the composition of this round's two new paths: every
    per-(series, sign, index) counter (positive/negative buckets AND
    the zero counter) is rated with the Prometheus extrapolatedRate
    kernel, re-expressed as BIGINT micro-units, merged across series
    at the group's min scale (floor-div index shift — the H7 rule),
    and walked with the H6 midpoint walk. Rates are additive, so
    downscale-then-sum of per-bucket rates equals rating the
    downscaled counters (linearity); the walk is scale-free in the
    counts (ratios only).

    Scale: shuffle 1 on (series ⊗ sign ⊗ index, window) — fan-out
    bounded by the per-sample index count; shuffle 2 the map-side
    combinable (by, window, sign, index) sum; O(indexes) collect per
    group. ``py=0`` throughout."""
    from clickhouse_metrics_pipeline_spark.functions.rate import (
        rate_over_window,
    )

    has_sid = "sample_id" in df.columns
    has_sk = "_series_key" in df.columns
    c = _exp_rate_cols(tuple(q.by), has_sid, has_sk)
    base = df.where(F.col("exp_scale").isNotNull()).select(
        *c["base"]
    )
    exploded = base.select(*c["exploded"]).select(*c["flat"])
    # r10 ADVICE item (low): the in-window lag partitions on exp_scale
    # too — a series that changes scale mid-window previously leaked
    # prev_v across scale groups (corrupting reset correction) and
    # summed two per-scale partial rates after downscaling,
    # double-counting the window. A scale change now starts a new
    # counter (its first sample re-enters through the extrapolation
    # kernel's first-point handling), matching how Prometheus treats a
    # native-histogram schema change as a counter reset boundary.
    # r11 optimization: same series_cols-as-window-keys move as the
    # classic-bucket rate path (q.by is functionally determined by _sk)
    # so the rate aggregate stays a HashAggregate on the window's own
    # partitioning instead of a sorted first(string) aggregate.
    rated = rate_over_window(
        exploded,
        [*q.by, "_sk", "exp_scale", "sign", "index"],
        q.range_s,
        value_col="_cum",
        tiebreak_col="_tb",
        mode="increase" if q.func == "increase" else "rate",
    )
    micro = rated.where(F.col("rate").isNotNull()).select(*c["micro"])
    # min-scale merge across series (H7): shift BEFORE the sum so the
    # per-index partial is map-side combinable at the common scale
    shifted = micro.withColumn(
        "_min_scale", c["min_scale"]
    ).withColumn("index", c["shifted_index"])
    per_idx = shifted.groupBy(
        *q.by, "bucket_ts", "_min_scale", "sign", "index"
    ).agg(F.sum("_r").alias("count"))
    rolled = per_idx.groupBy(
        *q.by, "bucket_ts", F.col("_min_scale").alias("exp_scale")
    ).agg(*c["rolled_aggs"])
    return rolled


@memo_expr
def _exp_rate_cols(by: tuple, has_sid: bool, has_sk: bool) -> dict:
    """Constructed-once column sets for ``_exp_rate_merged`` (r11
    optimization, guide §1.2 step 2 driver side): the signed-bucket
    transforms and merge aggregates measured ~0.6 s of py4j expression
    construction per invocation; every piece depends only on (q.by,
    sample_id presence, static-key presence), so one constructed set is
    shared across invocations — expression trees only, never data."""
    from pyspark.sql.window import Window

    tb = F.col("sample_id") if has_sid else F.lit(0)
    if has_sk:
        sk = F.col("_series_key")
    else:
        from clickhouse_metrics_pipeline_spark.functions.hashing import (
            series_key,
        )

        sk = series_key("metric", "attributes")
    base = [
        *[
            F.coalesce(
                F.element_at(F.col("attributes"), F.lit(k)), F.lit("")
            ).alias(k)
            for k in by
        ],
        sk.alias("_sk"),
        F.col("ts"),
        tb.alias("_tb"),
        F.col("exp_scale"),
        F.col("exp_zero_count"),
        F.col("exp_positive_buckets"),
        F.col("exp_negative_buckets"),
    ]

    def _signed(col: str, sign: int):
        return F.transform(
            F.coalesce(F.col(col), F.array().cast(
                "array<struct<index:int,count:bigint>>"
            )),
            lambda x: F.struct(
                F.lit(sign).alias("sign"),
                x["index"].alias("index"),
                x["count"].alias("count"),
            ),
        )

    zero = F.array(
        F.struct(
            F.lit(0).alias("sign"),
            F.lit(0).alias("index"),
            F.coalesce(F.col("exp_zero_count"), F.lit(0))
            .cast("bigint")
            .alias("count"),
        )
    )
    exploded = [
        *by,
        "_sk",
        "ts",
        "_tb",
        "exp_scale",
        F.explode(
            F.concat(
                _signed("exp_positive_buckets", 1),
                _signed("exp_negative_buckets", -1),
                zero,
            )
        ).alias("b"),
    ]
    flat = [
        *by,
        "_sk",
        "ts",
        "_tb",
        "exp_scale",
        F.col("b.sign").alias("sign"),
        F.col("b.index").alias("index"),
        F.col("b.count").cast("double").alias("_cum"),
    ]
    micro = [
        *by,
        "bucket_ts",
        "exp_scale",
        "sign",
        "index",
        F.round(F.col("rate") * 1e6).cast("bigint").alias("_r"),
    ]
    w = Window.partitionBy(*by, "bucket_ts")
    min_scale = F.min("exp_scale").over(w)
    shifted_index = F.when(F.col("sign") == 0, F.lit(0)).otherwise(
        F.floor(
            F.col("index").cast("double")
            / F.pow(
                F.lit(2.0),
                (F.col("exp_scale") - F.col("_min_scale")).cast(
                    "double"
                ),
            )
        ).cast("int")
    )
    rolled_aggs = [
        F.array_sort(
            F.collect_list(
                F.when(F.col("sign") == 1, F.struct("index", "count"))
            )
        ).alias("exp_positive_buckets"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("sign") == -1, F.struct("index", "count"))
            )
        ).alias("exp_negative_buckets"),
        F.sum(
            F.when(F.col("sign") == 0, F.col("count")).otherwise(0)
        ).alias("exp_zero_count"),
    ]
    # read-only containers: memo_expr shares them (plan_memo.py)
    import types

    return types.MappingProxyType({
        "base": tuple(base),
        "exploded": tuple(exploded),
        "flat": tuple(flat),
        "micro": tuple(micro),
        "min_scale": min_scale,
        "shifted_index": shifted_index,
        "rolled_aggs": tuple(rolled_aggs),
    })


def _exp_hist_quantile_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_quantile(φ, sum by (L) (count_over_time(sel[r])))
    over rows carrying EXP-histogram columns (r10, the r9 verdict's
    item 4) — the native-histogram read path: real Prometheus exposes
    native histograms through the same ``histogram_quantile`` call,
    with the merge happening inside the evaluation.

    Routes onto the two driver-green kernels: the H7 merge per
    (by-labels, window) — every histogram downscaled to the group's
    min scale by floor-div index shift (the documented fix of the
    reference's trunc-div, ``percentile.go:260-271``) with per-index
    partial sums — then the H6 unified walk (negatives desc, zero,
    positives asc; hit bucket's midpoint, no interpolation,
    ``percentile.go:159-210``).

    Output: BIGINT round(midpoint × 10000), keeping the quantile
    encoding contract (at min-scale 0 midpoints are 1.5·2^idx —
    exactly representable, so the rounding is engine-invariant).

    Scale: the merge is the A6 rollup shape — explode to (group,
    sign, index), map-side-combinable sum, re-collect O(indexes) rows
    per group. No UDFs, no collects."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        exp_histogram_percentile,
        merge_exp_histograms_agg,
    )

    bucket = F.window("ts", f"{q.range_s} seconds")
    g = df.where(F.col("exp_scale").isNotNull()).select(
        *_by_keys(q),
        bucket["start"].alias("bucket_ts"),
        "exp_scale",
        "exp_zero_count",
        "exp_zero_threshold",
        "exp_positive_buckets",
        "exp_negative_buckets",
    )
    merged = merge_exp_histograms_agg(g, [*q.by, "bucket_ts"])
    val = exp_histogram_percentile(
        "exp_scale",
        "exp_zero_count",
        "exp_positive_buckets",
        "exp_negative_buckets",
        float(q.quantile),
    )
    return merged.select(
        *q.by,
        "bucket_ts",
        F.round(val * F.lit(10000)).cast("bigint").alias("value"),
    )


def _hist_quantile_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_quantile(phi, sum by (L) (count_over_time(sel[r]))):
    the merged-histogram walk. When the series frame carries raw
    sample values (no bucket columns), the engine buckets them with
    the reference's fixed le ladder (schema.sql bounds, the same
    ladder every hist_* catalog query uses), merges counts at the
    by-grain (= the PromQL sum over series), and walks the merged
    histogram with bucket_percentile_scaled in prometheus mode — the
    exact histogram_quantile interpolation. Output value is the BIGINT
    quantile x10000 (integer exactness contract). A frame carrying
    STORED bucket arrays routes to the stored-histogram read path
    instead (r9; see _stored_bucket_quantile_plan)."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        bucket_percentile_scaled,
    )
    from clickhouse_metrics_pipeline_spark.workloads import _le_expr

    if q.func in ("rate", "increase"):
        # parser-gated: only reachable as histogram_quantile(φ,
        # sum by (L) (rate(sel[r]))) — the stored-CUMULATIVE-bucket
        # read path (r10). increase (r11, the r10 verdict's item 5,
        # Grafana's other canonical spelling) is the same plan with
        # the kernel in increase mode: extrapolatedRate × range on
        # the same micro-units; the walk is scale-free in the counts,
        # so the quantile agrees with the rate form by construction.
        return _stored_bucket_rate_quantile_plan(q, df)
    pairs = _bucket_pairs_col(df)
    if pairs is not None:
        # r9 ADVICE item: routing on column PRESENCE alone sent a
        # quantile over a bucket-less metric (a gauge/sum selected out
        # of a metrics_raw-shaped frame, where the bucket columns
        # exist but are all NULL for that metric) to the stored path,
        # which silently answered EMPTY. Probe whether the matched
        # series actually carry a non-empty bucket array — one
        # limit(1) jobette over the already metric+matcher-filtered
        # frame, pushed-down and early-exiting — and fall back to the
        # raw-value ladder (the pre-r9 behavior) when they don't.
        if _pairs_presence_probe(df, pairs):
            return _stored_bucket_quantile_plan(q, df)
    if "exp_positive_buckets" in df.columns and _exp_presence_probe(df):
        # exp-histogram read path (r10): same bounded presence probe —
        # only matched metrics that actually store exp buckets route
        # to the H7+H6 plan; gauges fall through to the raw ladder
        return _exp_hist_quantile_plan(q, df)
    bucket = F.window("ts", f"{q.range_s} seconds")
    per_le = (
        df.select(
            *_by_keys(q),
            bucket["start"].alias("bucket_ts"),
            _le_expr(F.col("value")).alias("le"),
        )
        .groupBy(*q.by, "bucket_ts", "le")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    b = per_le.groupBy(*q.by, "bucket_ts").agg(
        F.array_sort(F.collect_list(F.struct("le", "count"))).alias(
            "buckets"
        )
    )
    return b.select(
        *q.by,
        "bucket_ts",
        bucket_percentile_scaled(
            "buckets", q.quantile, interpolation="prometheus"
        ).alias("value"),
    )


def _exp_hist_fraction_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_fraction(lo, hi, sum by (L) (count_over_time(...)))
    over rows carrying EXP-histogram columns (r11, the r10 verdict's
    item 6 — the last native-histogram read missing from text): the
    same H7 min-scale merge per (by-labels, window) as the exp
    quantile, then a two-bound cumulative-mass difference over the
    merged histogram (``functions/histogram.exp_histogram_fraction``)
    instead of the quantile walk. Output value is truncated ppm BIGINT
    — the classic fraction plan's encoding contract. Same scale shape
    as the exp quantile: the A6-style merge is the only shuffle,
    O(indexes) rows per group, py=0."""
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        exp_histogram_fraction,
        merge_exp_histograms_agg,
    )

    bucket = F.window("ts", f"{q.range_s} seconds")
    g = df.where(F.col("exp_scale").isNotNull()).select(
        *_by_keys(q),
        bucket["start"].alias("bucket_ts"),
        "exp_scale",
        "exp_zero_count",
        "exp_zero_threshold",
        "exp_positive_buckets",
        "exp_negative_buckets",
    )
    merged = merge_exp_histograms_agg(g, [*q.by, "bucket_ts"])
    val = exp_histogram_fraction(
        "exp_scale",
        "exp_zero_count",
        "exp_positive_buckets",
        "exp_negative_buckets",
        q.frac_lo,
        q.frac_hi,
    )
    return merged.select(*q.by, "bucket_ts", val.alias("value"))


def _hist_fraction_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """histogram_fraction(lo, hi, sum by (L) (count_over_time(...))):
    the fraction of the merged histogram's samples in (lo, hi] as
    truncated parts-per-million — the events_histogram_fraction
    kernel's exact-ppm arithmetic per (by-labels, window).

    Bounds ON the fixed le ladder count raw samples directly (the
    bucket cumulative count IS the exact count of samples <= bound —
    equal to the stored-bucket walk by construction). Off-ladder
    INTEGER bounds inside the ladder range (r10, closing a named
    subset residual) interpolate linearly within their bucket the way
    real histogram_fraction does over classic buckets, still exactly:
    interp(B) = (cum_before·D + cnt·(B − prev)) / D with D = le −
    prev, all integer terms, so the two-bound difference is the
    single rational (X_hi·D_lo − X_lo·D_hi) / (n·D_hi·D_lo), floored
    to ppm through the exact DECIMAL(38,0) divider (numerator ≤
    n·500²·1e6 — 38 digits holds to astronomic n). On-ladder bounds
    are the D = 1 special case, so the pre-r10 results are unchanged.
    One shuffle to the by-grain with map-side partial counts.

    The rate()/increase() form (r11 — Prometheus's canonical
    native-histogram fraction spelling,
    ``histogram_fraction(lo, hi, rate(x[5m]))``) dispatches exactly
    like the rate-form quantile: classic stored bucket arrays route
    to the shared rated merge + ``bucket_fraction_ppm`` (the same
    interp rule over micro-rate counts); exp columns route to the
    rated min-scale merge + two-bound mass difference; neither is a
    clear 400."""
    import bisect

    if q.func in ("rate", "increase"):
        from clickhouse_metrics_pipeline_spark.functions.histogram import (
            bucket_fraction_ppm,
        )

        pairs = _bucket_pairs_col(df)
        if pairs is not None and not _pairs_presence_probe(df, pairs):
            pairs = None
        if pairs is None:
            if (
                "exp_positive_buckets" in df.columns
                and _exp_presence_probe(df)
            ):
                return _exp_rate_fraction_plan(q, df)
            raise PromQLError(
                "the rate() form of histogram_fraction reads stored "
                "cumulative bucket arrays (classic or exp); the "
                "matched series carry neither — use the "
                "count_over_time form over raw sample values instead"
            )
        merged = _stored_bucket_rate_merged(q, df, pairs)
        return merged.select(
            *q.by,
            "bucket_ts",
            bucket_fraction_ppm(
                "buckets", q.frac_lo, q.frac_hi
            ).alias("value"),
        )
    if "exp_positive_buckets" in df.columns and _exp_presence_probe(df):
        # native-histogram fraction (r11): same bounded presence probe
        # as the quantile dispatch — matched metrics that actually
        # store exp buckets route to the H7 merge + two-bound mass
        # difference; gauges fall through to the raw-value ladder
        return _exp_hist_fraction_plan(q, df)
    bucket = F.window("ts", f"{q.range_s} seconds").alias("w")
    finite = sorted(BOUNDS)

    def _dec(col):
        return col.cast("decimal(38,0)")

    def side(bound: float, name: str):
        """-> (agg columns, X numerator builder, integer denominator);
        interp(bound) = X / D in sample-count units."""
        if bound == float("inf"):
            return [], lambda: _dec(F.col("_n")), 1
        if bound == 0.0:
            return [], lambda: F.lit(0).cast("decimal(38,0)"), 1
        if bound in finite:
            col = (
                F.sum(F.when(F.col("value") <= bound, 1).otherwise(0))
                .cast("bigint")
                .alias(f"_c_{name}")
            )
            return [col], lambda: _dec(F.col(f"_c_{name}")), 1
        i = bisect.bisect_left(finite, bound)
        prev = 0.0 if i == 0 else finite[i - 1]
        le = finite[i]
        d = int(le - prev)
        off = int(bound - prev)
        cb = (
            F.sum(F.when(F.col("value") <= prev, 1).otherwise(0))
            .cast("bigint")
            .alias(f"_cb_{name}")
        )
        ct = (
            F.sum(
                F.when(
                    (F.col("value") > prev) & (F.col("value") <= le), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"_ct_{name}")
        )
        return (
            [cb, ct],
            lambda: _dec(F.col(f"_cb_{name}")) * F.lit(d)
            + _dec(F.col(f"_ct_{name}")) * F.lit(off),
            d,
        )

    hi_cols, x_hi, d_hi = side(q.frac_hi, "hi")
    lo_cols, x_lo, d_lo = side(q.frac_lo, "lo")
    g = df.groupBy(*_by_keys(q), bucket).agg(
        F.count(F.lit(1)).alias("_n"), *hi_cols, *lo_cols
    )
    num = (x_hi() * F.lit(d_lo) - x_lo() * F.lit(d_hi)) * F.lit(1_000_000)
    den = _dec(F.col("_n")) * F.lit(d_hi * d_lo)
    return g.select(
        *q.by,
        F.col("w.start").alias("bucket_ts"),
        _floordiv_exact(num, den).alias("value"),
    )


def _rate_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """rate()/increase() compiled onto the shared boundary-
    extrapolation kernel (functions/rate.py — the same expression tree
    as the driver-green events_rate_5m). Bare form: per-series
    (labels, bucket_ts, value) with value = round(rate, 6) DOUBLE, the
    kernel's contract. Aggregated form: each per-series rate is first
    re-expressed as BIGINT micro-units (round(rate*1e6)) so the
    cross-series aggregation is integer — float summation order would
    break the hash-exactness contract."""
    from clickhouse_metrics_pipeline_spark.functions.rate import (
        rate_over_window,
    )

    has_sid = "sample_id" in df.columns
    # Spark windows cannot partition by MAP columns, so the in-window
    # lag partitions on the canonical K2 series key (metric{k=v,...},
    # sorted — functions/hashing.py) while the labels map rides along
    # for the output.
    #
    # r11 optimization (guide §2.4): for the by-aggregated form the
    # output needs only the q.by label VALUES, which are functions of
    # the series key — extract them BEFORE the kernel and pass them as
    # extra window/group keys (orderable strings; group KEYS may be any
    # type, only AGGREGATE BUFFERS must be mutable). The bare and
    # without-forms still need the full labels map, whose
    # ``first(labels)`` aggregate buffer (immutable map) forces the
    # kernel's groupBy into SortAggregate; the aggregated form now runs
    # as one HashAggregate (plan pin: promql_rate_by_type_after11.txt —
    # zero SortAggregate nodes).
    aggregated_by = q.agg is not None and not q.without
    if aggregated_by:
        id_cols = [
            _sk_expr(df).alias("_sk"),
            *_by_keys(q),
        ]
        series_cols = ["_sk", *q.by]
    else:
        id_cols = [
            _sk_expr(df).alias("_sk"),
            F.col("attributes").alias("labels"),
        ]
        series_cols = ["_sk", "labels"]
    cols = [*id_cols, F.col("ts"), F.col("value")]
    if has_sid:
        cols.append(F.col("sample_id"))
        tiebreak = "sample_id"
    else:
        # without a unique sample id the kernel needs unique timestamps
        # per series (same caveat as delta); constant tiebreak = ts-only
        cols.append(F.lit(0).alias("_tb"))
        tiebreak = "_tb"
    r = rate_over_window(
        df.select(*cols),
        series_cols,
        q.range_s,
        tiebreak_col=tiebreak,
        mode=q.func,
        window_cols=series_cols if aggregated_by else ["_sk"],
    )
    if aggregated_by:
        g = r.where(F.col("rate").isNotNull()).select(
            *q.by, "bucket_ts", F.col("rate").alias("value")
        )
        return _micro_agg(q, g, keys_extracted=True)
    g = r.where(F.col("rate").isNotNull()).select(
        "labels", "bucket_ts", F.col("rate").alias("value")
    )
    return _micro_agg(q, g)


def _deriv_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """deriv() — per (series, window) least-squares slope in raw value
    units per second, the events_predict_linear kernel's arithmetic at
    the window grain. EXACT moments: x = the sample's micro-offset
    inside its tumbling window (``unix_micros(ts) % span`` — row-local
    because Spark aligns tumbling windows to the epoch, and slope is
    shift-invariant), y = integer cents; n, Σx, Σy, Σxy, Σx²
    accumulate in DECIMAL(38,0) so num = nΣxy−ΣxΣy and
    den = nΣx²−(Σx)² are combine-order exact (x ≤ range·1e6, so
    nΣx² ≤ n²·range²·1e12 — 38 digits holds through million-sample
    windows). The ONLY float op is the final division, written
    token-identically in the DuckDB twin: round(num/den · 1e4, 6)
    (micros→seconds ×1e6, cents→raw ÷100). den = 0 (single sample or
    one distinct timestamp) emits nothing, like rate's NULL windows.
    One shuffle to (series, window) with map-side partial moments;
    aggregated forms ride the shared micro-unit tail."""
    span = q.range_s * 1_000_000

    def dec(col):
        return col.cast("decimal(38,0)")

    x = dec(F.unix_micros("ts") % span)
    y = dec(_cents(F.col("value")))
    bucket = F.window("ts", f"{q.range_s} seconds").alias("w")
    g = df.groupBy(F.col("attributes").alias("labels"), bucket).agg(
        dec(F.count(F.lit(1))).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col(c) for c in ("_n", "_sx", "_sy", "_sxy", "_sxx")
    )
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy
    if q.func == "predict_linear":
        # forecast at the evaluation time (window END) + t seconds:
        # x* = span + t*1e6 micros from window start; the kernel's
        # exact form pred = (Σy*den + num*(n*x* − Σx)) / (n*den), all
        # decimal until the one division, then cents→raw ÷100.
        # Magnitude: Σy*den ≤ n*maxc * n²*span² ≈ 1e30 at 1e4-sample
        # windows — inside DECIMAL(38,0) through t of months
        xp = F.lit(span + q.param * 1_000_000).cast("decimal(38,0)")
        pred_num = sy * den + num * (n * xp - sx)
        nden = n * den
        # DECIMAL(38,0) products past 38 digits yield NULL silently in
        # non-ANSI Spark while the DuckDB twin's HUGEINT either holds
        # or errors loudly — a silent cross-engine divergence at
        # extreme n/cents/horizon magnitudes. Inputs are all non-null
        # aggregates, so a NULL intermediate IS the overflow signal;
        # fail loudly instead (the r7 ADVICE item, mirroring the
        # binop '*' assert)
        in_range = pred_num.isNotNull() & nden.isNotNull()
        val = F.when(
            F.assert_true(
                in_range,
                F.lit(
                    "predict_linear overflow: forecast numerator "
                    "exceeds DECIMAL(38,0)"
                ),
            ).isNull(),
            F.round(
                pred_num.cast("double") / nden.cast("double") / F.lit(100.0),
                6,
            ),
        )
    else:
        val = F.round(
            num.cast("double") / den.cast("double") * F.lit(1e4), 6
        )
    g = g.where(den != 0).select(
        "labels", F.col("w.start").alias("bucket_ts"), val.alias("value")
    )
    return _micro_agg(q, g)


def _micro_agg(
    q: PromQuery, g: DataFrame, keys_extracted: bool = False
) -> DataFrame:
    """Shared aggregation tail for the double-valued rate family
    (rate/increase/irate): per-series round(double,6) values are
    re-expressed as BIGINT micro-units before any cross-series
    aggregation so the result is order-independent and hash-exact.

    ``keys_extracted``: the caller already projected the q.by label
    columns (r11: the rate kernel's aggregated form extracts them
    before the kernel so no labels map rides through the aggregate);
    skip the element_at extraction here."""
    if q.agg is None:
        return g
    if q.without:
        # _post_ops' scalar half is applied by the caller (compile
        # routes rate plans through _post_ops); topk is rejected for
        # the without-form at parse time
        return _agg_without(
            q,
            g.select(
                "labels",
                "bucket_ts",
                F.round(F.col("value") * 1e6).cast("bigint").alias("value"),
            ),
            avg_scale=1,
        )
    micro = F.round(F.col("value") * 1e6).cast("bigint")
    if keys_extracted:
        g = g.select(*q.by, "bucket_ts", micro.alias("value"))
    else:
        keys = [
            F.coalesce(
                F.element_at(F.col("labels"), F.lit(k)), F.lit("")
            ).alias(k)
            for k in q.by
        ]
        g = g.select(*keys, "bucket_ts", micro.alias("value"))
    if q.agg == "avg":
        out = g.groupBy(*q.by, "bucket_ts").agg(
            F.sum("value").alias("_s"), F.count(F.lit(1)).alias("_n")
        )
        # scale=1: micro-units are already a scaled representation
        return out.select(
            *q.by,
            "bucket_ts",
            _half_up_scaled_mean(
                F.col("_s"), F.col("_n"), 1
            ).alias("value"),
        )
    agg_fn = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": lambda _: F.count(F.lit(1)),
        # PromQL group(): every surviving group gets value 1
        "group": lambda _: F.min(F.lit(1)),
    }[q.agg]
    return g.groupBy(*q.by, "bucket_ts").agg(
        agg_fn(F.col("value")).cast("bigint").alias("value")
    )


def _irate_plan(q: PromQuery, df: DataFrame) -> DataFrame:
    """irate() compiled onto the events_irate_5m kernel's contract:
    per series the instant rate at each evaluation window's LAST
    sample — last value divided by the seconds since the series'
    previous sample, round(double, 6). The lag crosses window
    boundaries (the kernel's documented divergence from strict PromQL,
    which uses the last two samples inside the window); same-timestamp
    pairs yield NULL via nullif; windows whose last sample is the
    series' first (no previous sample) emit nothing. ONE shuffle on
    the series key serves both the lag and the per-window argmax;
    aggregated forms ride the shared micro-unit tail."""
    from pyspark.sql.window import Window

    from clickhouse_metrics_pipeline_spark.functions.expr import (
        packed_ts_order,
    )

    has_sid = "sample_id" in df.columns
    # r11 optimization (guide §2.4, same as _rate_plan): the
    # by-aggregated form extracts the q.by label values before the
    # kernel (group keys, not aggregate buffers), and the per-window
    # argmax orders by the packed DECIMAL(38,0) (ts, tiebreak) key —
    # the struct ordering's immutable buffer forced SortAggregate.
    aggregated_by = q.agg is not None and not q.without
    if aggregated_by:
        id_cols = [_sk_expr(df).alias("_sk"), *_by_keys(q)]
        id_names = ["_sk", *q.by]
    else:
        id_cols = [
            _sk_expr(df).alias("_sk"),
            F.col("attributes").alias("labels"),
        ]
        id_names = ["_sk", "labels"]
    cols = [*id_cols, F.col("ts"), F.col("value")]
    if has_sid:
        cols.append(F.col("sample_id"))
        tiebreak = "sample_id"
    else:
        cols.append(F.lit(0).alias("_tb"))
        tiebreak = "_tb"
    w = Window.partitionBy("_sk").orderBy("ts", tiebreak)
    gap_s = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ) / 1e6
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / q.range_s) * q.range_s
    )
    base = df.select(*cols).select(
        *id_names,
        "ts",
        F.col(tiebreak),
        gap_s.alias("_gap"),
        bucket.alias("bucket_ts"),
        F.col("value"),
    )
    g = base.groupBy(*id_names, "bucket_ts").agg(
        F.max_by(
            F.round(F.col("value") / F.nullif(F.col("_gap"), F.lit(0.0)), 6),
            packed_ts_order("ts", tiebreak),
        ).alias("value")
    )
    if aggregated_by:
        g = g.where(F.col("value").isNotNull()).select(
            *q.by, "bucket_ts", "value"
        )
        return _micro_agg(q, g, keys_extracted=True)
    g = g.where(F.col("value").isNotNull()).select(
        "labels", "bucket_ts", "value"
    )
    return _micro_agg(q, g)


def _absent_plan(q: PromQuery, df_metric: DataFrame) -> DataFrame:
    """absent() as a range report: one (bucket_ts, value=1) row for
    every evaluation window in the METRIC's lifetime (grid bounds from
    the metric frame BEFORE matcher filtering — the baseline that
    defines "should have been there") where the matcher-filtered
    selector produced NO samples. The gone-silent detector
    (events_absent_series' shape) reachable from PromQL text; PromQL's
    instant absent() is this evaluated per window. Labels are not
    emitted (real absent() copies equality-matcher labels; subset
    divergence, documented in the grammar).

    Scale: ONE raw scan of the metric frame, structurally (r11/r12
    optimization, guide §2.4). One map-side-combinable window-grain
    aggregate (per_win: every window of the metric's lifetime that
    holds any sample, flagged 1 when a MATCHED sample landed there),
    then the absent report is enumerated from the SORTED per_win rows
    alone — each row emits itself when unmatched plus every grid
    window in the open gap to its predecessor (those windows hold no
    metric samples at all, so they are absent by definition). The
    single-partition sort and the per-row gap explode are bounded by
    lifetime/grain — the report's own output size, never raw
    cardinality. No join, no second consumer of per_win (a branch per
    consumer re-ran the whole scan: Catalyst prunes the two sides
    differently, so neither static ReuseExchange nor AQE stage reuse
    dedups them), and no O(N²) single-task membership test (the r11
    form shipped the whole present set as an ARRAY on every exploded
    grid row and ran a linear array_contains per row; r11 ADVICE
    item)."""
    r = q.range_s
    win = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / r) * r
    )
    matched = (
        compile_matchers(list(q.matchers)) if q.matchers else F.lit(True)
    )
    per_win = df_metric.groupBy(win.alias("bucket_ts")).agg(
        F.max(matched.cast("int")).alias("_has")
    )
    from pyspark.sql.window import Window as _W

    r_iv = F.expr(f"INTERVAL {r} SECONDS")
    w = _W.orderBy("bucket_ts")
    g = per_win.select(
        "bucket_ts",
        "_has",
        F.lag("bucket_ts").over(w).alias("_prev"),
    )
    empty_ts = F.array().cast("array<timestamp>")
    gap = F.when(
        F.col("_prev").isNotNull()
        & (F.col("_prev") + r_iv < F.col("bucket_ts")),
        F.sequence(
            F.col("_prev") + r_iv, F.col("bucket_ts") - r_iv, r_iv
        ),
    ).otherwise(empty_ts)
    # max() over only-NULL matched flags yields NULL — not present,
    # exactly as the r11 collect_set dropped NULLs
    own = F.when(
        F.coalesce(F.col("_has"), F.lit(0)) != 1, F.array("bucket_ts")
    ).otherwise(empty_ts)
    return g.select(
        F.explode(F.concat(gap, own)).alias("bucket_ts")
    ).select("bucket_ts", F.lit(1).cast("bigint").alias("value"))


def _subquery_plan(q: PromQuery, series: DataFrame) -> DataFrame:
    """fname(inner[R:S]) (see _Parser._subquery for the subset
    bounds): compile the inner bare call to per-series (labels,
    bucket_ts, value) at the S grain, integerize double-valued inners
    to micro-units (the same rule as their by-aggregated form), then
    window the inner results at R and apply the outer *_over_time
    aggregation per series; the optional by-agg rides the standard
    integer tail. Scale: the outer stage aggregates the inner's
    ALREADY-REDUCED window results (series x R/S rows per range), so
    the extra shuffle is rollup-sized regardless of raw volume."""
    inner = q.inner
    g = compile_promql(inner, series)
    micro_inner = inner.func in _DOUBLE_FUNCS
    if micro_inner:
        g = g.select(
            "labels",
            "bucket_ts",
            F.round(F.col("value") * 1e6).cast("bigint").alias("value"),
        )
    w = F.window("bucket_ts", f"{q.range_s} seconds").alias("w")
    per = g.groupBy(F.col("labels"), w)
    if q.func == "count_over_time":
        gg = per.agg(F.count(F.lit(1)).cast("bigint").alias("value"))
    elif q.func == "present_over_time":
        gg = per.agg(F.lit(1).cast("bigint").alias("value"))
    elif q.func == "last_over_time":
        gg = per.agg(
            F.max_by(F.col("value"), F.col("bucket_ts")).alias("value")
        )
    elif q.func == "avg_over_time":
        # micro inners keep their precision (avg_scale=1, the
        # _micro_agg rule); integer inners promote x10000
        gg = per.agg(
            F.sum("value").alias("_s"), F.count(F.lit(1)).alias("_n")
        ).select(
            "labels",
            "w",
            _half_up_scaled_mean(
                F.col("_s"), F.col("_n"), 1 if micro_inner else 10000
            ).alias("value"),
        )
    else:
        fn = {
            "sum_over_time": F.sum,
            "min_over_time": F.min,
            "max_over_time": F.max,
        }[q.func]
        gg = per.agg(fn(F.col("value")).cast("bigint").alias("value"))
    gg = gg.select(
        "labels", F.col("w.start").alias("bucket_ts"), "value"
    )
    return _sub_tail(q, gg, micro_inner)


def _sub_tail(
    q: PromQuery, g: DataFrame, micro_inner: bool
) -> DataFrame:
    """by/without aggregation over per-series subquery results —
    the standard integer tail with the micro-aware avg scale."""
    if q.agg is None:
        return g
    outer_micro = micro_inner and q.func not in (
        "count_over_time",
        "present_over_time",
    )
    avg_scale = 1 if outer_micro else 10000
    if q.without:
        return _agg_without(q, g, avg_scale=avg_scale)
    keys = [
        F.coalesce(
            F.element_at(F.col("labels"), F.lit(k)), F.lit("")
        ).alias(k)
        for k in q.by
    ]
    g2 = g.select(*keys, "bucket_ts", "value")
    if q.agg == "avg":
        out = g2.groupBy(*q.by, "bucket_ts").agg(
            F.sum("value").alias("_s"), F.count(F.lit(1)).alias("_n")
        )
        return out.select(
            *q.by,
            "bucket_ts",
            _half_up_scaled_mean(
                F.col("_s"), F.col("_n"), avg_scale
            ).alias("value"),
        )
    agg_fn = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": lambda _: F.count(F.lit(1)),
        "group": lambda _: F.min(F.lit(1)),
    }[q.agg]
    return g2.groupBy(*q.by, "bucket_ts").agg(
        agg_fn(F.col("value")).cast("bigint").alias("value")
    )


# (agg, func) pairs whose outer aggregation COMPOSES across a grain
# refinement: re-aggregating the finer vector with the same operator
# equals aggregating the raw rows at the coarser grain. The same
# algebra as compile_promql's fused one-aggregate path — sum of
# per-group counts is the total count, sum of sums a sum, min of mins
# a min, max of maxes a max.
_COARSEN_OPS = {
    ("sum", "count_over_time"): F.sum,
    ("sum", "sum_over_time"): F.sum,
    ("min", "min_over_time"): F.min,
    ("max", "max_over_time"): F.max,
}


def _post_op_free(q: PromQuery) -> bool:
    """True when compile_promql(q) emits the bare aggregated vector —
    no outer operator rewrites rows/values after the aggregation."""
    return (
        q.outer is None
        and q.scalar_op is None
        and q.vfn is None
        and q.count_values_label is None
        and q.lbl_fn is None
        and q.sort_dir is None
    )


def _fusable_pair(
    b: BinQuery,
) -> tuple[PromQuery, PromQuery, bool] | None:
    """(fine, coarse, fine_is_lhs) when the two sides aggregate the
    SAME selector (metric, matchers, func, range, offset) with the
    same composable operator and one by-tuple strictly refines the
    other — the share_of_type / and_on_hot_types / group_right_ratio
    shape. None otherwise."""
    l, r = b.lhs, b.rhs
    if not (isinstance(l, PromQuery) and isinstance(r, PromQuery)):
        return None
    same_input = (
        l.metric == r.metric
        and l.matchers == r.matchers
        and l.func == r.func
        and l.range_s == r.range_s
        and l.offset_s == r.offset_s
        and l.at_s is None and r.at_s is None
        and l.inner is None and r.inner is None
        and l.hist_component is None and r.hist_component is None
        and l.quantile is None and r.quantile is None
        and l.frac_lo is None and r.frac_lo is None
        and not l.without and not r.without
    )
    if not same_input:
        return None
    if l.agg != r.agg or (l.agg, l.func) not in _COARSEN_OPS:
        return None
    if set(r.by) < set(l.by):
        return l, r, True
    if set(l.by) < set(r.by):
        return r, l, False
    return None


def _fused_window_bin_plan(
    b: BinQuery, series: DataFrame
) -> DataFrame | None:
    """r12 optimization (guide §2.4 — remove shuffles outright): when
    the coarse side of a fusable pair IS a re-aggregation of the fine
    side (``sum by (t,u)(...) / on(t) sum by (t)(...)``), the whole
    binop collapses to ONE aggregate plus a window function over it:
    the coarse value is the window-``agg`` of the fine values
    partitioned by (match key, bucket_ts), and the arithmetic /
    comparison / 'and'-filter runs row-locally. No second scan, no
    second aggregate, no join — structurally, not via AQE's runtime
    exchange reuse (which the semi-join pushdown defeats for 'and').
    The extra window exchange carries the by-grain vector — the
    query's own output size.

    The coarse side's value-level post-ops (clamp/abs, scalar
    arithmetic, a trailing comparison filter, 'bool') apply to the
    windowed value through the SAME _apply_vfn/_apply_scalar used on
    the compiled vector, so semantics match the independent compile
    exactly; coarse post-ops that rewrite rows or labels at the
    coarse grain (topk, count_values, label fns) and set ops whose
    survivors are the NEGATION of the coarse filter ('unless', 'or')
    fall back to the derive+join form below."""
    info = _fusable_pair(b)
    if info is None:
        return None
    fine, coarse, fine_is_lhs = info
    if not fine_is_lhs or not _post_op_free(fine):
        return None
    if b.op in ("or", "unless"):
        return None
    if set(match_key(b)) != set(coarse.by):
        return None
    if b.group_left not in (None, ()):
        return None
    if (
        coarse.outer is not None
        or coarse.count_values_label is not None
        or coarse.lbl_fn is not None
        or coarse.sort_dir is not None
    ):
        return None
    from pyspark.sql.window import Window as _W

    fine_df = compile_promql(fine, series)
    agg_op = _COARSEN_OPS[(coarse.agg, coarse.func)]
    w = _W.partitionBy(*coarse.by, "bucket_ts")
    tmp = fine_df.withColumnRenamed("value", "_l").withColumn(
        "value", agg_op(F.col("_l")).over(w).cast("bigint")
    )
    # the coarse side's value rewrites and filters, verbatim
    tmp = _apply_scalar(coarse, _apply_vfn(coarse, tmp))
    out_cols = list(b.lhs.by) + ["bucket_ts"]
    if b.op == "and":
        # rhs enters only as a key set; every fine row's coarse group
        # exists, so survival == the coarse filter's survival
        return tmp.select(
            *out_cols, F.col("_l").cast("bigint").alias("value")
        )
    ul, ur = (
        (F.col("value"), F.col("_l")) if b.swapped
        else (F.col("_l"), F.col("value"))
    )
    if b.op in _CMP_OPS:
        cond = {
            ">": ul > ur,
            ">=": ul >= ur,
            "<": ul < ur,
            "<=": ul <= ur,
            "==": ul == ur,
            "!=": ul != ur,
        }[b.op]
        return tmp.where(cond).select(
            *out_cols, F.col("_l").cast("bigint").alias("value")
        )
    if b.op == "/":
        tmp = tmp.where(ur != 0)
        sign = F.when(
            (ul < 0) != (ur < 0), F.lit(-1)
        ).otherwise(F.lit(1))
        val = sign * _floordiv_exact(
            F.abs(ul) * F.lit(1_000_000), F.abs(ur)
        )
    elif b.op == "+":
        val = ul + ur
    elif b.op == "-":
        val = ul - ur
    else:
        prod = ul.cast("decimal(38,0)") * ur.cast("decimal(38,0)")
        in_range = F.abs(prod) <= F.lit(2**63 - 1).cast("decimal(38,0)")
        val = F.when(
            F.assert_true(
                in_range,
                F.lit("PromQL '*' overflow: product exceeds BIGINT"),
            ).isNull(),
            prod,
        )
    return tmp.select(*out_cols, val.cast("bigint").alias("value"))


def _fused_sides(
    b: BinQuery, series: DataFrame
) -> tuple[DataFrame, DataFrame] | None:
    """r12 optimization (guide §2.4 — remove shuffles outright): when
    both BinQuery sides aggregate the SAME selector (metric, matchers,
    func, range, offset) with the same composable operator and one
    side's by-tuple refines the other's (share_of_type,
    and_on_hot_types, group_right_ratio: ``sum by (t,u)(...)`` vs
    ``sum by (t)(...)``), the coarser vector IS a re-aggregation of
    the finer one. Compiling the coarse side from the fine side's
    OUTPUT instead of from the raw frame makes the two join inputs
    share one scan + one raw-grain exchange (Catalyst's ReuseExchange
    fires on the byte-identical fine-side subplan; the derived side
    adds only a rollup-sized second aggregate), where the independent
    compile paid a second full scan and a second raw-grain shuffle.
    Values are identical by the _COARSEN_OPS algebra; the coarse
    side's post-ops (e.g. and_on's ``> 70``) apply to the derived
    vector exactly as they would to the independently compiled one."""
    info = _fusable_pair(b)
    if info is None:
        return None
    fine, coarse, fine_is_lhs = info
    # the fine side's output is re-aggregated, so it must BE the bare
    # aggregated vector (post-ops would already have rewritten it)
    if not _post_op_free(fine):
        return None
    fine_df = compile_promql(fine, series)
    agg_op = _COARSEN_OPS[(coarse.agg, coarse.func)]
    base = (
        fine_df.groupBy(*coarse.by, "bucket_ts")
        .agg(agg_op(F.col("value")).cast("bigint").alias("value"))
        .select(*coarse.by, "bucket_ts", "value")
    )
    coarse_df = _post_ops(coarse, base)
    return (
        (fine_df, coarse_df) if fine_is_lhs else (coarse_df, fine_df)
    )


def _bin_plan(b: BinQuery, series: DataFrame) -> DataFrame:
    """Vector arithmetic: compile both sides, inner-join on
    (match-key labels, bucket_ts) — the on(...)/ignoring(...) key, or
    the identical by-tuple in the legacy form. '+'/'-'/'*' stay in
    the sides' integer units; '/' emits sign-aware truncated ppm
    through the exact decimal divider, dropping rhs==0 rows (PromQL's
    +Inf is not representable as BIGINT). group_left keeps every lhs
    row against a key-unique rhs and pulls the named rhs labels into
    the output; when labels ARE pulled the rhs key-uniqueness that
    aggregation no longer guarantees is enforced with a window-count
    assert — real PromQL's "multiple matches" execution error. The
    join is a tiny aggregated-vector join — at scale both sides have
    already reduced to the by-grain, so AQE broadcasts the smaller
    one; the group_left uniqueness window runs on that same tiny
    vector."""
    keys = list(match_key(b)) + ["bucket_ts"]
    windowed = _fused_window_bin_plan(b, series)
    if windowed is not None:
        return windowed
    fused = _fused_sides(b, series)
    if b.op in _SET_OPS:
        # set operations keep whole lhs rows; values never mix except
        # under 'or', whose parse-time encoding check makes the union
        # unit-safe. The lhs is key-unique per its by-tuple; the rhs
        # enters only as a (possibly coarser) key set, so semi/anti
        # joins are exact PromQL matching; both sides are by-grain
        # tiny, AQE broadcasts the smaller
        if fused is not None:
            lhs, rhs = fused
        else:
            lhs = compile_promql(b.lhs, series)
            rhs = compile_promql(b.rhs, series)
        if b.op == "and":
            return lhs.join(rhs.select(*keys), keys, "left_semi")
        if b.op == "unless":
            return lhs.join(rhs.select(*keys), keys, "left_anti")
        # 'or': lhs wins on matched keys, unmatched rhs rows fill in
        return lhs.unionByName(
            rhs.join(lhs.select(*keys), keys, "left_anti")
        )
    if fused is not None:
        lhs, rhs = fused
        lhs = lhs.withColumnRenamed("value", "_l")
        rhs = rhs.withColumnRenamed("value", "_r")
    else:
        lhs = compile_promql(b.lhs, series).withColumnRenamed(
            "value", "_l"
        )
        rhs = compile_promql(b.rhs, series).withColumnRenamed(
            "value", "_r"
        )
    extras = list(b.group_left or ())
    rhs = rhs.select(*keys, *extras, "_r")
    if extras:
        # rhs aggregated by (key + extras): unique per full tuple but
        # not necessarily per key — assert one rhs row per match
        # group, PromQL's many-to-many execution error
        from pyspark.sql.window import Window as _W

        dup = F.count(F.lit(1)).over(_W.partitionBy(*keys))
        rhs = rhs.withColumn(
            "_r",
            F.when(
                F.assert_true(
                    dup == 1,
                    F.lit(
                        "PromQL group_left: multiple right-side "
                        "series match one group — the on(...) key "
                        "must identify a unique right row"
                    ),
                ).isNull(),
                F.col("_r"),
            ),
        )
    j = lhs.join(rhs, keys)
    # user-order operand columns: a group_right-desugared BinQuery
    # (b.swapped, r11) carries the user's sides structurally swapped —
    # the many side is always the structural lhs — so non-commutative
    # ops read the user's left from '_r' and right from '_l'
    ul, ur = (
        (F.col("_r"), F.col("_l")) if b.swapped
        else (F.col("_l"), F.col("_r"))
    )
    if b.op in _CMP_OPS:
        # vector comparison filter: keep the structural-lhs rows (the
        # many side under grouping; values unchanged) where the
        # USER-ORDER comparison against the matched row holds —
        # parse-time equal encodings make the integer comparison the
        # raw-unit comparison
        cond = {
            ">": ul > ur,
            ">=": ul >= ur,
            "<": ul < ur,
            "<=": ul <= ur,
            "==": ul == ur,
            "!=": ul != ur,
        }[b.op]
        out_cols = list(b.lhs.by) + extras + ["bucket_ts"]
        return j.where(cond).select(
            *out_cols, F.col("_l").cast("bigint").alias("value")
        )
    if b.op == "/":
        j = j.where(ur != 0)
        sign = F.when(
            (ul < 0) != (ur < 0), F.lit(-1)
        ).otherwise(F.lit(1))
        val = sign * _floordiv_exact(
            F.abs(ul) * F.lit(1_000_000), F.abs(ur)
        )
    elif b.op == "+":
        val = F.col("_l") + F.col("_r")
    elif b.op == "-":
        val = ul - ur
    else:
        # '*' of two scaled BIGINT vectors can exceed BIGINT (cents *
        # cents at ~1e10 magnitudes); the product runs in DECIMAL(38,0)
        # — exact for any int64*int64, max |p| = 2^126 < 1e38 — with an
        # explicit overflow assert before the BIGINT narrowing
        # (assert_true yields NULL on pass, raises on fail, so the
        # when() collapses to the product and cannot be pruned)
        prod = F.col("_l").cast("decimal(38,0)") * F.col("_r").cast(
            "decimal(38,0)"
        )
        in_range = F.abs(prod) <= F.lit(2**63 - 1).cast("decimal(38,0)")
        val = F.when(
            F.assert_true(
                in_range,
                F.lit("PromQL '*' overflow: product exceeds BIGINT"),
            ).isNull(),
            prod,
        )
    # output labels: the full lhs by-tuple (match key plus any extra
    # lhs labels under group_left) plus the pulled rhs labels
    out_cols = list(b.lhs.by) + extras + ["bucket_ts"]
    return j.select(*out_cols, val.cast("bigint").alias("value"))


def compile_promql(
    query: str | PromQuery | BinQuery, series: DataFrame
) -> DataFrame:
    """Compile the parsed query onto a series frame. Output columns:
    the by-labels (or ``labels`` map for unaggregated calls),
    ``bucket_ts``, and ``value`` (BIGINT; see the exactness contract
    in the module docstring). Memoized (plan_memo.py) by the query
    and the series frame object."""
    try:
        key = ("promql", query, series)
        hash(key)
    except TypeError:
        return _compile_promql_uncached(query, series)
    cached = plan_memo.get(key)
    if cached is not None:
        trace, out = cached
        if plan_memo.replay(trace, _REPLAYS_RUN):
            return out.select("*")
    out, trace = plan_memo.traced(
        lambda: _compile_promql_uncached(query, series)
    )
    plan_memo.put(key, (trace, out))
    return out.select("*")  # the memo's copy is never executed


def _compile_promql_uncached(
    query: str | PromQuery | BinQuery, series: DataFrame
) -> DataFrame:
    q = parse(query) if isinstance(query, str) else query
    if isinstance(q, PromQuery) and q.at_s is not None:
        # '@ T' (r10): compile the un-pinned query, then keep only the
        # tumbling-grid window containing T. Filtering the OUTPUT grid
        # is semantically exact for every plan (bucket_ts IS the
        # evaluation window) and avoids per-plan special cases; the
        # filter sits on a groupBy key, so Catalyst pushes it below
        # the aggregation where the plan shape allows.
        from dataclasses import replace

        base = compile_promql(replace(q, at_s=None), series)
        w = (q.at_s // q.range_s) * q.range_s
        return base.where(
            F.col("bucket_ts") == F.timestamp_seconds(F.lit(w))
        )
    if isinstance(q, BinQuery):
        return _bin_plan(q, series)
    if q.inner is not None:
        return _post_ops(q, _subquery_plan(q, series))
    df = series.where(F.col("metric") == q.metric)
    if q.offset_s:
        # PromQL offset: evaluate over data older by the offset —
        # shifting sample ts forward puts t into the evaluation window
        # [T-range, T) iff t in [T-range-offset, T-offset)
        df = df.withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {q.offset_s} SECONDS")
        )
    if q.func in ("absent", "absent_over_time"):
        # needs the metric frame BEFORE matcher filtering for the grid
        # bounds; matchers apply inside (to the presence set only).
        # absent_over_time IS absent in this engine: evaluation is
        # per-window already, so "no samples in the window" and "no
        # samples over the trailing range" coincide at the grain (r9)
        return _absent_plan(q, df)
    if q.matchers:
        df = df.where(compile_matchers(list(q.matchers)))
    if q.hist_component is not None:
        # histogram_count()/histogram_sum() (r10): swap the stored
        # component counter in for value, then the plan IS the rate
        # plan — parser-bound to rate/increase
        comp = q.hist_component
        if comp not in df.columns:
            raise PromQLError(
                f"histogram_{comp}() needs a '{comp}' column on the "
                "series frame (the metrics_raw stored-histogram shape)"
            )
        df = df.where(F.col(comp).isNotNull()).withColumn(
            "value", F.col(comp).cast("double")
        )
    if q.frac_lo is not None:
        return _hist_fraction_plan(q, df)
    if q.quantile is not None:
        return _hist_quantile_plan(q, df)
    if q.func == "irate":
        return _post_ops(q, _irate_plan(q, df))
    if q.func in ("deriv", "predict_linear"):
        return _post_ops(q, _deriv_plan(q, df))
    if q.func in _DOUBLE_FUNCS:
        return _post_ops(q, _rate_plan(q, df))
    bucket = F.window("ts", f"{q.range_s} seconds").alias("w")
    c = _cents(F.col("value"))
    # r11 optimization (guide §2.4 — remove shuffles outright): when
    # the outer aggregation COMPOSES with the per-series *_over_time
    # function, the (series, window) intermediate grain is pure
    # overhead — sum-by of per-series counts IS the row count per
    # (by-labels, window), sum of sums a sum, min of mins a min, max of
    # maxes a max, and group() only needs row presence. Those collapse
    # to ONE map-side-combinable HashAggregate on the by-grain: one
    # Exchange instead of two, and the shuffle carries by-grain
    # partials instead of the full per-series grain (at raw-table
    # cardinalities the series grain is ~the row count — this is the
    # dominant shuffle of the whole plan family). avg/count/quantile
    # need the per-series vector (avg of series values is not the row
    # avg; count counts SERIES) and keep the two-stage path, as does
    # 'without' (its group key is the pruned labels map itself).
    if q.agg is not None and not q.without:
        fused = {
            ("sum", "count_over_time"): F.count(F.lit(1)),
            ("sum", "sum_over_time"): F.sum(c),
            ("min", "min_over_time"): F.min(c),
            ("max", "max_over_time"): F.max(c),
        }.get((q.agg, q.func))
        if q.agg == "group":
            # group() discards values: a group survives iff any of its
            # series has a sample in the window iff any ROW lands there
            fused = F.min(F.lit(1))
        if fused is not None:
            keys = [
                F.coalesce(
                    F.element_at(F.col("attributes"), F.lit(k)),
                    F.lit(""),
                ).alias(k)
                for k in q.by
            ]
            out = (
                df.groupBy(*keys, bucket)
                .agg(fused.cast("bigint").alias("value"))
                .select(
                    *q.by, F.col("w.start").alias("bucket_ts"), "value"
                )
            )
            return _post_ops(q, out)
    # sample_id (when the frame carries one) makes min_by/max_by
    # deterministic under equal-ts samples — the exactness contract
    order_key = (
        F.struct("ts", "sample_id")
        if "sample_id" in df.columns
        else F.struct("ts")
    )
    per_series = df.groupBy(F.col("attributes").alias("labels"), bucket)

    if q.func == "count_over_time":
        g = per_series.agg(F.count(F.lit(1)).alias("value"))
    elif q.func == "last_over_time":
        # the anyLast/gauge-read shape (A4) — deterministic via the
        # sample_id tiebreaker in order_key
        g = per_series.agg(F.max_by(c, order_key).alias("value"))
    elif q.func == "present_over_time":
        g = per_series.agg(F.lit(1).cast("bigint").alias("value"))
    elif q.func == "quantile_over_time":
        # exact phi-quantile of the window's sample cents, row-local
        # over the sorted in-window sample array (bounded by the
        # series' sampling rate x range, like every per-series window
        # op); same integer interpolation as _quantile_agg, emitted as
        # BIGINT quantile x10000
        arr = F.array_sort(F.collect_list(c))
        g = per_series.agg(arr.alias("_arr"))
        n = F.size("_arr").cast("bigint")
        pos = F.lit(q.param) * (n - 1)
        lo = _floordiv_exact(pos, F.lit(100)) + 1
        hi = F.least(lo + 1, n)
        rem = (pos % 100).cast("bigint")
        vlo = F.element_at("_arr", lo.cast("int"))
        vhi = F.element_at("_arr", hi.cast("int"))
        g = g.select(
            "labels",
            "w",
            (vlo * F.lit(10000) + (vhi - vlo) * rem * F.lit(100)).alias(
                "value"
            ),
        )
    elif q.func == "sum_over_time":
        g = per_series.agg(F.sum(c).alias("value"))
    elif q.func == "min_over_time":
        g = per_series.agg(F.min(c).alias("value"))
    elif q.func == "max_over_time":
        g = per_series.agg(F.max(c).alias("value"))
    elif q.func == "avg_over_time":
        g = per_series.agg(
            F.sum(c).alias("_c"), F.count(F.lit(1)).alias("_n")
        )
        # cents x scale 100 = the half-up value*10000 contract
        g = g.select(
            "labels",
            "w",
            _half_up_scaled_mean(
                F.col("_c"), F.col("_n"), 100
            ).alias("value"),
        )
    elif q.func == "delta":
        g = per_series.agg(
            (F.max_by(c, order_key) - F.min_by(c, order_key)).alias("value")
        )
    elif q.func in ("stdvar_over_time", "stddev_over_time"):
        # the exact integer moment state of the events_stddev_over_time
        # kernel, resolved to a scalar per (series, window): var_num =
        # n*Q - S^2 >= 0 (Cauchy-Schwarz) floored by n^2 via the
        # DECIMAL(38,0) divider -> population variance in cents^2.
        # Moments accumulate in DECIMAL(38,0) like _deriv_plan's —
        # sum(c^2) alone exceeds BIGINT at ~20 samples of 1e9-cent
        # values (DuckDB's twin widens to HUGEINT the same way), and
        # ANSI mode would turn that into a runtime ArithmeticException
        cd = c.cast("decimal(38,0)")
        g = per_series.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            F.sum(cd).alias("_s"),
            F.sum(cd * cd).alias("_q"),
        )
        var_num = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
        var_c2 = _floordiv_exact(var_num, F.col("_n") * F.col("_n"))
        if q.func == "stdvar_over_time":
            val = var_c2
        else:
            # floor isqrt: IEEE sqrt is correctly rounded, so
            # floor(sqrt(x)) is off by at most 1 for x < 2^52; one
            # comparison step lands the exact integer root — the same
            # correction DuckDB's oracle twin applies
            s0 = F.floor(F.sqrt(var_c2.cast("double"))).cast("bigint")
            # squares compare in DECIMAL: (s0+1)^2 can exceed BIGINT
            # when var_c2 sits near 2^63 (ANSI would throw)
            s0d = s0.cast("decimal(38,0)")
            vd = var_c2.cast("decimal(38,0)")
            val = (
                F.when((s0d + 1) * (s0d + 1) <= vd, s0 + 1)
                .when(s0d * s0d > vd, s0 - 1)
                .otherwise(s0)
            )
        g = g.select("labels", "w", val.alias("value"))
    elif q.func == "holt_winters":
        # the events_holt_winters kernel's exact fixed-point recursion
        # at the (series, window) grain: in-window cents sorted by
        # (ts, sample_id) row-locally, Prometheus init s0=y0,
        # b0=y1-y0, then the sf/tf fold with every /1000 rescale
        # floored via the shared _hw_fd (token-identical arithmetic in
        # the DuckDB twin's recursive CTE). Emits the final smoothed
        # level in integer cents; a single-sample window emits y0.
        from clickhouse_metrics_pipeline_spark.workloads_ext4 import (
            _HW_SCALE,
            _hw_fd,
        )

        pair = (
            F.struct(F.col("ts"), F.col("sample_id"), c.alias("_c"))
            if "sample_id" in df.columns
            else F.struct(F.col("ts"), c.alias("_c"))
        )
        g = per_series.agg(
            F.array_sort(F.collect_list(pair)).alias("_arr")
        )
        vals = F.transform(F.col("_arr"), lambda x: x["_c"])
        n = F.size(vals)
        y0 = F.element_at(vals, 1)
        # try_: a single-sample window has no second element (plain
        # element_at raises INVALID_ARRAY_INDEX); coalesce -> b0 = 0
        y1 = F.try_element_at(vals, F.lit(2))
        init = F.struct(
            y0.alias("s"), F.coalesce(y1 - y0, F.lit(0)).alias("b")
        )
        sf_, tf_, sc = q.param, q.param2, _HW_SCALE

        def hw_step(acc, y):
            s2 = _hw_fd(
                F.lit(sf_) * y + F.lit(sc - sf_) * (acc["s"] + acc["b"])
            )
            return F.struct(
                s2.alias("s"),
                _hw_fd(
                    F.lit(tf_) * (s2 - acc["s"])
                    + F.lit(sc - tf_) * acc["b"]
                ).alias("b"),
            )

        folded = F.when(
            n >= 2, F.aggregate(F.slice(vals, 2, n - 1), init, hw_step)
        ).otherwise(init)
        g = g.select("labels", "w", folded["s"].alias("value"))
    elif q.func in ("resets", "changes"):
        # window-local consecutive-sample comparison: sort the
        # in-window samples by (ts, sample_id) row-locally (bounded by
        # the series' sampling rate x range like every per-series
        # window op — no second shuffle, no global window function),
        # then count adjacent decreases (resets) / inequalities
        # (changes) over the exact integer cents. array_sort on the
        # struct orders by its fields left-to-right, so the cents ride
        # LAST and never influence the order
        pair = (
            F.struct(F.col("ts"), F.col("sample_id"), c.alias("_c"))
            if "sample_id" in df.columns
            else F.struct(F.col("ts"), c.alias("_c"))
        )
        g = per_series.agg(
            F.array_sort(F.collect_list(pair)).alias("_arr")
        )
        vals = F.transform(F.col("_arr"), lambda x: x["_c"])
        n = F.size("_arr")
        cmp = (
            (lambda a, b: (b < a).cast("bigint"))
            if q.func == "resets"
            else (lambda a, b: (b != a).cast("bigint"))
        )
        hits = F.zip_with(
            F.slice(vals, 1, n - 1), F.slice(vals, 2, n - 1), cmp
        )
        g = g.select(
            "labels",
            "w",
            F.aggregate(
                hits, F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("value"),
        )
    else:  # pragma: no cover — parser rejects unknown funcs
        raise PromQLError(f"unreachable func {q.func}")

    g = g.select(
        "labels", F.col("w.start").alias("bucket_ts"), F.col("value")
    )
    if q.agg is None:
        return g
    if q.without:
        # topk is parse-rejected for the without-form, so _post_ops
        # reduces to vfn + scalar here
        return _post_ops(q, _agg_without(q, g))
    keys = [
        F.coalesce(
            F.element_at(F.col("labels"), F.lit(k)), F.lit("")
        ).alias(k)
        for k in q.by
    ]
    if q.agg == "quantile":
        return _post_ops(
            q, _quantile_agg(q, g.select(*keys, "bucket_ts", "value"))
        )
    agg_fn = {
        "sum": F.sum,
        "avg": None,
        "min": F.min,
        "max": F.max,
        "count": lambda _: F.count(F.lit(1)),
        # PromQL group(): every surviving group gets value 1
        "group": lambda _: F.min(F.lit(1)),
    }[q.agg]
    if q.agg == "avg":
        # half-up scaled mean of the per-series integer values
        out = (
            g.groupBy(*keys, "bucket_ts")
            .agg(F.sum("value").alias("_s"), F.count(F.lit(1)).alias("_n"))
        )
        return _post_ops(
            q,
            out.select(
                *q.by,
                "bucket_ts",
                _half_up_scaled_mean(
                    F.col("_s"), F.col("_n"), 10000
                ).alias("value"),
            ),
        )
    return _post_ops(
        q,
        g.groupBy(*keys, "bucket_ts").agg(
            agg_fn(F.col("value")).cast("bigint").alias("value")
        ),
    )


def _quantile_agg(q: PromQuery, keyed: DataFrame) -> DataFrame:
    """Exact phi-quantile of the per-series integer values per
    (by-labels, window), PromQL's linear interpolation carried in
    integer arithmetic: with values sorted ascending and p the whole
    percent, pos = p*(n-1) in percent units, lo = pos // 100 (0-based),
    rem = pos % 100, and the emitted BIGINT is
    v_lo*10000 + (v_hi - v_lo)*rem*100 — the quantile x10000 with no
    float anywhere. Rank-k values of a sorted multiset are unique, so
    row_number ties between equal values cannot change the result."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*q.by, "bucket_ts").orderBy("value")
    wn = Window.partitionBy(*q.by, "bucket_ts")
    ranked = keyed.select(
        *q.by,
        "bucket_ts",
        "value",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    pos = F.lit(q.param) * (F.col("_n") - 1)
    lo = _floordiv_exact(pos, F.lit(100)) + 1  # 1-based rank
    hi = F.least(lo + 1, F.col("_n"))
    rem = (pos % 100).cast("bigint")
    out = ranked.groupBy(*q.by, "bucket_ts").agg(
        F.max(F.when(F.col("_rn") == lo, F.col("value"))).alias("_vlo"),
        F.max(F.when(F.col("_rn") == hi, F.col("value"))).alias("_vhi"),
        F.max(rem).alias("_rem"),
    )
    return out.select(
        *q.by,
        "bucket_ts",
        (
            F.col("_vlo") * F.lit(10000)
            + (F.col("_vhi") - F.col("_vlo")) * F.col("_rem") * F.lit(100)
        ).alias("value"),
    )


def _agg_without(q: PromQuery, g: DataFrame, avg_scale: int = 10000) -> DataFrame:
    """PromQL 'without' aggregation: group by the labels map minus the
    dropped keys (Spark groups map columns natively); the output keeps
    the pruned labels map. rate/increase arrive here already converted
    to BIGINT micro-units by _rate_plan (with avg_scale=1 — micro-units
    are already a scaled representation, matching the by-form), so
    every agg is integer."""
    drop = F.array(*[F.lit(k) for k in q.without])
    pruned = F.map_filter(
        "labels", lambda k, _: ~F.array_contains(drop, k)
    )
    grouped = g.select(
        pruned.alias("labels"), "bucket_ts", "value"
    ).groupBy("labels", "bucket_ts")
    if q.agg == "avg":
        out = grouped.agg(
            F.sum("value").alias("_s"), F.count(F.lit(1)).alias("_n")
        )
        return out.select(
            "labels",
            "bucket_ts",
            _half_up_scaled_mean(
                F.col("_s"), F.col("_n"), avg_scale
            ).alias("value"),
        )
    agg_fn = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": lambda _: F.count(F.lit(1)),
        # PromQL group(): every surviving group gets value 1
        "group": lambda _: F.min(F.lit(1)),
    }[q.agg]
    return grouped.agg(
        agg_fn(F.col("value")).cast("bigint").alias("value")
    )


def _apply_scalar(q: PromQuery, out: DataFrame) -> DataFrame:
    """Trailing scalar form over the aggregated vector: comparisons
    FILTER (PromQL instant-vector comparison — value kept unchanged),
    integer arithmetic rescales. The scalar is interpreted in RAW
    sample-value units — real PromQL semantics (an r8 behavior
    change; r7 read scalars in the side's encoding units, the
    driver-flagged unit trap): ``> 100`` after sum_over_time compiles
    to a 10000-cent threshold, after an aggregated rate to 1e8
    micro-units, via ``encoding_scale(output_encoding(q))``. '+'/'-'
    scale the scalar the same way; '*' and '/' are dimensionless and
    use the raw integer. '/' (r11, closing a named subset residual)
    mirrors the vector division's exactness contract: value becomes
    sign·floor(|v|·1e6 / N) through the exact decimal divider, and
    the output encoding gains the composite '<base>/ppm' label so the
    HTTP layer's raw-unit decode divides by base_scale·1e6 — reading
    back (v/base_scale)/N, PromQL's `vector / N`. The scalar must
    still be an INTEGER (the exactness contract — sub-raw-unit
    thresholds are outside the subset), and the scaled literal stays
    integer because every encoding scale is a power of ten."""
    if q.scalar_op is None:
        return out
    from dataclasses import replace as _replace

    v = F.col("value")
    if q.scalar_op == "/":
        sign = F.when(v < 0, F.lit(-1)).otherwise(F.lit(1))
        # decimal BEFORE the 1e6 widening so micro-encoded magnitudes
        # cannot overflow int64 pre-cast (same contract as _bin_plan)
        val = sign * _floordiv_exact(
            F.abs(v).cast("decimal(38,0)") * F.lit(1_000_000),
            F.lit(abs(q.scalar)),
        ) * F.lit(-1 if q.scalar < 0 else 1)
        return out.withColumn("value", val.cast("bigint"))
    # the threshold scales by the PRE-bool encoding: output_encoding
    # reports count for a bool query (that IS the output), but the
    # comparison itself runs in the side's own units
    scale = encoding_scale(
        output_encoding(_replace(q, scalar_bool=False))
    )
    sc = F.lit(
        q.scalar * (1 if q.scalar_op == "*" else scale)
    )
    if q.scalar_op in _CMP_OPS:
        cond = {
            ">": v > sc, ">=": v >= sc, "<": v < sc,
            "<=": v <= sc, "==": v == sc, "!=": v != sc,
        }[q.scalar_op]
        if q.scalar_bool:
            # PromQL 'bool': keep every row, value becomes the 0/1
            # truth of the comparison (count encoding)
            return out.withColumn(
                "value",
                F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
            )
        return out.where(cond)
    expr = {"+": v + sc, "-": v - sc, "*": v * sc}[q.scalar_op]
    return out.withColumn("value", expr.cast("bigint"))


def _apply_vfn(q: PromQuery, out: DataFrame) -> DataFrame:
    """Outer value functions: clamp_min/clamp_max (bound in RAW units,
    scaled into the side's encoding like every scalar) and abs. Pure
    row-local integer expressions; the encoding is unchanged."""
    if q.vfn is None:
        return out
    from dataclasses import replace as _replace

    v = F.col("value")
    if q.vfn == "abs":
        expr = F.abs(v)
    else:
        # vfn applies BEFORE a trailing bool comparison OR scalar
        # division, so its bound scales by the pre-bool, pre-division
        # encoding (r11: stripping scalar_op keeps '/'-composite
        # labels out of the clamp bound)
        bound = F.lit(
            q.vfn_arg
            * encoding_scale(
                output_encoding(
                    _replace(q, scalar_bool=False, scalar_op=None,
                             scalar=None)
                )
            )
        )
        expr = (
            F.greatest(v, bound)
            if q.vfn == "clamp_min"
            else F.least(v, bound)
        )
    return out.withColumn("value", expr.cast("bigint"))


def _post_ops(q: PromQuery, out: DataFrame) -> DataFrame:
    """Every aggregated output path funnels through here: the value
    function innermost (it wraps the agg in the grammar), then topk
    (PromQL's topk sees the raw vector), then the scalar form, then
    the label function outermost (it rewrites the surviving rows'
    label columns, values untouched)."""
    return _apply_count_values(
        q,
        _apply_lblfn(
            q, _apply_scalar(q, _apply_topk(q, _apply_vfn(q, out)))
        ),
    )


def _apply_count_values(q: PromQuery, out: DataFrame) -> DataFrame:
    """count_values("dst", v) (r9): one groupBy on (value, bucket_ts)
    over the already-aggregated vector — rollup-sized input, map-side
    combinable, the value-distribution panel. dst carries the
    stringified integer value (the exactness contract makes that
    string canonical); value becomes the series count."""
    if q.count_values_label is None:
        return out
    dst = q.count_values_label
    return out.groupBy(
        F.col("value").cast("string").alias(dst), "bucket_ts"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("value"))


def _apply_lblfn(q: PromQuery, out: DataFrame) -> DataFrame:
    """label_replace / label_join over the aggregated vector (r9):
    row-local column expressions, zero extra shuffles.

    label_replace(v, dst, repl, src, regex): when src's value FULLY
    matches the anchored regex, dst = the replacement with $1..$N
    group refs (Spark regexp_replace's Java substitution — the same
    $N syntax PromQL uses); otherwise dst keeps its previous value.
    Absent labels read as "" on both the src and dst sides — the same
    convention _by_keys uses for missing attribute keys; PromQL's
    "empty dst removes the label" maps to the "" value.

    label_join(v, dst, sep, src...): dst = the src values joined by
    sep (absent = ""). The dst column is appended (or overwritten in
    place when it names an existing by-label); the value column and
    encoding are untouched."""
    if q.lbl_fn is None:
        return out
    args = q.lbl_args
    dst = args[0]

    def _lbl(name: str) -> Column:
        return F.col(name) if name in q.by else F.lit("")

    if q.lbl_fn == "label_replace":
        _, repl, src, regex = args
        anchored = f"^(?:{regex})$"
        dst_val = F.when(
            _lbl(src).rlike(anchored),
            F.regexp_replace(_lbl(src), anchored, repl),
        ).otherwise(_lbl(dst))
    else:  # label_join
        sep, srcs = args[1], args[2:]
        dst_val = F.concat_ws(sep, *[_lbl(s) for s in srcs])
    label_cols = [
        dst_val.alias(c) if c == dst else F.col(c) for c in q.by
    ]
    if dst not in q.by:
        label_cols.append(dst_val.alias(dst))
    return out.select(*label_cols, "bucket_ts", "value")


# fan-out of the local pre-prune phase in _apply_topk: each evaluation
# window's ranking work is spread over this many salted sub-partitions
# before the global K-selection, so a single reducer never sees more
# than ~cardinality/SALTS + SALTS*K rows
_TOPK_SALTS = 32


def _apply_topk(q: PromQuery, out: DataFrame) -> DataFrame:
    """topk/bottomk over the aggregated vector: per evaluation window,
    keep the K extreme rows by value with a DETERMINISTIC tiebreak
    (value, then the by-labels ascending) — real PromQL ties are
    nondeterministic; the divergence is the module's exactness
    contract at work.

    Two-phase ranking (r7, verdict item): a single
    Window.partitionBy(bucket_ts) puts every row of an evaluation
    window on ONE reducer — fine at by(event_type) cardinality, a
    hotspot for topk(10, sum by (user) ...) over millions of users.
    Phase 1 salts the by-tuple into _TOPK_SALTS sub-partitions and
    keeps a local top-K per (bucket_ts, salt); phase 2 ranks the
    surviving <= SALTS*K rows per window globally. The (value
    direction, by-labels asc) order is TOTAL, so every global top-K
    row is also its salt's local top-K — the two phases are exactly
    the single-phase result (pinned in tests/test_promql.py)."""
    if q.outer is None:
        return out
    from pyspark.sql.window import Window

    direction = (
        F.col("value").desc() if q.outer == "topk" else F.col("value").asc()
    )
    order = [direction, *[F.col(k).asc() for k in q.by]]
    salt = F.pmod(F.xxhash64(*q.by), F.lit(_TOPK_SALTS))
    w_local = Window.partitionBy("bucket_ts", "_salt").orderBy(*order)
    pruned = (
        out.withColumn("_salt", salt)
        .select("*", F.row_number().over(w_local).alias("_lrn"))
        .where(F.col("_lrn") <= q.k)
        .drop("_lrn")
    )
    w = Window.partitionBy("bucket_ts").orderBy(*order)
    return (
        pruned.select("*", F.row_number().over(w).alias("_rn"))
        .where(F.col("_rn") <= q.k)
        .drop("_rn", "_salt")
    )
