"""Histogram kernel library as native Spark SQL expressions.

Re-implements the reference's pure-Go percentile math
(``pkg/histogram/percentile.go``) over ``ARRAY<STRUCT<le DOUBLE, count
BIGINT>>`` columns using higher-order functions (``aggregate`` /
``transform`` / ``zip_with``). HOFs run inside whole-stage codegen with no
shuffle and no Python round-trip - row-local, scale-safe at 100 TB, unlike
explode-based formulations which shuffle per bucket.

Semantics (pinned by the reference's golden tests, FIXTURES.md SS4):

- ``bucket_percentile`` - ``CalculatePercentile`` (percentile.go:17-67):
  sort by le, total = sum(count) (input treated as DELTA buckets),
  target = total*p/100, walk cumulative to the hit bucket; a hit on the
  +Inf bucket returns the previous finite bound; empty/zero-count input
  returns NULL (the Go version returns an error).

  IMPORTANT documented inconsistency in the reference: the shipped Go
  code interpolates ``prev + frac*(le - prev)`` (percentile.go:51-57),
  which returns 0.02 for the P50 golden case - FAILING the reference's
  own test expectation of 0.0167 +/- 0.001 (test/histogram_test.go:11-87).
  The golden values were computed as ``frac * le`` (interpolation from 0
  to the hit bucket's upper bound). Since the golden tests are the
  semantics contract (SURVEY SS5), ``interpolation="golden"`` (default)
  implements ``frac * le``; ``interpolation="prometheus"`` implements the
  shipped code's previous-bound form for users who want the running
  system's actual behavior.
- ``delta_to_cumulative_buckets`` / ``cumulative_to_delta_buckets`` -
  percentile.go:107-151, running sum / adjacent difference over le-sorted
  buckets.
- ``merge_buckets_agg`` - ``MergeBuckets`` (percentile.go:83-105): sum
  counts grouped by upper bound; here as a DataFrame aggregation recipe
  (explode -> groupBy le -> sum) used at rollup time.
- ``exp_histogram_percentile`` - ``ExponentialHistogramCalculator``
  (percentile.go:159-225): bucket midpoint value with base 2^(2^-scale).
  Documented deviation: we walk negative buckets in DESCENDING index
  order (true ascending sample order: most-negative values first); the
  reference walks them ascending (percentile.go:186-191), which misorders
  negative samples. Positive-only inputs (all reference golden tests) are
  unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_INF = float("inf")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sorted_buckets(buckets: Column | str) -> Column:
    # array_sort on struct<le,count> orders lexicographically -> by le.
    return F.array_sort(_col(buckets))


# Row-local let-binding (see functions/expr.py): a kernel that mentions
# ``total`` (itself an ``aggregate`` over ``array_sort``) inside a
# per-element walk lambda would otherwise re-evaluate the whole subtree
# per element — O(k² log k) interpreted work per row (visible as ~12
# repeated ``array_sort``/``aggregate`` copies in the percentile plans,
# e.g. plans/r11/promql_rate_bucket_p95_before.txt node 22).
from clickhouse_metrics_pipeline_spark.plan_memo import memo_expr
from clickhouse_metrics_pipeline_spark.functions.expr import row_let as _let


def bucket_total(buckets: Column | str) -> Column:
    """Total observation count of a delta-bucket array."""
    return F.aggregate(
        _col(buckets), F.lit(0).cast("bigint"), lambda acc, x: acc + x["count"]
    )


@memo_expr
def bucket_percentile(
    buckets: Column | str,
    percentile: float | Column,
    interpolation: str = "golden",
) -> Column:
    """Interpolated percentile of a delta-bucket histogram (H1).

    Single-pass ``aggregate`` walk - O(buckets) per row, fully codegen'd.
    See module docstring for the ``interpolation`` modes.
    """
    if interpolation not in ("golden", "prometheus"):
        raise ValueError(f"unknown interpolation mode: {interpolation}")
    p = F.lit(percentile) if not isinstance(percentile, Column) else percentile

    def body(s: Column) -> Column:
        b, total = s["b"], s["t"]
        target = total.cast("double") * (p.cast("double") / F.lit(100.0))

        def step(acc: Column, x: Column) -> Column:
            hit = (acc["cum"] + x["count"]).cast("double") >= target
            frac = (target - acc["cum"].cast("double")) / x["count"].cast(
                "double"
            )
            if interpolation == "golden":
                in_bucket = frac * x["le"]
            else:
                in_bucket = acc["prev"] + frac * (x["le"] - acc["prev"])
            interp = (
                F.when(x["count"] == 0, x["le"])
                .when(x["le"] == F.lit(_INF), acc["prev"])
                .otherwise(in_bucket)
            )
            return F.when(acc["res"].isNotNull(), acc).otherwise(
                F.struct(
                    (acc["cum"] + x["count"]).alias("cum"),
                    x["le"].alias("prev"),
                    F.when(hit, interp)
                    .otherwise(F.lit(None).cast("double"))
                    .alias("res"),
                )
            )

        last_le = F.element_at(b, -1)["le"]
        walk = F.aggregate(
            b,
            F.struct(
                F.lit(0).cast("bigint").alias("cum"),
                F.lit(0.0).alias("prev"),
                F.lit(None).cast("double").alias("res"),
            ),
            step,
            # Tail (unreachable when total>0 and p<=100, mirrored for
            # safety): last finite bound, else previous bound
            # (percentile.go:62-66).
            lambda acc: F.coalesce(
                acc["res"],
                F.when(last_le != F.lit(_INF), last_le).otherwise(
                    acc["prev"]
                ),
            ),
        )
        return F.when((total > 0) & (F.size(b) > 0), walk).otherwise(
            F.lit(None).cast("double")
        )

    # total is a count sum — order-independent, so it binds over the
    # UNSORTED input and skips one sort entirely
    return _let(
        {"b": _sorted_buckets(buckets), "t": bucket_total(buckets)}, body
    )


def bucket_percentiles(
    buckets: Column | str, percentiles: list[float], interpolation: str = "golden"
) -> Column:
    """Multiple percentiles at once (H2) -> ARRAY<DOUBLE> in input order."""
    return F.array(
        *[bucket_percentile(buckets, p, interpolation) for p in percentiles]
    )


def _floordiv_exact(num: Column, den: Column) -> Column:
    """Floor division of non-negative integer-valued columns, exact at
    any magnitude.

    Routed through DECIMAL(38,0): subtracting the remainder first makes
    the decimal division exactly divisible, so Spark's scale-6 decimal
    quotient carries no rounding and the result is engine-invariant vs
    DuckDB's HUGEINT ``//``. Plain BIGINT ``/`` would detour through
    DOUBLE and lose ULPs past 2^53; this never does.
    """
    n = num.cast("decimal(38,0)")
    d = den.cast("decimal(38,0)")
    return ((n - n % d) / d).cast("bigint")


@memo_expr
def bucket_percentile_scaled(
    buckets: Column | str,
    percentile: int,
    scale: int = 10000,
    interpolation: str = "golden",
) -> Column:
    """Exact-integer percentile walk -> BIGINT of ``value * scale``.

    Same walk and edge cases as :func:`bucket_percentile`
    (percentile.go:17-67 semantics), but every arithmetic step is
    integer/DECIMAL(38,0), so the result hashes identically on any
    engine - no float tail, no rounding-boundary flips (the
    hist_quantile_over_time driver mismatch of round 4). Requires
    integer-valued finite bounds (ours are 10..500) and
    ``scale % 100 == 0`` so ``le * scale / 100`` stays integral.

    Derivation (golden mode): frac * le
      = (total*p/100 - cum_before) / count * le
      = (total*p - 100*cum_before) * le * (scale//100) / count   [scaled]
    floor-divided exactly; prometheus mode adds ``prev*scale`` and
    interpolates over ``le - prev`` instead of ``0 -> le``.
    """
    if interpolation not in ("golden", "prometheus"):
        raise ValueError(f"unknown interpolation mode: {interpolation}")
    if scale % 100 != 0:
        raise ValueError("scale must be a multiple of 100")
    factor = scale // 100
    p = int(percentile)

    def body(s: Column) -> Column:
        b, total = s["b"], s["t"]

        def step(acc: Column, x: Column) -> Column:
            le_int = x["le"].cast("bigint")
            hit = (acc["cum"] + x["count"]) * F.lit(100) >= total * F.lit(p)
            # numerator of the in-bucket fraction, scaled by 100 (exact)
            num_frac = (total.cast("decimal(38,0)") * F.lit(p)) - (
                F.lit(100).cast("decimal(38,0)") * acc["cum"]
            )
            if interpolation == "golden":
                in_bucket = _floordiv_exact(
                    num_frac * le_int * F.lit(factor), x["count"]
                )
            else:
                in_bucket = acc["prev"] * F.lit(scale) + _floordiv_exact(
                    num_frac * (le_int - acc["prev"]) * F.lit(factor),
                    x["count"],
                )
            interp = (
                F.when(x["count"] == 0, le_int * F.lit(scale))
                .when(x["le"] == F.lit(_INF), acc["prev"] * F.lit(scale))
                .otherwise(in_bucket)
            )
            return F.when(acc["res"].isNotNull(), acc).otherwise(
                F.struct(
                    (acc["cum"] + x["count"]).alias("cum"),
                    F.when(x["le"] == F.lit(_INF), acc["prev"])
                    .otherwise(le_int)
                    .alias("prev"),
                    F.when(hit, interp)
                    .otherwise(F.lit(None).cast("bigint"))
                    .alias("res"),
                )
            )

        last_le = F.element_at(b, -1)["le"]
        walk = F.aggregate(
            b,
            F.struct(
                F.lit(0).cast("bigint").alias("cum"),
                F.lit(0).cast("bigint").alias("prev"),
                F.lit(None).cast("bigint").alias("res"),
            ),
            step,
            lambda acc: F.coalesce(
                acc["res"],
                F.when(
                    last_le != F.lit(_INF),
                    last_le.cast("bigint") * F.lit(scale),
                ).otherwise(acc["prev"] * F.lit(scale)),
            ),
        )
        return F.when((total > 0) & (F.size(b) > 0), walk).otherwise(
            F.lit(None).cast("bigint")
        )

    return _let(
        {"b": _sorted_buckets(buckets), "t": bucket_total(buckets)}, body
    )


@memo_expr
def bucket_fraction_ppm(
    buckets: Column | str, lo: float, hi: float
) -> Column:
    """Fraction of a merged le-DELTA bucket histogram's mass in
    (lo, hi], truncated parts-per-million BIGINT (r11 — the bucket-
    array twin of the raw-sample ``_hist_fraction_plan`` arithmetic,
    feeding the rate()/increase() form of ``histogram_fraction``).

    Bound conventions match the classic fraction plan's parser
    contract: ``lo == 0.0`` is the -Inf sentinel, ``hi == inf`` is
    everything (including +Inf-bucket mass). For a finite integral
    bound B, mass(<= B) is the exact rational X/D computed by one
    fold over the le-ascending buckets: full counts for buckets with
    le <= B; the straddling bucket (first le > B, prev < B < le)
    contributes linearly, X = cum_before*D + cnt*(B - prev) with
    D = le - prev — the same interp rule as the count form, so
    on-ladder bounds collapse to the D = 1 exact-count case. Mass in
    a +Inf bucket sits above every finite bound. The two-bound
    difference is the single rational
    (X_hi*D_lo - X_lo*D_hi) * 1e6 / (n*D_hi*D_lo), floored through
    the exact DECIMAL(38,0) divider (counts here are micro-rate sums
    up to ~1e13; the numerator stays well inside 38 digits).
    Requires integer-valued finite les (the stored-ladder contract,
    same as :func:`bucket_percentile_scaled`); non-negative counts
    (reset-corrected rates). Empty / zero-mass histogram -> NULL."""
    for bound in (lo, hi):
        if bound not in (0.0, float("inf")) and bound != int(bound):
            raise ValueError(
                f"bucket_fraction_ppm bounds must be integral, 0, or "
                f"Inf (the exactness contract), got {bound}"
            )
    def body(s: Column) -> Column:
        b, total = s["b"], s["t"]

        def mass(bound: float):
            """-> struct(num DECIMAL, den BIGINT): mass(<= bound) = num/den."""
            if bound == float("inf"):
                return F.struct(
                    total.cast("decimal(38,0)").alias("num"),
                    F.lit(1).cast("bigint").alias("den"),
                )
            if bound == 0.0:  # the parser's -Inf sentinel
                return F.struct(
                    F.lit(0).cast("decimal(38,0)").alias("num"),
                    F.lit(1).cast("bigint").alias("den"),
                )
            bl = F.lit(float(bound))

            def step(acc: Column, x: Column) -> Column:
                le_int = x["le"].cast("bigint")
                below = (x["le"] != F.lit(_INF)) & (x["le"] <= bl)
                # straddle: first le > B (a +Inf straddle keeps D=1 and
                # X=cum — its mass lies above every finite bound)
                den = F.when(
                    x["le"] == F.lit(_INF), F.lit(1).cast("bigint")
                ).otherwise(le_int - acc["prev"])
                num = F.when(
                    x["le"] == F.lit(_INF), acc["cum"].cast("decimal(38,0)")
                ).otherwise(
                    acc["cum"].cast("decimal(38,0)") * den
                    + x["count"].cast("decimal(38,0)")
                    * (F.lit(int(bound)) - acc["prev"])
                )
                return F.when(acc["num"].isNotNull(), acc).otherwise(
                    F.when(
                        below,
                        F.struct(
                            (acc["cum"] + x["count"]).alias("cum"),
                            le_int.alias("prev"),
                            acc["num"].alias("num"),
                            acc["den"].alias("den"),
                        ),
                    ).otherwise(
                        F.struct(
                            acc["cum"].alias("cum"),
                            acc["prev"].alias("prev"),
                            num.alias("num"),
                            den.alias("den"),
                        )
                    )
                )

            return F.aggregate(
                b,
                F.struct(
                    F.lit(0).cast("bigint").alias("cum"),
                    F.lit(0).cast("bigint").alias("prev"),
                    F.lit(None).cast("decimal(38,0)").alias("num"),
                    F.lit(None).cast("bigint").alias("den"),
                ),
                step,
                lambda acc: F.struct(
                    F.coalesce(
                        acc["num"], acc["cum"].cast("decimal(38,0)")
                    ).alias("num"),
                    F.coalesce(acc["den"], F.lit(1).cast("bigint")).alias(
                        "den"
                    ),
                ),
            )

        def tail(s2: Column) -> Column:
            # each mass struct is referenced twice in the rational —
            # bound so each fold runs once per row
            mh, ml = s2["mh"], s2["ml"]
            num = (
                mh["num"] * ml["den"].cast("decimal(38,0)")
                - ml["num"] * mh["den"].cast("decimal(38,0)")
            ) * F.lit(1_000_000)
            den = (
                total.cast("decimal(38,0)")
                * mh["den"].cast("decimal(38,0)")
                * ml["den"].cast("decimal(38,0)")
            )
            ppm = _floordiv_exact(num, den)
            return F.when((total > 0) & (F.size(b) > 0), ppm).otherwise(
                F.lit(None).cast("bigint")
            )

        return _let({"mh": mass(hi), "ml": mass(lo)}, tail)

    return _let(
        {"b": _sorted_buckets(buckets), "t": bucket_total(buckets)}, body
    )


@memo_expr
def delta_to_cumulative_buckets(buckets: Column | str) -> Column:
    """Running-sum over le-sorted buckets (H4, percentile.go:107-128)."""
    # cumulative[i] = sum(counts[0..i]); O(n^2) transform+slice is fine for
    # bucket arrays (tens of entries) and stays codegen'd / shuffle-free.
    # The sorted array is _let-bound so the per-element slice reads the
    # bound value instead of re-sorting per element.
    return _let(
        {"b": _sorted_buckets(buckets)},
        lambda s: F.transform(
            s["b"],
            lambda x, i: F.struct(
                x["le"].alias("le"),
                F.aggregate(
                    F.slice(s["b"], F.lit(1), i + 1),
                    F.lit(0).cast("bigint"),
                    lambda acc, y: acc + y["count"],
                ).alias("count"),
            ),
        ),
    )


@memo_expr
def cumulative_to_delta_buckets(buckets: Column | str) -> Column:
    """Adjacent difference over le-sorted buckets (H5, percentile.go:130-151)."""
    return _let(
        {"b": _sorted_buckets(buckets)},
        lambda s: F.transform(
            s["b"],
            lambda x, i: F.struct(
                x["le"].alias("le"),
                (
                    x["count"]
                    - F.when(i == 0, F.lit(0).cast("bigint")).otherwise(
                        # element_at is 1-based: i = previous
                        F.element_at(s["b"], i)["count"]
                    )
                ).alias("count"),
            ),
        ),
    )


@memo_expr
def merge_bucket_arrays(buckets_arrays: Column | str) -> Column:
    """Merge an ARRAY<ARRAY<STRUCT<le,count>>> column by upper bound (H3).

    Row-local merge of a collected group of bucket arrays - used when the
    group is already assembled (e.g. reading the reference-style
    groupArray-of-arrays layout). For rollup jobs prefer
    ``merge_buckets_agg`` (explode -> partial map-side aggregation).
    """

    def body(s: Column) -> Column:
        flat = s["flat"]
        les = F.array_distinct(F.transform(flat, lambda x: x["le"]))
        return F.array_sort(
            F.transform(
                les,
                lambda le: F.struct(
                    le.alias("le"),
                    F.aggregate(
                        F.filter(flat, lambda x: x["le"] == le),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x["count"],
                    ).alias("count"),
                ),
            )
        )

    # flat is re-read once per distinct le in the filter — bind it so
    # the flatten runs once per row
    return _let({"flat": F.flatten(_col(buckets_arrays))}, body)


def merge_buckets_agg(df: DataFrame, group_cols: list[str], bucket_col: str = "buckets") -> DataFrame:
    """Merge bucket arrays across rows of a group (H3) as an aggregation.

    explode -> groupBy(group, le) -> sum(count) -> re-collect sorted array.
    The per-le partial sum is map-side combinable, so at 100 TB the shuffle
    carries one row per (group, le), not per input row.
    """
    exploded = df.select(*group_cols, F.explode_outer(bucket_col).alias("b"))
    per_le = (
        exploded.where(F.col("b").isNotNull())
        .groupBy(*group_cols, F.col("b.le").alias("le"))
        .agg(F.sum("b.count").alias("count"))
    )
    return per_le.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct("le", "count"))).alias(bucket_col)
    )


# --- Exponential histograms (percentile.go:153-297) ---


def exp_bucket_value(index: Column, scale: Column, positive: bool = True) -> Column:
    """Midpoint value of exponential bucket ``index`` at ``scale`` (H6 helper).

    base = 2^(2^-scale); value = (base^index + base^(index+1)) / 2.
    """
    base = F.pow(F.lit(2.0), F.pow(F.lit(2.0), -scale.cast("double")))
    mid = (F.pow(base, index.cast("double")) + F.pow(base, index.cast("double") + 1)) / 2
    return mid if positive else -mid


@memo_expr
def exp_histogram_percentile(
    scale: Column | str,
    zero_count: Column | str,
    positive_buckets: Column | str,
    negative_buckets: Column | str,
    percentile: float | Column,
) -> Column:
    """Percentile over an exponential histogram (H6, percentile.go:159-210).

    Builds a unified value-ordered array (negatives desc-index -> zero ->
    positives asc-index) and walks it. Returns the hit bucket's midpoint
    value (no interpolation, mirroring the reference); zero bucket -> 0;
    overflow -> last positive bucket value; empty -> NULL.
    """
    sc = _col(scale)
    zc = F.coalesce(_col(zero_count), F.lit(0).cast("bigint"))
    pos = F.array_sort(F.coalesce(_col(positive_buckets), F.array()))
    # negatives in descending index order = ascending sample order
    neg = F.reverse(F.array_sort(F.coalesce(_col(negative_buckets), F.array())))
    p = F.lit(percentile) if not isinstance(percentile, Column) else percentile

    neg_vals = F.transform(
        neg,
        lambda x: F.struct(
            exp_bucket_value(x["index"], sc, positive=False).alias("v"),
            x["count"].alias("count"),
        ),
    )
    zero_val = F.array(F.struct(F.lit(0.0).alias("v"), zc.alias("count")))
    pos_vals = F.transform(
        pos,
        lambda x: F.struct(
            exp_bucket_value(x["index"], sc, positive=True).alias("v"),
            x["count"].alias("count"),
        ),
    )
    unified = F.concat(neg_vals, zero_val, pos_vals)
    # count sums are order- and value-transform-independent — total
    # binds over the raw arrays, skipping the midpoint transforms
    total_ind = zc + F.aggregate(
        F.coalesce(_col(positive_buckets), F.array()),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x["count"],
    ) + F.aggregate(
        F.coalesce(_col(negative_buckets), F.array()),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x["count"],
    )

    def body(s: Column) -> Column:
        u, total, pos_b = s["u"], s["t"], s["pos"]
        target = total.cast("double") * (p.cast("double") / F.lit(100.0))
        walk = F.aggregate(
            u,
            F.struct(
                F.lit(0).cast("bigint").alias("cum"),
                F.lit(None).cast("double").alias("res"),
            ),
            lambda acc, x: F.when(acc["res"].isNotNull(), acc).otherwise(
                F.struct(
                    (acc["cum"] + x["count"]).alias("cum"),
                    F.when(
                        (acc["cum"] + x["count"]).cast("double") >= target,
                        x["v"],
                    ).otherwise(F.lit(None).cast("double")).alias("res"),
                )
            ),
            # overflow: last positive bucket's value, else 0
            # (percentile.go:205-209)
            lambda acc: F.coalesce(
                acc["res"],
                F.when(
                    F.size(pos_b) > 0,
                    exp_bucket_value(
                        F.element_at(pos_b, -1)["index"], sc, positive=True
                    ),
                ).otherwise(F.lit(0.0)),
            ),
        )
        return F.when(total > 0, walk).otherwise(
            F.lit(None).cast("double")
        )

    return _let({"u": unified, "t": total_ind, "pos": pos}, body)


@memo_expr
def exp_histogram_fraction(
    scale: Column | str,
    zero_count: Column | str,
    positive_buckets: Column | str,
    negative_buckets: Column | str,
    lo: float,
    hi: float,
) -> Column:
    """Fraction of an exponential histogram's observations in
    (lo, hi], as truncated parts-per-million BIGINT (r11, the r10
    verdict's item 6 — the native-histogram completion of
    histogram_fraction; Prometheus supports the same call on native
    histograms).

    Bound conventions follow the classic plan's parser contract:
    ``lo == 0.0`` is the -Inf sentinel (nothing subtracted),
    ``hi == inf`` is everything. For a finite bound B > 0,
    mass(<= B) counts all negative buckets and the zero bucket (their
    mass sits at/below 0 — the H6 walk's zero-midpoint convention)
    plus, per positive bucket (base^i, base^(i+1)] with
    base = 2^(2^-scale): the full count when the upper edge <= B,
    none when the lower edge >= B, and linear in-bucket interpolation
    count*(B - lower)/(upper - lower) for the straddling bucket —
    the same linear rule classic histogram_fraction applies within a
    bucket. Bucket edges are powers of two at the merged scale, so
    with integer bounds the interpolation terms are exactly
    representable doubles and the ppm floor is engine-invariant
    (the DuckDB twin restates the identical expression).
    Empty histogram -> NULL."""
    sc = _col(scale)
    zc = F.coalesce(_col(zero_count), F.lit(0).cast("bigint"))
    pos = F.coalesce(_col(positive_buckets), F.array())
    neg = F.coalesce(_col(negative_buckets), F.array())
    base_e = F.pow(F.lit(2.0), F.pow(F.lit(2.0), -sc.cast("double")))
    neg_total_e = F.aggregate(
        neg, F.lit(0).cast("bigint"), lambda a, x: a + x["count"]
    )
    pos_total_e = F.aggregate(
        pos, F.lit(0).cast("bigint"), lambda a, x: a + x["count"]
    )

    def body(s: Column) -> Column:
        base, neg_total = s["base"], s["nt"]
        total = (zc + neg_total + s["pt"]).cast("double")

        def mass_le(bound: float) -> Column:
            if bound == float("inf"):
                return total
            if bound == 0.0:  # the parser's -Inf sentinel
                return F.lit(0.0)
            b = F.lit(float(bound))

            def contrib(a: Column, x) -> Column:
                lower = F.pow(base, x["index"].cast("double"))
                upper = F.pow(base, x["index"].cast("double") + 1)
                c = x["count"].cast("double")
                return a + (
                    F.when(upper <= b, c)
                    .when(lower >= b, F.lit(0.0))
                    .otherwise(c * (b - lower) / (upper - lower))
                )

            return (
                (zc + neg_total).cast("double")
                + F.aggregate(pos, F.lit(0.0), contrib)
            )

        ppm = F.floor(
            (mass_le(hi) - mass_le(lo)) * F.lit(1_000_000.0) / total
        )
        return F.when(total > 0, ppm.cast("bigint")).otherwise(
            F.lit(None).cast("bigint")
        )

    return _let(
        {"base": base_e, "nt": neg_total_e, "pt": pos_total_e}, body
    )


def merge_exp_histograms_agg(
    df: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge exponential histograms across rows of a group (H7).

    Rescale every histogram to the group's min scale (downscale shifts the
    bucket index right by the scale difference), sum counts per shifted
    index, sum zero counts, take the max zero threshold.

    Documented deviation from ``MergeExponentialHistograms``
    (percentile.go:260-271): the reference uses Go integer division
    (truncation toward zero), which mis-buckets negative indexes on
    downscale; we use floor division (arithmetic shift), the
    OpenTelemetry-correct form.
    """
    # _shift must be a materialized column: referencing exp_scale inside
    # the later select (which re-aliases exp_scale := _min_scale) would
    # lateral-alias-resolve to the NEW column — shift silently 0
    with_min = df.withColumn(
        "_min_scale", F.min("exp_scale").over(Window.partitionBy(*group_cols))
    ).withColumn("_shift", (F.col("exp_scale") - F.col("_min_scale")).cast("int"))
    # floor-div by 2^shift == arithmetic right shift; F.shiftright only
    # takes a literal bit count, so divide explicitly (exact in double
    # for |index| < 2^50 — exp-histogram indexes are tiny)
    scale_div = F.pow(F.lit(2.0), F.col("_shift").cast("double"))

    def shifted(bucket_col: str) -> Column:
        return F.transform(
            F.coalesce(F.col(bucket_col), F.array()),
            lambda x: F.struct(
                F.floor(x["index"].cast("double") / scale_div)
                .cast("int")
                .alias("index"),
                x["count"].alias("count"),
            ),
        )

    exploded = with_min.select(
        *group_cols,
        F.col("_min_scale").alias("exp_scale"),
        F.col("exp_zero_count"),
        F.col("exp_zero_threshold"),
        F.explode_outer(
            F.concat(
                F.transform(shifted("exp_positive_buckets"), lambda x: F.struct(F.lit(1).alias("sign"), x["index"].alias("index"), x["count"].alias("count"))),
                F.transform(shifted("exp_negative_buckets"), lambda x: F.struct(F.lit(-1).alias("sign"), x["index"].alias("index"), x["count"].alias("count"))),
            )
        ).alias("b"),
    )
    per_idx = exploded.groupBy(*group_cols, "exp_scale", F.col("b.sign"), F.col("b.index")).agg(
        F.sum("b.count").alias("count")
    )
    rolled = per_idx.groupBy(*group_cols, "exp_scale").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("sign") == 1, F.struct("index", "count")))
        ).alias("exp_positive_buckets"),
        F.array_sort(
            F.collect_list(F.when(F.col("sign") == -1, F.struct("index", "count")))
        ).alias("exp_negative_buckets"),
    )
    zeros = df.groupBy(*group_cols).agg(
        F.sum("exp_zero_count").alias("exp_zero_count"),
        F.max("exp_zero_threshold").alias("exp_zero_threshold"),
    )
    return rolled.join(zeros, group_cols, "inner")
