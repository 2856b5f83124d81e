"""Event-time range-frame window feature engine — the heart of the store.

Reference semantics (``jobs/build_feature_views.py:19-72``, SURVEY.md §2.4
W1-W6): per entity, over event-time range windows ``[t_row - w, t_row]``
inclusive of both boundaries (pandas ``rolling(w, closed="both")``), one
output row per input event:

- W1  txn_count_{w}   = windowed count of non-cancel lines
- W2  spend_{w}       = windowed sum of non-cancel amount
- W3  unique_skus_{w} = windowed distinct SKU count
- W4  avg_basket_value_{w} = spend / max(txn_count, 1)
- W5  cancel_rate_{w} = cancels / max(cancels + txns, 1), clipped [0, 1]
- W6  tenure_days     = floor((t_row - first event ts) / 86400s)  (whole-24h
       floor, NOT calendar datediff — SURVEY.md §7.4.6)

The reference computes these in a Python per-customer groupby loop with pandas
rolling frames — its scalability cliff.  Here the whole family is a single
window-function pass: ONE shuffle on the entity key, one sort, and every
window frame over it, all inside whole-stage codegen (except ``collect_set``
buffers).  Equal-timestamp ties follow SQL range-frame semantics (all rows at
the same event time see the same window) — a documented, deliberate divergence
from pandas positional rolling (SURVEY.md §2.4 tie caveat); the DuckDB oracle
agrees with this engine.

Scale notes (100 TB):
- ``rangeBetween`` bounds are in MICROSECONDS over ``unix_micros(ts)`` so
  sub-second event times are exact (casting to seconds would truncate).
- The per-frame ``collect_set`` state for W3 is bounded by per-entity distinct
  SKUs inside the window horizon; for whale entities enable
  ``unique_mode="approx"`` (HLL ``approx_count_distinct``) — documented opt-in,
  divergence recorded, or pre-aggregate to (entity, sku, day) grain first.
- AQE skew-join/partition handling covers entity-key skew; no salting needed
  for window ops (Spark windows don't support partial aggregation anyway, so
  the mitigation for a pathological whale is the day-grain pre-aggregation).

Determinism note: floating-point summation is order-dependent, so windowed
SUMs over doubles are not bit-reproducible across engines (or even across
shuffles).  Monetary inputs are fixed-decimal, so the engine accumulates
them as exact long 'cents' (``functions.expressions.cents`` — round to the
input's decimal scale, sum integers, divide back): order-independent,
bit-reproducible, and on the primitive-long codegen fast path (~2x over
DECIMAL aggregation).  ``amount_scale`` sets the quantization.

Windowed sums in O(1) per row: a bounded ``[t - w, t]`` range frame is a
sliding frame, and Spark re-aggregates a sliding frame's whole buffer on
every row, so a whale entity costs O(rows x rows-in-window).  Every integer
sum (counts, long cents) is instead the difference of two GROWING frames
over the same ``(entity, ts)`` order, each evaluated incrementally::

    sum[t - w, t] = sum[unbounded, t] - coalesce(sum[unbounded, t - w - 1us], 0)

(the same +1µs shift ``operators.windowed_distinct`` uses for C(t)); the
churn label's future marker count over ``[t + 1µs, t + horizon]`` is
``sum[unbounded, t + horizon] - sum[unbounded, t]`` the same way.  Range
frames keep SQL tie semantics — every row at one timestamp sees the same
frame — and the ``t - w`` boundary stays inside the window.  The difference
is exact only in integer arithmetic (a difference of double prefix sums
carries the prefix's rounding error), which is one more reason every summed
amount is long cents.  Long overflow is not silent: the prefix sum grows
with the entity's whole history, and under ANSI mode (Spark's default) a
prefix past 2^63 raises ``ARITHMETIC_OVERFLOW`` rather than wrapping.  An
empty or all-NULL window reads 0 where a bounded SUM reads NULL; the gold
family's NaN sweep maps both to 0.0, and ``user_activity_features`` guards
its nullable sum with a windowed non-null count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions.expressions import cents, clip, epoch_us, from_cents, guarded_div

__all__ = [
    "MICROS_PER_DAY",
    "range_window",
    "build_customer_features",
    "incremental_customer_features",
    "user_activity_features",
]

MICROS_PER_DAY = 86_400 * 1_000_000

# Ordering column name used by all range frames (injected, then dropped).
_TS_US = "__ts_us"


def _spread_entity(df: DataFrame, entity_col: str) -> DataFrame:
    """Entity-hash repartition when the input is under-parallel.

    A small local scan (or single-row-group file) arrives in ~1 partition;
    the window family's own exchange would then be sized by AQE from the
    tiny byte count and coalesced to a few partitions, serializing the
    sort + frame evaluation (compute-bound, not byte-bound).  An explicit
    hash repartition on the entity key at full parallelism is AQE-exempt,
    satisfies every downstream window's ClusteredDistribution requirement
    (so NO second exchange appears), and parallelizes the whole family:
    measured 2.76 -> 1.75 s on the delta flagship at sf0.1.  On a cluster
    the input already has >= defaultParallelism partitions and this is a
    no-op.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    try:
        jqe = df._jdf.queryExecution()
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = jqe.explainString(mode)
    except Exception:  # pragma: no cover - defensive for exotic plans
        plan = ""
    if "Bucketed:" in plan:
        # Input scans a bucketed table: the window's own exchange is elided
        # against the at-rest clustering (tests/test_scale_paths.py asserts
        # it) — a repartition here would reintroduce the shuffle bucketing
        # exists to remove.  (A bare bucketed scan reports "Bucketed: false
        # (disabled by query planner)" until a downstream operator requires
        # the distribution, so match the spec line, not the enabled state.)
        return df
    return df.repartition(par, entity_col)


def range_window(entity_col: str, days: int) -> WindowSpec:
    """``[t - days, t]`` both-closed event-time range frame (W1-W5 frame)."""
    return (
        Window.partitionBy(entity_col)
        .orderBy(F.col(_TS_US))
        .rangeBetween(-days * MICROS_PER_DAY, 0)
    )


def _range_sum(col: Column | str, entity_col: str, lo_us: int, hi_us: int) -> Column:
    """Integer ``sum(col)`` over the range frame ``[t + lo_us, t + hi_us]``
    as two growing frames: ``[unbounded, t + hi_us]`` minus ``[unbounded,
    t + lo_us - 1µs]`` (module docstring).  Exact for integer columns only;
    an empty or all-NULL frame gives 0, not NULL."""
    order = Window.partitionBy(entity_col).orderBy(F.col(_TS_US))
    upto = F.sum(col).over(order.rangeBetween(Window.unboundedPreceding, hi_us))
    before = F.sum(col).over(order.rangeBetween(Window.unboundedPreceding, lo_us - 1))
    return F.coalesce(upto, F.lit(0)) - F.coalesce(before, F.lit(0))


def _windowed(
    df: DataFrame,
    entity_col: str,
    windows: dict[str, int],
    per_window_exprs,
) -> DataFrame:
    """Apply ``per_window_exprs(window_spec, days) -> dict[str, Column]`` for
    every horizon.  All frames share partitioning+ordering, so Catalyst plans
    ONE exchange + ONE sort for the whole family."""
    cols = dict()
    for suffix, days in windows.items():
        w = range_window(entity_col, days)
        for base, expr in per_window_exprs(w, days).items():
            cols[f"{base}_{suffix}"] = expr
    return df.withColumns(cols)


def build_customer_features(
    bronze: DataFrame,
    windows: dict[str, int] | None = None,
    entity_col: str = "customer_id",
    ts_col: str = "invoice_date",
    sku_col: str = "stock_code",
    amount_col: str = "line_amount",
    cancel_col: str = "is_cancel",
    round_to: int | None = None,
    amount_scale: int = 4,
    unique_mode: str = "delta",
    carry_cols: tuple[str, ...] | None = None,
    label_events: DataFrame | None = None,
    label_ts_col: str = "ts",
    label_horizon_days: int = 30,
    label_col: str = "churn_30d",
) -> DataFrame:
    """Bronze order lines -> gold per-line feature snapshots (W1-W6).

    Output: one row per input line with ``customer_id, t_ref`` keys plus the
    windowed feature family — the reference's gold ``features_customer``
    contract (``jobs/build_feature_views.py:62,75``), window list
    parameterized exactly like the reference's ``WINDOWS = ["1D","7D","30D"]``
    (``jobs/build_feature_views.py:7``).

    ``unique_mode`` selects the W3 distinct-count engine: ``"delta"``
    (default: exact interval-delta running sums, O(1) per-row state — safe
    for whale entities at 100 TB, see ``operators.windowed_distinct``),
    ``"set"`` (``collect_set`` window state — exact and ~1.5x faster at
    retail cardinalities, but per-row set state is the known memory cliff
    when one entity sees millions of distinct keys inside a window), or
    ``"approx"`` (HLL estimate).  All three produce the same column names;
    "set" and "delta" the same values.  The default is the engine that
    cannot fall over — callers that know their cardinality opt into "set".

    ``label_events`` (optional) folds an interval-existence churn label (J2,
    ``operators.pit`` semantics: ``label = 1`` iff NO event in ``(t_ref,
    t_ref + label_horizon_days]``) into the SAME WindowExec as W1-W6 instead
    of a separate label pass + J1 join.  The frame must carry
    ``(entity_col, label_ts_col)``; its rows are unioned in as zero-weight
    markers (``__txn = __cancel = __spend = 0``, NULL sku — invisible to
    every family aggregate and to tenure's running min, which skips marker
    timestamps) and the label is one more running aggregate, a future range
    frame ``sum(markers) OVER [t + 1µs, t + horizon]`` (a difference of two
    growing frames), that CollapseWindow merges into the family pass.
    Marker rows are dropped before output.
    The events come from their own frame (not the bronze rows) because an
    event with no bronze line — e.g. an order with zero line items — must
    still defeat the churn label (reference semantics
    ``jobs/make_training_and_train.py:26-46``: the lookup is against the
    full orders table).

    ``carry_cols`` (optional) names the bronze columns to carry into the
    output besides the keys and features; the rest are dropped.  In delta
    mode this trims the struct riding the interval-delta explode (Catalyst's
    nested pruning cannot reach inside the Generate's array-of-struct, so an
    untrimmed payload is materialized three-ish times per row); the event
    timestamp is reconstructed exactly from the epoch-microseconds ordering
    attribute (``timestamp_micros`` inverts ``unix_micros``) rather than
    carried.  ``None`` preserves every input column (the generic contract).
    """
    windows = windows or {"1d": 1, "7d": 7, "30d": 30}
    if unique_mode not in ("set", "approx", "delta"):
        raise ValueError(f"unknown unique_mode: {unique_mode!r}")

    txn = (~F.col(cancel_col)).cast("long")
    cancel = F.col(cancel_col).cast("long")
    # P7: cancel lines contribute 0 spend (jobs/build_feature_views.py:15).
    spend = cents(
        F.when(~F.col(cancel_col), F.col(amount_col)).otherwise(F.lit(0.0)), amount_scale
    )

    df = bronze.withColumns(
        {
            _TS_US: epoch_us(ts_col),
            "__txn": txn,
            "__cancel": cancel,
            "__spend": spend,
        }
    )
    if label_events is not None:
        df = df.withColumn("__lab", F.lit(0))
        types = {f.name: f.dataType for f in df.schema.fields}
        mk = label_events.select(
            F.col(entity_col), epoch_us(label_ts_col).alias(_TS_US)
        ).withColumns(
            {
                "__txn": F.lit(0).cast(types["__txn"]),
                "__cancel": F.lit(0).cast(types["__cancel"]),
                "__spend": F.lit(0).cast(types["__spend"]),
                "__lab": F.lit(1),
            }
        )
        mk = mk.withColumns(
            {c: F.lit(None).cast(types[c]) for c in df.columns if c not in mk.columns}
        )
        df = df.unionByName(mk.select(df.columns))
    df = _spread_entity(df, entity_col)

    # Delta W3 runs FIRST, emitting (entity, ts_us) as alias-aware columns:
    # the W1-W5 range frames below then reuse the delta pass's entity-hash
    # exchange and (entity, time, kind) sort — the sort order (entity, ts_us)
    # they require is a prefix of it — so the whole family still costs ONE
    # wide shuffle, same as the collect_set path.
    reconstruct_ts = False
    if unique_mode == "delta":
        from pyspark.sql import types as T

        from .windowed_distinct import exact_windowed_distinct

        payload = None
        if carry_cols is not None:
            carry = [c for c in dict.fromkeys(carry_cols) if c != entity_col]
            reconstruct_ts = (
                isinstance(df.schema[ts_col].dataType, T.TimestampType)
                and ts_col not in carry
            )
            if not reconstruct_ts and ts_col not in carry:
                carry.append(ts_col)
            payload = [*carry, "__txn", "__cancel", "__spend"]
            if label_events is not None:
                payload.append("__lab")
        df = exact_windowed_distinct(
            df, entity_col, ts_col, sku_col, windows,
            out_prefix="unique_skus", epoch_col=_TS_US, payload_cols=payload,
        )
        if reconstruct_ts:
            df = df.withColumn(ts_col, F.timestamp_micros(F.col(_TS_US)))
    elif carry_cols is not None:
        keep = dict.fromkeys(
            [entity_col, ts_col, sku_col, _TS_US, "__txn", "__cancel", "__spend",
             *(("__lab",) if label_events is not None else ()),
             *carry_cols]
        )
        df = df.select(*keep)

    # The tenure min must skip marker rows.  Materialize the guarded
    # timestamp as a plain column BEFORE the window block: a CASE inside the
    # min() argument would be extracted into a Project BETWEEN the family
    # Window and the tenure/label Window, blocking CollapseWindow from
    # merging them into one WindowExec (measured: a whole extra frame pass).
    if label_events is not None:
        df = df.withColumn("__ts_lab", F.when(F.col("__lab") == 0, F.col(_TS_US)))

    def uniq(w: WindowSpec) -> Column:
        if unique_mode == "approx":
            # Documented divergence: HLL estimate for whale-entity scale.
            return F.approx_count_distinct(sku_col).over(w).cast("double")
        return F.size(F.collect_set(sku_col).over(w)).cast("double")

    def fam(w: WindowSpec, days: int) -> dict[str, Column]:
        # Integer counts and long-cents spend are exact prefix differences.
        def wsum(c: str) -> Column:
            return _range_sum(c, entity_col, -days * MICROS_PER_DAY, 0)

        txn_c = wsum("__txn").cast("double")
        spend_c = from_cents(wsum("__spend"), amount_scale)
        cancel_c = wsum("__cancel").cast("double")
        cols = {
            "txn_count": txn_c,
            "spend": spend_c,
            "unique_skus": uniq(w),
            "avg_basket_value": guarded_div(spend_c, txn_c),
            "cancel_rate": clip(guarded_div(cancel_c, cancel_c + txn_c), 0.0, 1.0),
        }
        if unique_mode == "delta":
            del cols["unique_skus"]
        return cols

    df = _windowed(df, entity_col, windows, fam)

    # W6 tenure: whole-24h-period floor since first event.  The entity-wide
    # min is expressed as a RUNNING min over the same (entity, ts) ordering
    # as the W1-W5 frames — identical value (ordered ascending, the running
    # min IS the partition min seen so far = first event), but CollapseWindow
    # then merges it into the family's WindowExec instead of paying a whole
    # extra unordered-frame pass over the output rows.
    w_cum0 = (
        Window.partitionBy(entity_col)
        .orderBy(F.col(_TS_US))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    # Marker rows (label_events) must not pull the first-event min earlier:
    # min() skips the NULLed-out marker timestamps; every output row is a
    # real event, so its own frame always holds >= 1 non-null value.
    first_ts = (
        F.min("__ts_lab").over(w_cum0)
        if label_events is not None
        else F.min(_TS_US).over(w_cum0)
    )
    df = df.withColumn(
        "tenure_days",
        F.floor((F.col(_TS_US) - first_ts) / F.lit(MICROS_PER_DAY)),
    )

    if label_events is not None:
        future = _range_sum("__lab", entity_col, 1, label_horizon_days * MICROS_PER_DAY)
        df = (
            df.withColumn(label_col, (future == 0).cast("int"))
            .where(F.col("__lab") == 0)
            .drop("__lab")
        )

    feature_cols = [f"{b}_{s}" for b in
                    ("txn_count", "spend", "unique_skus", "avg_basket_value", "cancel_rate")
                    for s in windows]
    if round_to is not None:
        df = df.withColumns(
            {c: F.round(F.col(c).cast("double"), round_to) for c in feature_cols}
        )
    else:
        df = df.withColumns({c: F.col(c).cast("double") for c in feature_cols})

    # P13 NaN sweep parity (jobs/build_feature_views.py:68-70).
    df = df.na.fill(0.0, subset=feature_cols)

    return df.withColumn("t_ref", F.col(ts_col)).drop(
        _TS_US, "__txn", "__cancel", "__spend", "__ts_lab"
    )


def incremental_customer_features(
    bronze_new: DataFrame,
    bronze_hist: DataFrame,
    cutoff: str,
    windows: dict[str, int] | None = None,
    first_seen: DataFrame | None = None,
    carry_cols: tuple[str, ...] | None = None,
    entity_col: str = "customer_id",
    ts_col: str = "invoice_date",
    sku_col: str = "stock_code",
    amount_col: str = "line_amount",
    cancel_col: str = "is_cancel",
    unique_mode: str = "delta",
) -> DataFrame:
    """Incremental view maintenance for the W1-W6 family (r9): feature rows
    for exactly the NEWLY ARRIVED bronze lines, bit-identical to a full
    recompute over ``bronze_hist UNION bronze_new`` — without touching the
    un-touched entities or re-reading history beyond the window horizon.

    Why arrival-incremental is exact here: every family window is a
    PRECEDING range frame and tenure is a backward running min, so a new
    row at time t can never change an already-shipped row's features —
    only rows at-or-after t for the same entity need computing, and their
    windows need at most ``max(windows)`` days of that entity's history.
    (Corrections to PAST rows are the other maintenance path —
    ``jobs.backfill_feature_views_mtable`` — not this one.)

    The recompute set is therefore:

    - ``touched`` = entities appearing in the new batch (semi-join prune —
      at 100 TB this is the difference between scanning a corpus and
      scanning a day);
    - ``context`` = those entities' history rows within
      ``[cutoff - horizon, cutoff)`` — just enough to seed every trailing
      window of every new row;
    - tenure's first-event timestamp cannot come from the truncated
      context, so it comes from ``first_seen`` ENTITY STATE —
      ``(entity, first_ts)``, the classic incrementally-maintainable
      aggregate (min is associative; pass the maintained table, or omit it
      and this function derives it from ``bronze_hist`` pruned to touched
      entities) — merged with the new batch's own minima and applied as
      the identical ``floor(us-delta / day)`` expression the batch engine
      uses.

    Contract: every ``bronze_new`` row has ``ts_col >= cutoff`` and every
    ``bronze_hist`` row ``< cutoff`` (both enforced defensively; a "new"
    row older than the cutoff belongs to the backfill path).  Output
    column set matches :func:`build_customer_features` for the same
    ``carry_cols`` (tenure recomputed via the state join)."""
    windows = windows or {"1d": 1, "7d": 7, "30d": 30}
    horizon = max(windows.values())
    cut = F.to_date(F.lit(cutoff))
    need = list(
        dict.fromkeys(
            [entity_col, ts_col, sku_col, amount_col, cancel_col, *(carry_cols or ())]
        )
    )
    new_rows = bronze_new.where(F.col(ts_col) >= cut).select(*need)
    touched = new_rows.select(entity_col).distinct()
    context = (
        bronze_hist.where(
            (F.col(ts_col) >= F.date_sub(cut, horizon)) & (F.col(ts_col) < cut)
        )
        .join(touched, entity_col, "left_semi")
        .select(*need)
    )
    feats = build_customer_features(
        context.unionByName(new_rows),
        windows=windows,
        entity_col=entity_col,
        ts_col=ts_col,
        sku_col=sku_col,
        amount_col=amount_col,
        cancel_col=cancel_col,
        carry_cols=carry_cols,
        unique_mode=unique_mode,
    ).where(F.col("t_ref") >= cut)
    if first_seen is None:
        first_seen = (
            bronze_hist.join(touched, entity_col, "left_semi")
            .groupBy(entity_col)
            .agg(F.min(ts_col).alias("first_ts"))
        )
    first_all = (
        first_seen.select(entity_col, "first_ts")
        .unionByName(
            new_rows.groupBy(entity_col).agg(F.min(ts_col).alias("first_ts"))
        )
        .groupBy(entity_col)
        .agg(F.min("first_ts").alias("first_ts"))
    )
    return (
        feats.drop("tenure_days")
        .join(first_all, entity_col, "inner")
        .withColumn(
            "tenure_days",
            F.floor(
                (epoch_us(F.col("t_ref")) - epoch_us(F.col("first_ts")))
                / F.lit(MICROS_PER_DAY)
            ),
        )
        .drop("first_ts")
    )


def user_activity_features(
    events: DataFrame,
    windows: dict[str, int] | None = None,
    round_to: int | None = None,
    amount_scale: int = 6,
) -> DataFrame:
    """The same W1-W6 family expressed over the ``events`` stream table
    (user_id/ts/event_type/value) — the driver-testdata face of the feature
    engine: count, sum, distinct-type, guarded average, error rate, tenure.
    """
    windows = windows or {"1d": 1, "7d": 7}
    df = events.withColumns(
        {_TS_US: epoch_us("ts"), "__val": cents(F.col("value"), amount_scale)}
    )
    df = _spread_entity(df, "user_id")

    def fam(w: WindowSpec, days: int) -> dict[str, Column]:
        def wsum(c: Column | str) -> Column:
            return _range_sum(c, "user_id", -days * MICROS_PER_DAY, 0)

        n = wsum(F.lit(1))
        # a window whose values are all NULL sums to NULL, as a bounded SUM
        n_val = wsum(F.col("__val").isNotNull().cast("long"))
        s = F.when(n_val > 0, from_cents(wsum("__val"), amount_scale))
        # no NULL guard: an all-NULL window's NULL ratio and the difference's
        # 0 both clip to an error_rate of 0.0
        err = wsum((F.col("event_type") == "error").cast("long")).cast("double")
        return {
            "event_count": n,
            "value_sum": s,
            "unique_types": F.size(F.collect_set("event_type").over(w)).cast("long"),
            "avg_value": guarded_div(s, n.cast("double")),
            "error_rate": clip(guarded_div(err, n.cast("double")), 0.0, 1.0),
        }

    df = _windowed(df, "user_id", windows, fam)
    # Running min == partition min under the ascending (user, ts) order the
    # family already sorts by — CollapseWindow folds this into the same pass.
    w_cum0 = (
        Window.partitionBy("user_id")
        .orderBy(F.col(_TS_US))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    df = df.withColumn(
        "tenure_days",
        F.floor((F.col(_TS_US) - F.min(_TS_US).over(w_cum0)) / F.lit(MICROS_PER_DAY)),
    )
    float_cols = [f"{b}_{s}" for b in ("value_sum", "avg_value", "error_rate") for s in windows]
    if round_to is not None:
        df = df.withColumns({c: F.round(F.col(c), round_to) for c in float_cols})
    return df.drop(_TS_US, "__val")
