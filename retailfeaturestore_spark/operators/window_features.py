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
window frame over it, all inside whole-stage codegen.  Equal-timestamp ties
follow SQL range-frame semantics (all rows at the same event time see the
same window) — a documented, deliberate divergence from pandas positional
rolling (SURVEY.md §2.4 tie caveat); the DuckDB oracle agrees with this
engine.

Scale notes (100 TB):
- Range-frame bounds are in MICROSECONDS over ``unix_micros(ts)`` so
  sub-second event times are exact (casting to seconds would truncate).
- W3 is the exact interval-delta distinct count (``operators.windowed_distinct``):
  running sums with O(1) per-row state, so a whale entity with millions of
  distinct SKUs inside a window holds no per-row set.
- AQE skew-join/partition handling covers entity-key skew; no salting needed
  for window ops (Spark windows don't support partial aggregation anyway, so
  the mitigation for a pathological whale is the day-grain pre-aggregation).

Determinism note: floating-point summation is order-dependent, so windowed
SUMs over doubles are not bit-reproducible across engines (or even across
shuffles).  Monetary inputs are fixed-decimal, so the engine accumulates
them as exact long 'cents' (``functions.expressions.cents`` — round to the
input's decimal scale, sum integers, divide back): order-independent,
bit-reproducible, and on the primitive-long codegen fast path (~2x over
DECIMAL aggregation).  The quantization is 4 decimals for order-line
amounts and 6 for event values.

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

How the plan is built: each public builder renders its whole plan as ONE
Spark SQL statement (named stages as common table expressions, the input
frames bound as ``{src}`` arguments of ``spark.sql``), with every
caller-supplied column name back-quoted.  A Column-by-Column DataFrame
program pays one py4j round trip per Column object and method call, and
Spark analyses the plan again at every ``withColumn``/``select``: a
30-day gold backfill's plan took 5,500-6,500 round trips and 1.0-1.5 s of
driver time before its first job, against ~150 round trips and about
0.45 s as SQL text, for the same analysed frame.  The statement starts with
a ``REPARTITION(defaultParallelism, entity)`` hint (:func:`_spread_entity`)
so the window stage runs on every core.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.expressions import epoch_us, sql_ident, sql_with
from .windowed_distinct import MICROS_PER_DAY, windowed_distinct_ctes

__all__ = [
    "build_customer_features",
    "incremental_customer_features",
    "user_activity_features",
]

_UPTO = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _before(days: int) -> str:
    """The growing frame that ends just outside ``[t - days, t]``."""
    return f"RANGE BETWEEN UNBOUNDED PRECEDING AND {days * MICROS_PER_DAY + 1} PRECEDING"


def _sliding(days: int) -> str:
    """The both-closed ``[t - days, t]`` range frame."""
    return f"RANGE BETWEEN {days * MICROS_PER_DAY} PRECEDING AND CURRENT ROW"


def _in_window(c: str, i: int) -> str:
    """``sum(c)`` over window ``i``: the growing frame up to t minus the one
    before the window (``{c}_upto``, ``{c}_before{i}``)."""
    return f"(coalesce({c}_upto, 0) - coalesce({c}_before{i}, 0))"


def _positive_or_one(x: str) -> str:
    """The guarded ratio denominator: a zero or negative value becomes 1
    (the reference's ``x.where(x > 0, other=1)``, P11)."""
    return f"CASE WHEN {x} > 0 THEN {x} ELSE 1.0D END"


def _scans_bucketed_table(df: DataFrame) -> bool:
    """Whether any relation ``df`` reads is a bucketed file-source table,
    read from the analysed logical plan's leaves (nothing is planned)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        try:
            if leaf.relation().bucketSpec().isDefined():
                return True
        except Py4JError:  # a relation that is not file-based has no bucketSpec
            pass
    return False


def _spread_entity(df: DataFrame, entity: str) -> str:
    """The ``REPARTITION(defaultParallelism, entity)`` hint that starts the
    family's stage, or ``""`` when ``df`` reads a bucketed table.

    The family's own exchange on the entity key is sized by AQE from the
    bytes it shuffles, and a small input (a late day's 60-day slice, a
    local scan) is coalesced to one partition: the sort and every frame
    then run in one task on one core, although the work is compute-bound,
    not byte-bound.  A repartition with an explicit count is a
    ``REPARTITION_BY_NUM`` exchange, which AQE leaves at that width; it
    satisfies every downstream window's ClusteredDistribution (so no second
    exchange appears) and runs the family on every core — measured 2.76 ->
    1.75 s on the delta flagship at sf0.1.  It applies whatever the input's
    own partition count: a 72-file bronze scan already has
    defaultParallelism partitions, but its partitioning is not the
    family's, and the family's own exchange was still coalesced to one
    task.  No plan is built to decide it; only the analysed plan's leaves
    are read.

    A bucketed input is exempt: the window's own exchange is elided against
    the at-rest clustering (tests/test_scale_paths.py asserts it), and a
    repartition here would reintroduce the shuffle bucketing exists to
    remove."""
    if _scans_bucketed_table(df):
        return ""
    par = df.sparkSession.sparkContext.defaultParallelism
    return f"/*+ REPARTITION({par}, {entity}) */ "


def build_customer_features(
    bronze: DataFrame,
    windows: dict[str, int] | None = None,
    *,
    carry_cols: tuple[str, ...],
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

    W3 is the exact interval-delta distinct count (running sums, O(1)
    per-row state, see ``operators.windowed_distinct``).

    ``label_events`` (optional) folds an interval-existence churn label (J2,
    ``operators.pit`` semantics: ``label = 1`` iff NO event in ``(t_ref,
    t_ref + label_horizon_days]``) into the SAME WindowExec as W1-W6 instead
    of a separate label pass + J1 join.  The frame must carry
    ``(customer_id, label_ts_col)``; its rows are unioned in as zero-weight
    markers (``__txn = __cancel = __spend = 0``, NULL sku — invisible to
    every family aggregate and to tenure's running min, which skips marker
    timestamps) and the label is one more running aggregate, a future range
    frame ``sum(markers) OVER [t + 1µs, t + horizon]`` (a difference of two
    growing frames), evaluated in the family's WindowExec.
    Marker rows are dropped before output.
    The events come from their own frame (not the bronze rows) because an
    event with no bronze line — e.g. an order with zero line items — must
    still defeat the churn label (reference semantics
    ``jobs/make_training_and_train.py:26-46``: the lookup is against the
    full orders table).

    ``carry_cols`` names the bronze columns to carry into the output
    besides the keys and features; the rest are dropped.  This trims the
    struct riding the interval-delta explode (Catalyst's nested pruning
    cannot reach inside the Generate's array-of-struct, so an untrimmed
    payload is materialized three-ish times per row); the event timestamp
    is reconstructed exactly from the epoch-microseconds ordering attribute
    (``timestamp_micros`` inverts ``unix_micros``) rather than carried.
    """
    windows = windows or {"1d": 1, "7d": 7, "30d": 30}
    entity_col, ts_col, sku_col = "customer_id", "invoice_date", "stock_code"
    amount_col, cancel_col = "line_amount", "is_cancel"
    q = sql_ident
    e, ts, sku, cancel = q(entity_col), q(ts_col), q(sku_col), q(cancel_col)
    labelled = label_events is not None
    types = {f.name: f.dataType for f in bronze.schema.fields}
    scale = "CAST(10000 AS DOUBLE)"
    internal = ["__ts_us", "__txn", "__cancel", "__spend", *(["__lab"] if labelled else [])]
    cols = [*types, *internal]

    # P7: cancel lines contribute 0 spend (jobs/build_feature_views.py:15).
    spend = f"CASE WHEN NOT {cancel} THEN {q(amount_col)} ELSE 0.0D END"
    ctes = [("__lines", (
        f"SELECT *, unix_micros(CAST({ts} AS TIMESTAMP)) AS __ts_us, "
        f"CAST(NOT {cancel} AS BIGINT) AS __txn, CAST({cancel} AS BIGINT) AS __cancel, "
        f"CAST(round({spend} * {scale}) AS BIGINT) AS __spend"
        + (", 0 AS __lab" if labelled else "") + " FROM {src}"
    ))]
    if labelled:
        # Zero-weight marker rows; every other column is NULL, widened by
        # the union to the bronze column's type.
        marker = {
            entity_col: e,
            "__ts_us": f"unix_micros(CAST({q(label_ts_col)} AS TIMESTAMP))",
            **{c: "CAST(0 AS BIGINT)" for c in ("__txn", "__cancel", "__spend")},
            "__lab": "1",
        }
        ctes.append(("__events", "SELECT * FROM __lines UNION ALL SELECT "
                     + ", ".join(marker.get(c, "NULL") for c in cols) + " FROM {labels}"))
    ctes.append(("__spread", f"SELECT {_spread_entity(bronze, e)}* FROM {ctes[-1][0]}"))

    # W3 runs FIRST, emitting (entity, ts_us) as aliases of its own
    # partitioning and ordering attributes: the W1-W5 frames below then
    # reuse the distinct pass's entity-hash exchange and (entity, time)
    # sort, so the whole family costs ONE wide shuffle.
    payload = [c for c in dict.fromkeys(carry_cols) if c != entity_col]
    reconstruct_ts = isinstance(types[ts_col], T.TimestampType) and ts_col not in payload
    if not reconstruct_ts and ts_col not in payload:
        payload.append(ts_col)
    payload += internal[1:]
    uniq = [f"unique_skus_{s}" for s in windows]
    ctes += windowed_distinct_ctes(
        "__spread", e, "__ts_us", sku, windows, [q(c) for c in payload], [q(c) for c in uniq]
    )
    cols = [entity_col, "__ts_us", *payload, *uniq]
    select = [f"__e AS {e}", "__time AS __ts_us", *(q(c) for c in payload + uniq)]
    if reconstruct_ts:
        # timestamp_micros inverts unix_micros exactly
        cols.append(ts_col)
        select.append(f"timestamp_micros(__time) AS {ts}")
    ctes.append(("__family_in", f"SELECT {', '.join(select)} FROM __wd_out"))

    # Every frame shares the (entity, ts) spec, so Catalyst plans ONE
    # exchange + ONE sort and one WindowExec for the family, tenure and the
    # label.  Integer sums are prefix differences (module docstring): the
    # growing frame up to t, minus the growing frame before each window.
    spec = f"PARTITION BY {e} ORDER BY __ts_us"
    sums = ["__txn", "__cancel", "__spend"]
    frames = [f"sum({c}) OVER ({spec} {_UPTO}) AS {c}_upto" for c in sums]
    for i, days in enumerate(windows.values()):
        frames += [f"sum({c}) OVER ({spec} {_before(days)}) AS {c}_before{i}" for c in sums]
    # W6 tenure: the entity-wide first event is a RUNNING min over the same
    # ordering — identical value (ordered ascending, the running min IS the
    # partition min seen so far), but it shares the family's WindowExec
    # instead of paying an extra unordered-frame pass.  The min skips marker
    # rows' NULLed timestamps; every output row is a real event, so its own
    # frame holds >= 1 non-null value.
    first = "CASE WHEN __lab = 0 THEN __ts_us END" if labelled else "__ts_us"
    frames.append(f"min({first}) OVER ({spec} {_UPTO}) AS __first")
    if labelled:
        # the churn label's future marker count over [t + 1us, t + horizon]
        horizon = label_horizon_days * MICROS_PER_DAY
        ahead = f"RANGE BETWEEN UNBOUNDED PRECEDING AND {horizon} FOLLOWING"
        frames += [f"sum(__lab) OVER ({spec} {ahead}) AS __lab_ahead",
                   f"sum(__lab) OVER ({spec} {_UPTO}) AS __lab_upto"]
    ctes.append(("__family", f"SELECT *, {', '.join(frames)} FROM __family_in"))

    ctes.append(("__sums", "SELECT *, " + ", ".join(
        f"CAST({_in_window('__txn', i)} AS DOUBLE) AS __txn{i}, "
        f"{_in_window('__spend', i)} / {scale} AS __spend{i}, "
        f"CAST({_in_window('__cancel', i)} AS DOUBLE) AS __cancel{i}"
        for i in range(len(windows))
    ) + " FROM __family"))

    feats = {}
    for i, s in enumerate(windows):
        txn, cancels = f"__txn{i}", f"__cancel{i}"
        feats[f"txn_count_{s}"] = txn
        feats[f"spend_{s}"] = f"__spend{i}"
        feats[f"avg_basket_value_{s}"] = f"__spend{i} / {_positive_or_one(txn)}"
        rate = f"{cancels} / {_positive_or_one(f'({cancels} + {txn})')}"
        feats[f"cancel_rate_{s}"] = f"least(greatest({rate}, 0.0D), 1.0D)"

    def final(x: str) -> str:
        # double, then the P13 NaN sweep (jobs/build_feature_views.py:68-70)
        # as DataFrame.na.fill does it
        return f"coalesce(nanvl(CAST({x} AS DOUBLE), NULL), 0.0D)"

    out = [f"{final(q(c))} AS {q(c)}" if c in uniq else q(c) for c in cols if c not in internal]
    out += [f"{final(x)} AS {q(c)}" for c, x in feats.items()]
    out.append(f"floor((__ts_us - __first) / {MICROS_PER_DAY}) AS tenure_days")
    if labelled:
        out.append(f"CAST(coalesce(__lab_ahead, 0) - coalesce(__lab_upto, 0) = 0 AS INT) "
                   f"AS {q(label_col)}")
    out.append(f"{ts} AS t_ref")
    query = f"SELECT {', '.join(out)} FROM __sums" + (" WHERE __lab = 0" if labelled else "")
    frames_in = {"src": bronze, **({"labels": label_events} if labelled else {})}
    return bronze.sparkSession.sql(sql_with(ctes, query), **frames_in)


def incremental_customer_features(
    bronze_new: DataFrame,
    bronze_hist: DataFrame,
    cutoff: str,
    carry_cols: tuple[str, ...],
) -> DataFrame:
    """Incremental view maintenance for the W1-W6 family (r9): feature rows
    for exactly the NEWLY ARRIVED bronze lines, bit-identical to a full
    recompute over ``bronze_hist UNION bronze_new`` — without touching the
    un-touched entities or re-reading history beyond the window horizon.

    Why arrival-incremental is exact here: every family window is a
    PRECEDING range frame and tenure is a backward running min, so a new
    row at time t can never change an already-shipped row's features —
    only rows at-or-after t for the same entity need computing, and their
    windows need at most 30 days (the widest window) of that entity's
    history.
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
      context, so it comes from ENTITY STATE — ``(entity, first_ts)``, the
      classic incrementally-maintainable aggregate (min is associative),
      derived from ``bronze_hist`` pruned to touched entities — merged with
      the new batch's own minima and applied as the identical
      ``floor(us-delta / day)`` expression the batch engine uses.

    Contract: every ``bronze_new`` row has ``invoice_date >= cutoff`` and every
    ``bronze_hist`` row ``< cutoff`` (both enforced defensively; a "new"
    row older than the cutoff belongs to the backfill path).  Output
    columns, in order, are :func:`build_customer_features`'s for the same
    ``carry_cols`` (tenure recomputed via the state join)."""
    e, ts = "customer_id", "invoice_date"
    cut = F.to_date(F.lit(cutoff))
    need = list(
        dict.fromkeys(
            [e, ts, "stock_code", "line_amount", "is_cancel", *carry_cols]
        )
    )
    new_rows = bronze_new.where(F.col(ts) >= cut).select(*need)
    touched = new_rows.select(e).distinct()
    context = (
        bronze_hist.where((F.col(ts) >= F.date_sub(cut, 30)) & (F.col(ts) < cut))
        .join(touched, e, "left_semi")
        .select(*need)
    )
    feats = build_customer_features(
        context.unionByName(new_rows), carry_cols=carry_cols
    ).where(F.col("t_ref") >= cut)
    first_all = (
        bronze_hist.join(touched, e, "left_semi")
        .select(e, ts)
        .unionByName(new_rows.select(e, ts))
        .groupBy(e)
        .agg(F.min(ts).alias("first_ts"))
    )
    # withColumn replaces tenure in place: the columns and their order are
    # the full build's
    return (
        feats.join(first_all, e, "inner")
        .withColumn(
            "tenure_days",
            F.floor(
                (epoch_us(F.col("t_ref")) - epoch_us(F.col("first_ts")))
                / F.lit(MICROS_PER_DAY)
            ),
        )
        .drop("first_ts")
    )


# the trailing windows of the events-stream feature family
USER_ACTIVITY_WINDOWS = {"1d": 1, "7d": 7}


def user_activity_features(events: DataFrame) -> DataFrame:
    """The same W1-W6 family expressed over the ``events`` stream table
    (user_id/ts/event_type/value) — the driver-testdata face of the feature
    engine: count, sum, distinct-type, guarded average, error rate, tenure.
    """
    windows = USER_ACTIVITY_WINDOWS
    scale = "CAST(1000000 AS DOUBLE)"
    spec = "PARTITION BY user_id ORDER BY __ts_us"
    # a window whose values are all NULL sums to NULL, as a bounded SUM
    sums = {"__n": "1", "__n_val": "CAST(__val IS NOT NULL AS BIGINT)", "__val": "__val",
            "__err": "CAST(event_type = 'error' AS BIGINT)"}
    frames = [f"sum({x}) OVER ({spec} {_UPTO}) AS {c}_upto" for c, x in sums.items()]
    for i, days in enumerate(windows.values()):
        frames += [f"sum({x}) OVER ({spec} {_before(days)}) AS {c}_before{i}"
                   for c, x in sums.items()]
        frames.append(f"CAST(size(collect_set(event_type) OVER ({spec} {_sliding(days)})) "
                      f"AS BIGINT) AS __types{i}")
    # Running min == partition min under the ascending (user, ts) order the
    # family already sorts by, so it shares the family's WindowExec.
    frames.append(f"floor((__ts_us - min(__ts_us) OVER ({spec} {_UPTO})) / {MICROS_PER_DAY}) "
                  "AS __tenure")

    sums_i = ", ".join(
        f"{_in_window('__n', i)} AS __n{i}, "
        f"CASE WHEN {_in_window('__n_val', i)} > 0 THEN {_in_window('__val', i)} / {scale} END "
        f"AS __sum{i}, CAST({_in_window('__err', i)} AS DOUBLE) AS __err{i}"
        for i in range(len(windows))
    )

    q = sql_ident
    out = [q(c) for c in events.columns]
    for i, s in enumerate(windows):
        n = f"CAST(__n{i} AS DOUBLE)"
        # no NULL guard: an all-NULL window's NULL ratio and the difference's
        # 0 both clip to an error_rate of 0.0
        rate = f"least(greatest(__err{i} / {_positive_or_one(n)}, 0.0D), 1.0D)"
        out += [
            f"__n{i} AS {q(f'event_count_{s}')}",
            f"__sum{i} AS {q(f'value_sum_{s}')}",
            f"__types{i} AS {q(f'unique_types_{s}')}",
            f"__sum{i} / {_positive_or_one(n)} AS {q(f'avg_value_{s}')}",
            f"{rate} AS {q(f'error_rate_{s}')}",
        ]
    out.append("__tenure AS tenure_days")
    ctes = [
        ("__events", f"SELECT {_spread_entity(events, 'user_id')}*, "
                     "unix_micros(CAST(ts AS TIMESTAMP)) AS __ts_us, "
                     f"CAST(round(value * {scale}) AS BIGINT) AS __val FROM {{src}}"),
        ("__family", f"SELECT *, {', '.join(frames)} FROM __events"),
        ("__sums", f"SELECT *, {sums_i} FROM __family"),
    ]
    return events.sparkSession.sql(sql_with(ctes, f"SELECT {', '.join(out)} FROM __sums"),
                                   src=events)
