"""Exact event-time-windowed distinct counts WITHOUT per-row set state.

``size(collect_set(key) OVER [t - w, t])`` (the small-entity W3 path in
``window_features``) keeps every distinct key of the window in memory per
row — fine at retail cardinalities, pathological for whale entities at
100 TB (a customer seeing 10^6 SKUs in a 30-day horizon materializes a
10^6-element set per output row).

This module computes the SAME exact value with O(1) per-row state via the
interval-delta decomposition::

    distinct(t) = C(t) - P(t)

    C(t) = # rows in [t-w, t]
    P(t) = # consecutive same-key occurrence pairs
           (a=prev_ts, b=ts) active at t, i.e. b <= t AND a >= t-w

For a key with m occurrences inside the window the m occurrences are
consecutive in the key's full timeline, contributing m rows to C and m-1
pairs to P — so C - P counts each present key exactly once.  Each pair is
active for ``t in [b, a+w]``: encode it as a +1 event at time ``b`` and a
-1 event at time ``a+w+1µs`` (one tick past the inclusive upper bound), and
P(t) is a cumulative sum.  Pairs with ``b - a > w`` can never be active and
are dropped at the source.

Physical shape (v4 — ONE exchange, ONE post-explode sort, every frame
*incremental* inside ONE WindowExec), rendered as Spark SQL common table
expressions (:func:`windowed_distinct_ctes`) so a caller can embed the
operator in its own statement and the plan is parsed and analysed once:

- One hash exchange on the entity key serves the entire operator.  The
  previous-same-key-occurrence lag runs over a partition-local
  ``(key, time)`` sort with a same-key guard; each row then EXPLODES into
  its query event plus its pair +1/-1 delta events.  Explode preserves the
  hash partitioning (a union of separate query/delta branches would not —
  UnionExec reports unknown partitioning, forcing a re-exchange and
  re-executing the upstream scan per branch), so the frame pass needs only
  a partition-local re-sort on ``(time)``.
- The +1µs shift on the -1 events makes EVERY accumulation a growing range
  frame over the single ``(time)`` ordering (growing frames evaluate
  incrementally; a sliding ``[-w, 0]`` frame re-aggregates its buffer per
  row):
  * ``P(t)``: cumulative sum of the shifted deltas,
  * ``C(t) = A(t) - B_w(t)``: ``[unbounded, 0]`` minus
    ``[unbounded, -w-1µs]``,
  and because all frames share one partition+order spec they evaluate in
  ONE WindowExec.  (The previous (time, kind)-ordered rows-frame
  formulation for P cost a second post-explode sort AND a second window
  pass; the event kind now only tags query rows for the output filter.)

The explode roughly triples the row count with skinny delta rows (payload
NULL) — at 100 TB that is a 3x pass of long triples versus per-row set
materialization, and it never falls over on skew.

Tie semantics match SQL RANGE frames (all rows at the same timestamp see
the same window): a +1 event at a query row's exact instant is inside the
row's ``[unbounded, 0]`` frame (a pair is active from its start,
inclusive); a -1 event never shares a boundary instant with a query row it
should still count, thanks to the +1µs shift.

Reference parity: the reference's pandas ``rolling(...).apply(nunique)``
per-customer loop (``jobs/build_feature_views.py:44-47``) — same value,
executed as distributed window algebra.
"""

from __future__ import annotations

__all__ = ["windowed_distinct_ctes", "MICROS_PER_DAY"]

MICROS_PER_DAY = 86_400 * 1_000_000


def windowed_distinct_ctes(
    rel: str,
    entity: str,
    time: str,
    key: str,
    windows: dict[str, int],
    payload: list[str],
    outputs: list[str],
) -> list[tuple[str, str]]:
    """The operator as SQL common table expressions over the relation
    ``rel``.  ``entity``, ``time`` (epoch microseconds) and ``key`` are SQL
    expressions over ``rel``; ``payload`` (the ``rel`` columns carried to
    the output) and ``outputs`` (one per window) are quoted column names.

    The last CTE, ``__wd_out``, holds one row per input row: ``__e`` and
    ``__time`` — the operator's own partitioning and ordering attributes,
    which a caller aliases back to its entity and time columns so that a
    downstream window over them reuses this operator's exchange and sort
    (ProjectExec is alias-aware) — then the payload, then the outputs.

    The payload rides each query event as one struct.  Catalyst's
    nested-column pruning does not reach inside the explode's
    array-of-struct construction (verified on the physical plan: the
    Generate materializes every field even when downstream extracts a
    subset), so callers pass exactly the columns they need; the delta rows
    always stay skinny (key, time, kind, ±1 deltas, NULL payload)."""
    horizons = [d * MICROS_PER_DAY for d in windows.values()]
    d_cols = [f"__d{i}" for i in range(len(horizons))]

    def event(t: str, kind: int, c: str, ds: list, p: str) -> str:
        fields = [f"'t', {t}", f"'k', {kind}", f"'c', CAST({c} AS BIGINT)"]
        fields += [f"'{d}', CAST({x} AS BIGINT)" for d, x in zip(d_cols, ds)]
        return f"named_struct({', '.join(fields)}, 'p', {p})"

    # One array element per event: the query row itself (kind 1, carries the
    # payload), a +1 pair-start at t (kind 0, indicator per horizon the pair
    # can ever hit), and a -1 pair-end one tick past the inclusive activity
    # bound prev + w per surviving horizon (kind 2), so P(t) is a pure
    # range-frame cumulative sum over (time) — see module docstring.  Dead
    # elements are exploded as NULL rows and dropped by a flat filter rather
    # than compacted with the array ``filter`` higher-order function: HOF
    # lambdas are evaluated outside whole-stage codegen, and this expression
    # runs once per input row on the hot path.
    gap = "(__t - __prev)"
    elems = [event("__t", 1, "__k IS NOT NULL", [0] * len(d_cols), "__p")]
    elems.append(
        f"CASE WHEN __prev IS NOT NULL AND {gap} <= {max(horizons)} THEN "
        f"{event('__t', 0, '0', [f'{gap} <= {w}' for w in horizons], 'NULL')} END"
    )
    elems += [
        f"CASE WHEN __prev IS NOT NULL AND {gap} <= {w} THEN "
        f"{event(f'__prev + {w + 1}', 2, '0', [-(j == i) for j in range(len(d_cols))], 'NULL')} END"
        for i, w in enumerate(horizons)
    ]
    # ONE exchange for the whole operator: the previous-occurrence lag runs
    # partitioned by the entity alone (ordered key-then-time, with a
    # same-key guard), and each row then EXPLODES into its query event plus
    # its pair-delta events — explode preserves hash partitioning, where a
    # union of two branches would not (UnionExec reports unknown
    # partitioning and forces a re-exchange AND re-executes the upstream
    # scan per branch).  The running-sum window then needs only a
    # partition-local re-sort.  Skew note: partitioning the lag by entity
    # (not (entity, key)) concentrates a whale entity in one partition — the
    # same exposure as the final per-entity window itself, so it does not
    # change the operator's skew class.
    lag = "OVER (PARTITION BY __e ORDER BY __k, __t)"
    # Every frame is a growing range frame over the single (entity, time)
    # ordering -> one sort, one WindowExec (module docstring, v4 shape).
    order = "PARTITION BY __e ORDER BY __time RANGE BETWEEN UNBOUNDED PRECEDING AND"
    sums = [f"sum(__c) OVER ({order} CURRENT ROW) AS __c_upto"]
    for i, (d, w) in enumerate(zip(d_cols, horizons)):
        sums += [
            f"sum(__c) OVER ({order} {w + 1} PRECEDING) AS __c_before{i}",
            f"sum({d}) OVER ({order} CURRENT ROW) AS {d}_upto",
        ]
    counts = [
        f"__c_upto - coalesce(__c_before{i}, 0) - {d}_upto AS {out}"
        for i, (d, out) in enumerate(zip(d_cols, outputs))
    ]
    return [
        ("__wd_in", f"SELECT {entity} AS __e, {time} AS __t, {key} AS __k, "
                    f"struct({', '.join(payload)}) AS __p FROM {rel}"),
        ("__wd_lag", f"SELECT *, CASE WHEN lag(__k) {lag} = __k THEN lag(__t) {lag} END "
                     "AS __prev FROM __wd_in"),
        ("__wd_ev", "SELECT __e, __ev.t AS __time, __ev.k AS __kind, __ev.c AS __c, "
                    + "".join(f"__ev.{d} AS {d}, " for d in d_cols)
                    + f"__ev.p AS __p FROM (SELECT __e, explode(array({', '.join(elems)})) "
                    "AS __ev FROM __wd_lag) WHERE __ev IS NOT NULL"),
        ("__wd_sum", f"SELECT __e, __time, __kind, __p, {', '.join(sums)} FROM __wd_ev"),
        ("__wd_out", "SELECT "
                     + ", ".join(["__e", "__time", *(f"__p.{c} AS {c}" for c in payload), *counts])
                     + " FROM __wd_sum WHERE __kind = 1"),
    ]
