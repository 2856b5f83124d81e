"""Driver-contract invariants over the query registry itself: these are the
assumptions the correctness driver (and the bench) build on, pinned so a
refactor cannot silently break the evaluation window."""

from __future__ import annotations

import os

import bench
from retailfeaturestore_spark.queries import DRIVER_PRIORITY, REGISTRY


def test_window_is_exactly_50_unique_known_names():
    assert len(DRIVER_PRIORITY) == 50
    assert len(set(DRIVER_PRIORITY)) == 50
    missing = [n for n in DRIVER_PRIORITY if n not in REGISTRY]
    assert not missing, missing


def test_window_holds_no_unhashable_sketches():
    """Every evaluated-window query must be able to hash-match its oracle
    (or be in the documented rows-only set).  Since r8 the approx-tagged
    sketches qualify: their oracles emit a boolean error-bound verdict
    (each engine checks its OWN sketch against its OWN exact aggregate),
    so the value hash compares deterministic booleans, not sketch
    estimates — they may hold window slots again."""
    first50 = list(REGISTRY)[:50]
    assert first50 == list(DRIVER_PRIORITY)
    ROWS_ONLY = {"bpe_token_count", "seq_packing_ffd"}
    unhashable = [
        n for n in first50 if not REGISTRY[n].oracle and n not in ROWS_ONLY
    ]
    assert not unhashable, unhashable


def test_every_query_has_an_oracle():
    """Every registered query carries a DuckDB oracle, except the
    explicitly allowed non-SQL-expressible set (iterative algorithms the
    driver checks rows-only and pytest checks by differential)."""
    # iterative BPE merge learning; order-dependent FFD greedy bin state —
    # both pytest-differential-verified, neither SQL-expressible
    ALLOWED_NO_ORACLE = {"bpe_token_count", "seq_packing_ffd"}
    no_oracle = [
        n for n, qd in REGISTRY.items()
        if not qd.oracle and n not in ALLOWED_NO_ORACLE
    ]
    assert not no_oracle, no_oracle


def test_bench_headline_names_resolve():
    unknown = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not unknown, unknown
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_bench_compact_dict_keeps_prev_round_headline_names():
    """r14: the compact final-line `queries` dict is slowest-12 UNION the
    previous round's headline names, so a query that merely got FASTER can
    never vanish from the round-over-round diff (PERF r13 flagged three
    such false 'dropped_from_bench' rows).  The helper must return only
    registered names from a strictly-prior driver record; additive-only
    per the bench contract."""
    names = bench._load_prev_headline_names()
    assert names, "a prior driver BENCH_r*.json exists in this repo"
    unknown = [n for n in names if n not in REGISTRY]
    assert not unknown, unknown
    # the union reproduction: nothing from prev may be dropped
    timings = {n: 1.0 for n in REGISTRY}
    heavy = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    for n in names:
        if n in timings:
            heavy.setdefault(n, timings[n])
    assert set(names) <= set(heavy)


def test_bench_evicts_caches_for_graph_and_iterative_queries():
    """BENCH_r06 was a heap-OOM crash record: copurchase_triangles (tagged
    "graph", not "iterative") ran its wedge join against ~100 queries of
    accumulated sf-scoped persisted frames and died UNABLE_TO_ACQUIRE_MEMORY.
    Pin the protocol: every headline query that persists edge-scale frames
    (graph family) or computes while planning (iterative) gets the
    evict-before-each-run treatment."""
    for name in bench.HEADLINE:
        tags = set(REGISTRY[name].tags)
        if tags & {"graph", "iterative"}:
            assert bench._should_evict(REGISTRY[name].tags), name
    # the r6 crash query specifically
    assert bench._should_evict(REGISTRY["copurchase_triangles"].tags)
    assert bench._should_evict(REGISTRY["part_similar_by_copurchase"].tags)


def test_mtable_query_scratch_root_is_reused_across_sessions(tmp_path, monkeypatch):
    """Every session (or process) running an mtable-building query gets the
    same scratch root for a dataset, emptied first: repeated runs leave one
    table directory per query, not one per run."""
    import tempfile

    from retailfeaturestore_spark.queries import _q_tmp_root

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    roots = []
    for run in range(2):  # two sessions, each with no memory of the other
        root = _q_tmp_root("/data/sf0.01", "fv_build", "rfs_mtable_fv")
        os.makedirs(root)
        with open(os.path.join(root, "part-0.parquet"), "w") as f:
            f.write(str(run))
        roots.append(root)
    assert roots[0] == roots[1]
    assert os.listdir(tmp_path / "rfs_mtable_fv") == [os.path.basename(roots[0])]
    with open(os.path.join(roots[1], "part-0.parquet")) as f:
        assert f.read() == "1"  # the second run started from an empty root
    # another dataset keeps its own root
    assert _q_tmp_root("/data/sf0.1", "fv_build", "rfs_mtable_fv") != roots[0]
