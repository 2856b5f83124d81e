"""Feature-store benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload late_repair --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Spark runs as ``local[<cores>]`` in this
process; serving has one client thread.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  The first run in a checkout builds the store the
workloads start from (the daily batch, in a child process) and keeps it
under ``.perfbench/``; each run's work directory is removed at exit, the
trace and the result are kept under ``.perfbench/out``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STEPS = ("ingest", "features", "materialize", "train", "score", "backfill")
IO_STEPS = ("bronze", "gold", "backfill")
SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb")

END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s",
    "rss_mb": "MB",
}


def host_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: a yardstick for the host's
    speed at the time of a run, printed beside the result, not a metric."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(200_000):
            s += i
        times.append(time.perf_counter() - t0)
    return sorted(times)[2] * 1000


def per_layer_units() -> dict[str, str]:
    from workloads import QUERY_MIX

    units = {
        "sources.xlsx.parse_s": "s", "sources.xlsx.rows_per_s": "1/s",
        "sources.redis.publish_s": "s", "sources.redis.keys_written": "count",
        "sources.redis.keys_per_touched": "ratio",
        "sources.pred_log.write_p50_ms": "ms", "sources.pred_log.write_p99_ms": "ms",
        "sources.pred_log.files_per_req": "ratio",
        **{f"jobs.{s}_s": "s" for s in ("ingest", "features", "materialize", "train", "backfill")},
        "ml.score_s": "s", "ml.train_rows": "count", "ml.predict_ms": "ms",
    }
    for kind, unit in (("files_written", "count"), ("bytes_written", "bytes"),
                       ("partitions", "count")):
        units.update({f"io.{kind}.{s}": unit for s in IO_STEPS})
    for key in SPARK_KEYS:
        unit = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB"}.get(key, "s")
        units.update({f"spark.{key}.{s}": unit for s in STEPS + QUERY_MIX})
    units.update({f"query.{q}_s": "s" for q in QUERY_MIX})
    units.update({
        "serving.lookup_online_p50_ms": "ms", "serving.lookup_online_p99_ms": "ms",
        "serving.lookup_offline_p50_ms": "ms", "serving.lookup_offline_p99_ms": "ms",
        "serving.online_hit_rate": "ratio", "serving.refresh_s": "s",
        "serving.refresh_files_read": "count",
        "serving.cache_rows": "count", "trace.overhead_ms": "ms",
    })
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("late_repair", "serve_predict"))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="store size; tiny is for the benchmark's own tests")
    ap.add_argument("--fault", choices=("repair", "windows", "serve"), default=None,
                    help="plant one wrong answer (tests the checks)")
    ap.add_argument("--build-store", metavar="DIR",
                    help="build the store into DIR and exit (used by the first run)")
    args = ap.parse_args(argv)
    if not args.build_store and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    return args


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let worker processes import the package and this
    directory."""
    for sub in ("tmp", "spark-local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    os.environ.pop("SPARK_MASTER_OVERRIDE_DISABLED", None)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(work: str, trace: bool):
    from retailfeaturestore_spark.session import get_spark

    # Every run starts a fresh JVM, where the optimizing JIT compiler's
    # threads take cores from the jobs while it warms up: the benchmark runs
    # the client compiler only.
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - gateway already gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still alive: kill below
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every descendant process to end, killing stragglers."""
    from tracing import descendants

    end = time.time() + timeout_s
    while descendants() and time.time() < end:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def source_key() -> str:
    """Hash of the package's and the benchmark's Python sources (tests
    aside): a store built by other code is never reused."""
    h = hashlib.sha1()
    for top in ("retailfeaturestore_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py") and not f.startswith("test_"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_store(size: str) -> str:
    """The built store for this size and source version; builds it in a
    child process (so this process's JVM starts cold like every other
    run's) when it is missing."""
    base = os.path.join(ROOT, ".perfbench")
    path = os.path.join(base, f"store-{size}-{source_key()}")
    if os.path.isdir(path):
        return path
    for old in os.listdir(base) if os.path.isdir(base) else ():
        if old.startswith(f"store-{size}-"):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    subprocess.run([sys.executable, os.path.abspath(__file__), "--build-store", path,
                    "--size", size], check=True, timeout=600, stdout=sys.stderr)
    return path


def build_store_main(path: str, size: str) -> int:
    """Child process: build the store, traced, into a temporary directory
    and rename it into place.  The build's spans, Spark event-log counts,
    io counts and shape go to ``trace.json`` in the store, for the traced
    serve_predict run's per-layer metrics."""
    import workloads
    from tracing import Tracer, event_log_counts

    tmp = f"{path}.tmp{os.getpid()}"
    work = os.path.join(tmp, "_work")
    prepare_env(work)
    tracer = Tracer(True)
    run = workloads.Run(work=work, seed=workloads.STORE_SEED, seconds=0, tracer=tracer, size=size)
    spark = tracer.spark = start_spark(work, True)
    try:
        workloads.build_store(run, spark, tmp)
    finally:
        stop_spark(spark)
        reap_children()
    with open(os.path.join(tmp, "trace.json"), "w") as f:
        json.dump({"spans": tracer.spans, "events": event_log_counts(os.path.join(work, "events")),
                   "io": run.io, "shape": run.shape}, f)
    shutil.rmtree(work)
    os.rename(tmp, path)
    os.sync()  # the measuring run must not share the disk with this write-back
    return 0


def end_to_end(out: dict, rss_mb: float) -> dict:
    import numpy as np

    from tracing import quantile, tail_quantile

    op = out["op_s"]
    values = {
        "setup_s": out["setup_s"],
        "op_p50_ms": float(np.median(op)) * 1000,
        "op_tail_ms": quantile(op, tail_quantile(len(op))) * 1000,
        "ops_per_s": out["ops_per_s"],
        "rss_mb": rss_mb,
    }
    return {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(run, out: dict, events: dict, build: dict | None = None) -> dict:
    """The per-layer metrics of a traced run; ``build`` is the store build's
    trace, which serve_predict reports for the daily batch's layers."""
    import numpy as np

    from tracing import quantile
    from workloads import QUERY_MIX

    spans = [s for s in run.tracer.spans if s["end"] is not None]
    io = dict(run.io)
    if build is not None:
        spans += build["spans"]
        events = {**build["events"], **events}
        io.update(build["io"])

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def dur(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in named(name)]

    def med(name: str, scale: float = 1.0) -> float:
        d = dur(name)
        return float(np.median(d)) * scale if d else 0.0

    m = {k: 0.0 for k in per_layer_units()}
    parse = named("sources.xlsx.parse")
    if parse:
        m["sources.xlsx.parse_s"] = parse[0]["end"] - parse[0]["start"]
        m["sources.xlsx.rows_per_s"] = parse[0]["rows"] / m["sources.xlsx.parse_s"]
    if "redis" in out:  # late_repair: the Spark sink's own busy time
        written, touched, busy = out["redis"]
        m["sources.redis.publish_s"] = busy
        m["sources.redis.keys_written"] = written
        m["sources.redis.keys_per_touched"] = written / max(touched, 1.0)
    else:
        m["sources.redis.publish_s"] = med("sources.redis.publish")
        m["sources.redis.keys_written"] = out["published"]
        m["sources.redis.keys_per_touched"] = 1.0
    writes = dur("sources.pred_log.write")
    if writes:
        m["sources.pred_log.write_p50_ms"] = quantile(writes, 0.5) * 1000
        m["sources.pred_log.write_p99_ms"] = quantile(writes, 0.99) * 1000
    m["sources.pred_log.files_per_req"] = out.get("files_per_req", 0.0)
    for step in ("ingest", "features", "materialize", "train", "backfill"):
        m[f"jobs.{step}_s"] = med(f"jobs.{step}")
    m["ml.score_s"] = med("ml.score")
    m["ml.train_rows"] = out.get("train_rows", 0)
    m["ml.predict_ms"] = med("ml.predict", 1000)
    for q in QUERY_MIX:
        m[f"query.{q}_s"] = med(f"query.{q}")
    for step in IO_STEPS:
        for kind, key in (("files_written", "files"), ("bytes_written", "bytes"),
                          ("partitions", "partitions")):
            m[f"io.{kind}.{step}"] = io.get(step, {}).get(key, 0)
    span_of = {"score": "ml.score", **{q: f"query.{q}" for q in QUERY_MIX}}
    for step in STEPS + QUERY_MIX:
        # per traced call of the step; its spans set the job group
        calls = max(len(named(span_of.get(step, f"jobs.{step}"))), 1)
        counts = events.get(step, {})
        for key in SPARK_KEYS:
            m[f"spark.{key}.{step}"] = counts.get(key, 0.0) / calls
    for side in ("online", "offline"):
        d = dur(f"serving.lookup_{side}")
        if d:
            m[f"serving.lookup_{side}_p50_ms"] = quantile(d, 0.5) * 1000
            m[f"serving.lookup_{side}_p99_ms"] = quantile(d, 0.99) * 1000
    online = named("serving.lookup_online")
    if online:
        m["serving.online_hit_rate"] = sum(s["hit"] for s in online) / len(online)
    m["serving.refresh_s"] = float(np.median(out["refresh_s"]))
    m["serving.refresh_files_read"] = out["refresh_files"]
    m["serving.cache_rows"] = out["cache_rows"]
    m["trace.overhead_ms"] = out["trace_overhead_ms"]
    units = per_layer_units()
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "retailfeaturestore_spark")):
        print("perfbench: no retailfeaturestore_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    if args.build_store:
        return build_store_main(args.build_store, args.size)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    import workloads
    from tracing import Tracer, event_log_counts

    probe_ms = [host_probe_ms()]
    spark = None
    tracer = Tracer(bool(args.trace))
    run = workloads.Run(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer,
                        size=args.size, fault=args.fault)

    def spark_session():
        nonlocal spark
        spark = tracer.spark = start_spark(work, bool(args.trace))
        return spark

    try:
        store = ensure_store(args.size)
        if args.workload == "late_repair":
            out = workloads.late_repair(run, store, spark_session)
        else:
            out = workloads.serve_predict(run, store)
        if spark is not None:
            stop_spark(spark)
            spark = None
        if args.trace:
            events = event_log_counts(os.path.join(work, "events"))
            build = None
            if args.workload == "serve_predict":
                with open(os.path.join(store, "trace.json")) as f:
                    build = json.load(f)
                run.shape.update(build["shape"])
            metrics = per_layer(run, out, events, build)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
            self_s = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])
            print("self time (s): " + ", ".join(f"{k}={v:.3f}" for k, v in self_s[:12]),
                  file=sys.stderr)
        else:
            # this process only: the JVM's heap and the number of live Python
            # workers move with garbage-collector and scheduler timing
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / 1e6
            metrics = end_to_end(out, rss_mb)
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:  # noqa: BLE001 - best effort on the failure path
                traceback.print_exc()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    probe_ms.append(host_probe_ms())
    print("host probe (ms, start and end): " + " ".join(f"{p:.2f}" for p in probe_ms),
          file=sys.stderr)
    print("shape " + json.dumps(run.shape))
    for note in run.notes[:20]:
        print(f"check failed: {note}", file=sys.stderr)
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"result-{args.workload}-{args.seed}-{args.trace}.json"),
              "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
