"""Benchmark runner.

    python3 perfbench/run.py --workload choir_pipeline --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One process drives one workload
closed-loop into ``local[nproc]`` Spark: it sets up (JVM and session
start, seeded inputs), times one cold pass, checks the outputs outside
the timed pass, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A pass takes longer than any ``--seconds`` the benchmark is run with,
so ``--seconds`` is accepted and ignored. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs
span wrappers, reads Spark's status store and a streaming listener,
and reports the per-layer metrics instead. Everything the run writes
stays under ``.bench_work/`` (removed at exit) and ``.bench_build/``
(the cached query classification) in the repository root.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

# The driver heap the benchmark runs with. The program's 16g default is
# larger than a 15.7 GB machine's memory: with it, G1 grew the heap
# differently from run to run, and the peak RSS of choir_pipeline
# spread by half its median across seeds (4 GB median, 11 GB at 500
# sheet members). A 4g heap keeps every workload's peak within the
# machine.
DRIVER_MEM = "4g"

# Fixed heap sizing for the driver JVM. G1 resizes the heap and the
# young generation, and starts old-generation marking, from measured
# pause and marking times, so on a shared host the heap G1 touched
# (most of the JVM's RSS) depended on the host's timing: choir_pipeline's
# peak_rss_mb read 2.7-3.5 GB in one set of ten seeds and spread by
# 0.67 of a 3.4 GB median in another. With the heap committed at its
# maximum, a fixed young generation and a fixed marking threshold, the
# touched heap follows the allocations of the pass: 3.35-3.49 GB over
# five seeds, two of them run beside two or three CPU-bound processes.
JVM_HEAP_OPTS = (
    f"-XX:+UseG1GC -Xms{DRIVER_MEM} -Xmn1g -XX:-G1UseAdaptiveIHOP"
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ursa_major_choir_etl_spark"

# The cold pass is measured both in wall time, which a cron run pays,
# and in CPU seconds of the process tree: on a 4-vCPU virtual machine
# whose host lends its cores to other guests, the wall time of one pass
# moved by a third within an hour while its CPU time stayed within a
# tenth.
END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("pass_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]

OUTPUT_TABLES = [
    "dim_chorister", "dim_chorister_assignment", "dim_song",
    "fact_attendance", "fact_song_time", "mart_attendance",
    "mart_song_rehearsal", "mart_chorister_song", "bad_cells", "etl_log",
]
STORES = [
    "presence_store", "cc_store", "qsketch_store", "upsert_store",
    "cms_store", "rollup_store", "decayed_store", "fuzzy_probe_store",
    "card_store", "hll_store",
]
SPARK_METRICS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("input_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("slot_idle_frac", "fraction"),
]
PER_LAYER = (
    [("sources.read_raw_s", "s"), ("sources.write_s", "s")]
    + [(f"sources.write.{t}_s", "s") for t in OUTPUT_TABLES]
    + [("sources.write_rows", "count"), ("sources.write_bytes", "bytes")]
    + [
        ("plans.pipeline.self_s", "s"), ("plans.pipeline.self_jobs", "count"),
        ("plans.pipeline.alerts_s", "s"), ("plans.pipeline.build_marts_s", "s"),
        ("plans.queries.plan_s", "s"), ("plans.queries.plan_jobs", "count"),
        ("plans.queries.T_calls", "count"), ("plans.queries.T_s", "s"),
        ("plans.queries.exec_s", "s"),
        ("plans.queries.sql_s", "s"), ("plans.queries.store_s", "s"),
        ("artifacts.calls", "count"), ("artifacts.builds", "count"),
        ("artifacts.hit_ratio", "fraction"),
        ("artifacts.build_s", "s"),
        ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
        ("streaming.trigger_overhead_s", "s"),
    ]
    + [(f"streaming.{s}_build_s", "s") for s in STORES]
    + [("caching.staged", "count"), ("caching.release_s", "s")]
    + [(f"spark.{n}", u) for n, u in SPARK_METRICS]
    + [("trace.overhead_frac", "fraction"), ("trace.unattributed_frac", "fraction")]
    + [("pass_s", "s")]
)


def _env(work: str) -> None:
    """Spark and temp settings: every file the run writes stays under
    ``work``; Python workers can import the program."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(work, "artifacts")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM: no perf-data file in the system tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]


def _session(work: str):
    from ursa_major_choir_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job and stage of a pass
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}"
            ),
        },
    )


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def classify_main(work: str) -> int:
    """Child-process entry: build the cached query classification in a
    JVM of its own, so the measured process starts cold."""
    import workloads

    spark = _session(work)
    try:
        workloads.classify_all(spark, ROOT, work)
    finally:
        _stop_jvm(spark)
    return 0


def _members(work: str) -> dict:
    """The query classification, built on first use in a checkout (a
    build step, excluded from set-up time) and cached after."""
    import workloads

    path = workloads.membership_path(ROOT)
    if not os.path.exists(path):
        cwork = os.path.join(work, "classify")
        os.makedirs(cwork, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--classify", cwork],
            check=True, stdout=sys.stderr,
        )
    with open(path) as f:
        return json.load(f)


def _layer_metrics(tracer, ledger, listener, pass_, cores) -> dict:
    """Per-layer metrics of the pass, from its spans, the status store's
    jobs and stages, and the streaming listener's batches."""
    import spans

    spans_ = tracer.spans
    P = spans_[pass_["span"]]
    inner = [
        s for s in spans_
        if s is not P and P["start"] <= s["start"] and s["end"] <= P["end"]
    ]

    def dur(pred):
        return sum(s["end"] - s["start"] for s in inner if pred(s["name"]))

    def count(pred):
        return sum(1 for s in inner if pred(s["name"]))

    def engine(pred, key):
        return sum(
            ledger.totals(s["start"], s["end"])[key] for s in inner if pred(s["name"])
        )

    m = {}
    m["sources.read_raw_s"] = dur(lambda n: n == "sources.read_raw")
    is_write = lambda n: n.startswith("sources.write.")  # noqa: E731
    m["sources.write_s"] = dur(is_write)
    for t in OUTPUT_TABLES:
        m[f"sources.write.{t}_s"] = dur(lambda n, t=t: n == f"sources.write.{t}")
    m["sources.write_rows"] = engine(is_write, "output_rows")
    m["sources.write_bytes"] = engine(is_write, "output_bytes")

    self_s = self_jobs = 0.0
    for i, R in enumerate(spans_):
        if R["name"] == "plans.pipeline.run_pipeline" and R in inner:
            kids = tracer.children(i)
            self_s += (R["end"] - R["start"]) - sum(k["end"] - k["start"] for k in kids)
            self_jobs += ledger.totals(R["start"], R["end"])["jobs"] - sum(
                ledger.totals(k["start"], k["end"])["jobs"] for k in kids
            )
    m["plans.pipeline.self_s"] = self_s
    m["plans.pipeline.self_jobs"] = self_jobs
    m["plans.pipeline.alerts_s"] = dur(lambda n: n == "plans.pipeline.alerts")
    m["plans.pipeline.build_marts_s"] = dur(lambda n: n == "plans.pipeline.build_marts")

    m["plans.queries.plan_s"] = dur(lambda n: n == "plans.queries.plan")
    m["plans.queries.plan_jobs"] = engine(lambda n: n == "plans.queries.plan", "jobs")
    m["plans.queries.T_calls"] = count(lambda n: n == "plans.queries.T")
    m["plans.queries.T_s"] = dur(lambda n: n == "plans.queries.T")
    m["plans.queries.exec_s"] = dur(lambda n: n == "plans.queries.exec")
    for c in ("sql", "store"):
        m[f"plans.queries.{c}_s"] = sum(
            s["end"] - s["start"] for s in inner if s["name"] == "query" and s["cls"] == c
        )

    calls = count(lambda n: n.startswith("artifacts.materialize_once:"))
    builds = count(lambda n: n.startswith("artifacts.build:"))
    m["artifacts.calls"] = calls
    m["artifacts.builds"] = builds
    m["artifacts.hit_ratio"] = 1.0 - builds / calls if calls else 0.0
    m["artifacts.build_s"] = dur(lambda n: n.startswith("artifacts.build:"))

    batches = [b for b in listener.snapshot() if P["start"] <= b["t"] <= P["end"] + 1.0]
    m["streaming.batches"] = len(batches)
    m["streaming.add_batch_s"] = sum(b["add_batch_ms"] for b in batches) / 1000.0
    m["streaming.trigger_overhead_s"] = (
        sum(b["trigger_ms"] - b["add_batch_ms"] for b in batches) / 1000.0
    )
    for st in STORES:
        m[f"streaming.{st}_build_s"] = dur(lambda n, st=st: n == f"artifacts.build:{st}")

    m["caching.staged"] = pass_["staged"]
    m["caching.release_s"] = dur(lambda n: n == "caching.release")

    wall = P["end"] - P["start"]
    for k, v in spans.engine_metrics(
        ledger.totals(P["start"], P["end"]), wall, cores
    ).items():
        m[f"spark.{k}"] = v

    # the pass's direct children (plus run_pipeline's self time, which
    # is inside its span) must cover the pass
    top = sum(s["end"] - s["start"] for s in inner if s["parent"] == pass_["span"])
    m["trace.unattributed_frac"] = max(0.0, wall - top) / wall
    m["trace.overhead_frac"] = tracer.overhead_s / pass_["wall"]
    m["pass_s"] = pass_["wall"]
    return m


def bench(args, work: str) -> dict:
    import spans
    import workloads

    tracer = spans.Tracer(bool(args.trace), f"{args.workload}:{args.seed}:{os.getpid()}")
    t_build = time.time()
    members = _members(work) if args.workload == "query_mix" else None
    t_build = time.time() - t_build
    # sampled from here on, when the classification build's processes
    # have ended, to the end of the pass
    rss = spans.RssSampler().start()

    cls = workloads.WORKLOADS[args.workload]
    spark = None
    try:
        # Set-up runs once, from process start (less the classification
        # build when this run had to make it) to the first pass: the
        # JVM and session start and the seeded inputs. Repeating only
        # the session restart, without the JVM start, measured 0.1-0.9 s
        # with an IQR of 0.9 times its median; repeating the JVM start
        # would add about 10 s per set-up to every run.
        spark = _session(work)
        wl = cls(args.seed, work, tracer, members) if members else cls(args.seed, work, tracer)
        print(json.dumps({"workload": wl.name, "seed": args.seed, **wl.describe()}))
        wl.prepare(spark)
        setup_s = time.time() - T_START - t_build

        ledger = listener = None
        if tracer.enabled:
            ledger = spans.EngineLedger(spark)
            listener = spans.make_stream_listener()
            spark.streams.addListener(listener)

        # One cold pass in a fresh process, as a cron run pays it.
        with tracer.span("pass"):
            span_idx = len(tracer.spans) - 1
            cpu0, t0 = spans.tree_cpu_s(os.getpid()), time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):
                wl.run_pass(spark)
            pass_ = {
                "wall": time.perf_counter() - t0,
                "cpu": spans.tree_cpu_s(os.getpid()) - cpu0,
                "span": span_idx,
                "staged": getattr(wl, "staged", 0),
            }
        rss.stop()
        if ledger is not None:
            ledger.poll()

        with contextlib.redirect_stdout(sys.stderr):
            wl.check(spark)

        if tracer.enabled:
            time.sleep(0.5)  # let the listener drain its last events
            metrics = _layer_metrics(
                tracer, ledger, listener, pass_, int(os.environ["SPARK_GRAFT_CPUS"])
            )
            if args.spans:
                tracer.dump(args.spans)
            units = dict(PER_LAYER)
        else:
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": pass_["wall"],
                "pass_cpu_s": pass_["cpu"],
                "peak_rss_mb": rss.peak_mb,
            }
            units = dict(END_TO_END)
    finally:
        if spark is not None:
            _stop_jvm(spark)

    for f in wl.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    failed = len(wl.failures)
    attempted = max(wl.attempted, 1)
    print(
        f"checks: attempted={attempted} failed={failed} "
        f"failed_frac={failed / attempted:.4f} "
        f"pass_wall_s={pass_['wall']:.3f} "
        f"setup_s={setup_s:.3f}"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0, help="accepted, ignored")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans", metavar="PATH", help="write the traced spans as JSON")
    ap.add_argument("--classify", metavar="WORKDIR", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(
            f"error: {PACKAGE}/ not found next to perfbench/; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    if args.classify:
        _env(args.classify)
        return classify_main(args.classify)

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"error: unknown workload {args.workload!r}; choose from "
            f"{sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _env(work)
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
