"""The benchmark's workloads.

Each workload has three steps: ``prepare`` writes the seeded inputs
(part of set-up), ``run_pass`` is one timed pass, and ``check``
verifies the outputs outside the timed pass. Operations attempted
are counted in ``attempted``; failures (exceptions, failed audits,
output mismatches) are appended to ``failures``.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import sheetgen
import spans

PACKAGE = spans.PACKAGE


def _pkg():
    """The program modules the workloads call (imported after the
    runner has put the repository root on sys.path)."""
    from ursa_major_choir_etl_spark import artifacts, caching
    from ursa_major_choir_etl_spark.plans import pipeline, queries
    from ursa_major_choir_etl_spark.sources import io

    return artifacts, caching, pipeline, queries, io


class ChoirPipeline:
    """The paper's cron job over a seeded wide sheet (its CSV export):
    ``run_pipeline`` with dry-run alerts into a fresh warehouse. It
    writes every table: dims, facts, marts, the bad cells and the audit
    log.

    The sheet goes in as CSV, not as the saved ``values.get`` JSON
    payload: on a 4-vCPU machine the JSON path's Python data source
    adds about 20 s of Python-worker start-up to a cold run (43-47 s
    instead of 63 s per pass), and a benchmark run must stay short."""

    name = "choir_pipeline"

    def __init__(self, seed: int, work: str, tracer: spans.Tracer):
        self.work = work
        self.tracer = tracer
        self.values, self.expected = sheetgen.generate(seed)
        self.sheet = os.path.join(work, "sheet.csv")
        self.failures: list[str] = []
        self.attempted = 0
        self.messages: list[str] = []
        self.audit: dict = {}
        _, _, pipeline, _, io = _pkg()
        self._pipeline = pipeline

        def capture_message(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                msg = orig(*args, **kwargs)
                self.messages.append(msg)
                return msg

            return wrapper

        spans.patch(pipeline, "format_alert_message", capture_message)
        tracer.wrap(io, "read_wide_sheet_csv", "sources.read_raw")
        table = lambda a, k: f"sources.write.{a[2] if len(a) > 2 else k['name']}"
        tracer.wrap(io, "overwrite_parquet", table)
        tracer.wrap(io, "append_parquet", table)
        tracer.wrap(pipeline, "run_pipeline", "plans.pipeline.run_pipeline")
        tracer.wrap(pipeline, "build_marts", "plans.pipeline.build_marts")
        tracer.wrap(pipeline, "_run_alerts", "plans.pipeline.alerts")

    def describe(self) -> dict:
        return {
            "sheet_rows": len(self.values) - 1,
            "sheet_dates": len(self.values[0]) - 4,
            "expected_audit": self.expected,
        }

    def prepare(self, spark) -> None:
        sheetgen.write_csv(self.values, self.sheet)

    def run_pass(self, spark) -> None:
        """One cron run: ``run_pipeline`` with dry-run alerts into a
        fresh warehouse."""
        self.wh = os.path.join(self.work, "wh")
        self.attempted += 1
        try:
            self.audit = self._pipeline.run_pipeline(
                spark, self.sheet, self.wh, alerts_enabled=True, alerts_dry_run=True
            )
        except Exception as exc:  # noqa: BLE001 — counted, not fatal
            self.audit = {"status": "failed", "error_message": repr(exc)}

    def check(self, spark) -> None:
        """The audit row says success with the predicted counts, the
        warehouse tables hold those counts when read back by DuckDB, and
        the pass's alert message equals one formatted again from the
        warehouse it wrote."""
        import duckdb

        wh, audit = self.wh, self.audit
        self.attempted += 1
        if audit.get("status") != "success":
            self.failures.append(
                f"audit status {audit.get('status')}: "
                f"{audit.get('error_message', '')[:300]}"
            )
            return
        got = {k: audit.get(k) for k in self.expected}
        if got != self.expected:
            self.failures.append(f"audit {got} != predicted {self.expected}")
        on_disk = {
            k: duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{wh}/{k[5:]}/**/*.parquet')"
            ).fetchone()[0]
            for k in self.expected
        }
        if on_disk != self.expected:
            self.failures.append(f"tables {on_disk} != predicted {self.expected}")

        self.attempted += 1
        if len(self.messages) != 1 or not self.messages[0]:
            self.failures.append(f"the pass formatted {len(self.messages)} alert messages")
            return
        again = self._pipeline._run_alerts(
            spark, wh, dry_run=True, lookback_weeks=12, streak_threshold=3,
            telegram_token="", telegram_chat_id="",
        )
        if again != self.messages[0]:
            self.failures.append("alert message differs from one formatted again")


def _store_artifact(name: str) -> bool:
    return name.endswith("_store")


def classify(tables: list[str]) -> str:
    """Input class of a query from the inputs it reads: ``store`` if it
    reads a drained streaming store, ``artifact`` if it reads any other
    materialized artifact, ``text`` if it reads documents or
    embeddings, else ``sql`` (only the TPC-H-ish tables and/or events)."""
    arts = [t.split(":", 1)[1] for t in tables if t.startswith("artifact:")]
    if any(_store_artifact(a) for a in arts):
        return "store"
    if arts:
        return "artifact"
    if "documents" in tables or "embeddings" in tables:
        return "text"
    return "sql"


CLASSIFY_THREADS = 4


class _Stop(BaseException):
    """Ends a query's plan construction at its first artifact."""


def _source_fingerprint(root: str) -> str:
    h = hashlib.md5()
    pkg = os.path.join(root, PACKAGE)
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def membership_path(root: str) -> str:
    """Where the classification of the program at ``root`` is cached:
    it depends only on the program source."""
    return os.path.join(
        root, ".bench_build", f"membership-{_source_fingerprint(root)}.json"
    )


def classify_all(spark, root: str, work: str) -> None:
    """Record the tables each registry query reads, by a classification
    pass that wraps ``plans.queries.T`` and ``artifacts.materialize_once``
    while constructing (not executing) every query over tiny seeded
    inputs, and write them to :func:`membership_path`. An artifact
    request ends the query's construction before anything is built."""
    artifacts, caching, _, queries, _ = _pkg()
    tiny = os.path.join(work, "classify-data")
    datagen.write(0, 0.0002, tiny, floor=30)
    orig_t, orig_mo = queries.T, artifacts.materialize_once
    frames = {name: orig_t(spark, tiny, name) for name in datagen.TABLES}
    local = threading.local()

    def rec_t(spark_, sf_dir, name):
        local.seen.append(name)
        return frames[name]

    def rec_mo(spark_, name, *args, **kwargs):
        local.seen.append(f"artifact:{name}")
        raise _Stop()

    def classify_one(item):
        qname, fn = item
        local.seen = []
        try:
            fn(spark, tiny)
        except _Stop:
            pass
        except Exception:  # noqa: BLE001 — the tables seen so far count
            pass
        return qname, sorted(set(local.seen))

    queries.T, artifacts.materialize_once = rec_t, rec_mo
    try:
        # Constructions are independent; threads overlap their Spark
        # jobs and plan analysis, which run in the JVM.
        with contextlib.redirect_stdout(sys.stderr), ThreadPoolExecutor(
            CLASSIFY_THREADS
        ) as pool:
            out = dict(pool.map(classify_one, queries.QUERIES.items()))
    finally:
        queries.T, artifacts.materialize_once = orig_t, orig_mo
        caching.release_staged()
        spark.catalog.clearCache()
    path = membership_path(root)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    os.replace(tmp, path)


def _qnum(name: str) -> int:
    return int(name[1 : name.index("_")])


class QueryMix:
    """A fixed panel of registry queries over seeded tables at ``SF``,
    run in a seeded order, each written to the ``noop`` sink. Artifacts
    live in a fresh root per invocation, so the pass drains the
    streaming store its store query reads."""

    name = "query_mix"
    SF = 0.01
    # A cold run of one query costs 10-30 s on a 4-vCPU machine, so the
    # panel holds one query with no artifact and one that drains a
    # store, each with its expected input class (see :func:`classify`).
    # The "text" and "artifact" classes are listed in the membership but
    # not run. A panel query found in another class counts as a failure.
    PANEL = {
        "q01_pricing_summary": "sql",
        "q283_streaming_presence_store": "store",
    }

    def __init__(self, seed: int, work: str, tracer: spans.Tracer, members: dict):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.data = os.path.join(work, "data")
        self.classes: dict[str, list[str]] = {}
        for q, tables in members.items():
            self.classes.setdefault(classify(tables), []).append(q)
        self.order = list(self.PANEL)
        random.Random(seed).shuffle(self.order)
        self.failures: list[str] = []
        self.attempted = 0
        for q, c in self.PANEL.items():
            self.attempted += 1
            got = classify(members[q]) if q in members else "missing"
            if got != c:
                self.failures.append(f"{q}: input class {got}, expected {c}")
        artifacts, caching, _, queries, _ = _pkg()
        self._queries, self._caching = queries, caching
        tracer.wrap(queries, "T", "plans.queries.T")
        tracer.wrap(
            artifacts, "materialize_once",
            lambda a, k: f"artifacts.materialize_once:{a[1]}",
        )
        tracer.wrap(caching, "release_staged", "caching.release")
        self.staged = 0

        def count_stage(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                self.staged += 1
                return orig(*args, **kwargs)

            return wrapper

        def span_builds(orig):
            # a build is the builder call inside materialize_once
            @functools.wraps(orig)
            def wrapper(spark_, name, scope, version, inputs, builder):
                def build():
                    with tracer.span(f"artifacts.build:{name}"):
                        return builder()

                return orig(spark_, name, scope, version, inputs, build)

            return wrapper

        if tracer.enabled:
            spans.patch(caching, "stage", count_stage)
            spans.patch(artifacts, "materialize_once", span_builds)

    def describe(self) -> dict:
        return {
            "sf": self.SF,
            "membership": {c: sorted(v, key=_qnum) for c, v in self.classes.items()},
            "panel": self.PANEL,
            "order": self.order,
        }

    def prepare(self, spark) -> None:
        datagen.write(self.seed, self.SF, self.data)

    def run_pass(self, spark) -> None:
        for q in self.order:
            self.attempted += 1
            with self.tracer.span("query", query=q, cls=self.PANEL[q]):
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("plans.queries.plan"):
                        df = self._queries.QUERIES[q](spark, self.data)
                    with self.tracer.span("plans.queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    print(f"{q} {time.perf_counter() - t0:.3f}s", file=sys.stderr)
                except Exception as exc:  # noqa: BLE001 — counted, not fatal
                    self.failures.append(f"{q} raised {exc!r}"[:400])
                self._caching.release_staged()
                spark.catalog.clearCache()

    def check(self, spark) -> None:
        """Each panel query's rows hash equal to its DuckDB oracle's,
        canonicalised as tools/check_oracles.py does."""
        import duckdb

        from tools.check_oracles import canon_rows

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data, t)}.parquet'"
            )
        for q in self.PANEL:
            self.attempted += 1
            sql = self._queries.ORACLES.get(q)
            try:
                df = self._queries.QUERIES[q](spark, self.data)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                self._caching.release_staged()
                spark.catalog.clearCache()
                if sql is None:
                    if not rows:
                        self.failures.append(f"{q}: rows-only query returned 0 rows")
                    continue
                res = con.execute(sql)
                dcols = [d[0] for d in res.description]
                drows = [
                    tuple(r[c] for c in dcols)
                    for r in res.fetch_arrow_table().to_pylist()
                ]
            except Exception as exc:  # noqa: BLE001
                self.failures.append(f"check {q} raised {exc!r}"[:400])
                continue
            if sorted(cols) != sorted(dcols):
                self.failures.append(f"{q}: columns {sorted(cols)} != oracle {sorted(dcols)}")
            elif canon_rows(cols, rows) != canon_rows(dcols, drows):
                self.failures.append(
                    f"{q}: {len(rows)} rows differ from the oracle's {len(drows)}"
                )


WORKLOADS = {ChoirPipeline.name: ChoirPipeline, QueryMix.name: QueryMix}
