"""The benchmark workloads. Each is a closed loop with one client: the
next operation starts only after the previous one has finished.

A workload runs in passes. ``run_pass`` times each operation and keeps
what it returned; ``verify`` checks those outputs after timing, so the
checks cost no operation any latency.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import numpy as np

from perfbench import datagen

RUN_TIMESTAMP = "2024-01-01T00:00:00"


@dataclass
class Op:
    """One timed operation and what is needed to check its output."""
    name: str
    seconds: float
    items: int
    ok: bool = True
    error: str = ""
    output: object = None


@dataclass
class Context:
    spark: object
    tracer: object
    workdir: str
    seed: int


class _Collected:
    """A result already collected to pandas, in the shape
    ``testing.compare_with_oracle`` reads: ``toPandas`` plus the source
    frame's ``_jdf`` for releasing its persisted barriers."""

    def __init__(self, pdf, source=None) -> None:
        self._pdf = pdf
        if source is not None:
            self._jdf = source._jdf

    def toPandas(self):
        return self._pdf


# --- etl_products ---------------------------------------------------------


class EtlProducts:
    """The reference dataflow: scrape ingest -> transform -> CSV sink,
    one ``run_pipeline`` per operation (and per pass) into a fresh output
    directory."""

    def __init__(self, ctx: Context, pages: int, cards_per_page: int) -> None:
        self.ctx = ctx
        self.pages_dir = os.path.join(ctx.workdir, "pages")
        self.expected = sorted(datagen.write_catalogue_pages(
            self.pages_dir, ctx.seed, pages, cards_per_page, RUN_TIMESTAMP))
        self.cards = pages * cards_per_page
        # partitions of one full scan of the pages: the parse tasks a
        # pipeline run needs at least
        self.input_partitions = ctx.spark.read.text(self.pages_dir, wholetext=True).rdd.getNumPartitions()
        self._n = 0

    def run_pass(self, layered: bool = False) -> list[Op]:
        return [self._run(layered)]

    def _run(self, layered: bool) -> Op:
        from simple_etl_pipeline_spark.pipeline import run_pipeline

        self._n += 1
        out = os.path.join(self.ctx.workdir, "out", f"run{self._n:05d}")
        tr = self.ctx.tracer
        with tr.span("pipeline" if layered else "op", kind="etl"), \
                (_layer_spans(tr) if layered else nullcontext()):
            t0 = time.perf_counter()
            try:
                ok, error = run_pipeline(self.ctx.spark, self.pages_dir, out,
                                         run_timestamp=RUN_TIMESTAMP, preview=False), ""
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                ok, error = False, f"{type(exc).__name__}: {exc}"[:300]
            seconds = time.perf_counter() - t0
        return Op("run_pipeline", seconds, self.cards, ok, error or ("" if ok else "returned False"),
                  os.path.join(out, "products.csv"))

    def verify(self, ops: list[Op], expected=None) -> None:
        """Each written CSV must hold exactly the generator's clean rows."""
        expected = self.expected if expected is None else expected
        for op in ops:
            if not op.ok:
                continue
            try:
                with open(op.output, newline="", encoding="utf-8") as f:
                    rows = list(csv.DictReader(f))
                got = sorted((r["title"], float(r["price"]), float(r["rating"]), int(r["colors"]),
                              r["size"], r["gender"], r["timestamp"]) for r in rows)
            except (OSError, KeyError, ValueError) as exc:
                op.ok, op.error = False, f"unreadable CSV: {exc}"
                continue
            if got != expected:
                bad = next((i for i, (g, e) in enumerate(zip(got, expected)) if g != e), None)
                op.ok, op.error = False, (
                    f"CSV rows {len(got)} vs expected {len(expected)}; first diff at {bad}")
            shutil.rmtree(os.path.dirname(op.output), ignore_errors=True)


@contextmanager
def _layer_spans(tracer):
    """Wrap the pipeline's three layer calls in spans and materialise each
    layer's output in turn (ingest, then transform over the cached ingest
    output, then sink), so each span holds that layer's own work."""
    import simple_etl_pipeline_spark.pipeline as pipeline

    ingest, transform, load = pipeline.ingest_html_files, pipeline.transform_data, pipeline.load_data
    cached = []
    raw_rows = {}

    def traced_ingest(spark, path, run_timestamp=RUN_TIMESTAMP):
        with tracer.span("sources") as s:
            raw = ingest(spark, path, run_timestamp=run_timestamp).persist()
            cached.append(raw)
            s.attrs["rows_out"] = raw_rows["n"] = raw.count()
        return raw

    def traced_transform(raw):
        with tracer.span("operators") as s:
            clean = transform(raw).persist()
            cached.append(clean)
            s.attrs["rows_in"] = raw_rows["n"]
            s.attrs["rows_out"] = clean.count()
        return clean

    def traced_load(df, **kwargs):
        with tracer.span("sinks"):
            return load(df, **kwargs)

    pipeline.ingest_html_files = traced_ingest
    pipeline.transform_data = traced_transform
    pipeline.load_data = traced_load
    try:
        yield
    finally:
        pipeline.ingest_html_files, pipeline.transform_data, pipeline.load_data = ingest, transform, load
        for df in cached:
            df.unpersist()


# --- analytics_mix --------------------------------------------------------

# Relational and event analytics, warm: joins, aggregations, windows and
# parquet scans (plans.relational, plans.events).
OLAP_QUERIES = ("q3_shipping_priority", "ev_session_windows")
# LLM-corpus operators: explode, array and hash work and persisted shared
# stages (plans.text, plans.similarity, plans.multimodal). Every pass
# starts with clearCache(), so shared stages are built once per pass.
CORPUS_QUERIES = ("dedup_exact", "sim_knn_brute", "mm_binary_meta")
# File-source replay, one micro-batch per staged file (streaming): the
# session-window twin of ev_session_windows, which shares its window code.
REPLAY = "st_session_windows"


def _query_registry() -> tuple[dict, dict]:
    """``queries()``/``oracle_sql()``, plus the demoted batch session
    query whose streaming twin the replay runs."""
    import __spark_entry__ as entry
    from simple_etl_pipeline_spark.testing import demoted_queries

    queries, oracles = dict(entry.queries()), dict(entry.oracle_sql())
    for name, (fn, sql) in demoted_queries().items():
        if name in OLAP_QUERIES + CORPUS_QUERIES:
            queries.setdefault(name, fn)
            oracles.setdefault(name, sql)
    return queries, oracles


class AnalyticsMix:
    """One pass runs every query and the stream replay once, in a seeded order."""

    def __init__(self, ctx: Context, sf: float) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.workdir, "tables")
        datagen.write_tables(self.sf_dir, ctx.seed, sf)
        self.stream_root = datagen.stage_event_stream(self.sf_dir, os.path.join(ctx.workdir, "stream"))
        self.queries, self.oracles = _query_registry()
        self.names = list(OLAP_QUERIES + CORPUS_QUERIES + (REPLAY,))
        self.rng = np.random.default_rng(ctx.seed)
        self.progress: list[dict] = []  # one entry per replay
        self._n = 0

    def run_pass(self, layered: bool = False) -> list[Op]:
        self.ctx.spark.catalog.clearCache()
        ops: list[Op] = []
        for i in self.rng.permutation(len(self.names)):
            name = self.names[i]
            ops.extend(self._replay() if name == REPLAY else [self._query(name)])
        return ops

    def _query(self, name: str) -> Op:
        from simple_etl_pipeline_spark.plans.relational import release_barriers_for

        fn = self.queries[name]
        tr = self.ctx.tracer
        family = "plans." + fn.__module__.rsplit(".", 1)[-1]
        with tr.span(family, query=name):
            t0 = time.perf_counter()
            try:
                with tr.span("build"):
                    df = fn(self.ctx.spark, self.sf_dir)
                with tr.span("exec"):
                    pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                return Op(name, time.perf_counter() - t0, 1, False, f"{type(exc).__name__}: {exc}"[:300])
            seconds = time.perf_counter() - t0
        release_barriers_for(df)
        return Op(name, seconds, 1, output=_Collected(pdf, df))

    def _replay(self) -> list[Op]:
        from pyspark.sql import functions as F

        from simple_etl_pipeline_spark.streaming.events import read_events_stream, session_windows_stream

        spark = self.ctx.spark
        self._n += 1
        sink = f"bench_replay_{self._n}"
        checkpoint = os.path.join(self.ctx.workdir, "checkpoints", sink)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("streaming", query=REPLAY) as span:
            try:
                result = session_windows_stream(read_events_stream(spark, self.stream_root))
                q = (result.writeStream.format("memory").queryName(sink)
                     .option("checkpointLocation", checkpoint).outputMode("append")
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                progress = [json.loads(p.json) for p in q.recentProgress]
                # the sentinel row has negative ids
                pdf = spark.table(sink).filter(F.col("user_id") >= 0).toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                return [Op(REPLAY, time.perf_counter() - t0, 1, False, f"{type(exc).__name__}: {exc}"[:300])]
            finally:
                spark.catalog.dropTempView(sink)
                shutil.rmtree(checkpoint, ignore_errors=True)
            if span is not None:
                span.attrs["stream_run_id"] = str(q.runId)
        self.progress.append({"query": REPLAY, "phase": self.ctx.tracer.phase, "batches": progress})
        # Every micro-batch is an operation; they share the replay's one
        # output, so an oracle mismatch fails all of them.
        out = _Collected(pdf)
        return [Op(REPLAY, p["durationMs"].get("triggerExecution", 0) / 1000, 1, output=out)
                for p in progress]

    def verify(self, ops: list[Op], oracles: dict | None = None) -> None:
        """Compare every output with its DuckDB oracle. An output equal to
        one of the same query that already agreed with the oracle agrees
        too, so it is not compared again."""
        from simple_etl_pipeline_spark.testing import compare_with_oracle

        oracles = self.oracles if oracles is None else oracles
        errors: dict[int, str] = {}
        agreed: dict[str, list] = {}  # query -> outputs that agreed with its oracle
        for op in ops:
            out = op.output
            if not op.ok or out is None or id(out) in errors:
                continue
            pdf = out.toPandas()
            if any(pdf.equals(good) for good in agreed.get(op.name, [])):
                errors[id(out)] = ""
                continue
            try:
                compare_with_oracle(out, oracles[op.name], self.sf_dir)
                errors[id(out)] = ""
                agreed.setdefault(op.name, []).append(pdf)
            except AssertionError as exc:
                errors[id(out)] = f"oracle mismatch: {exc}"[:300]
        for op in ops:
            if op.output is not None and errors.get(id(op.output)):
                op.ok, op.error = False, errors[id(op.output)]
            op.output = None
