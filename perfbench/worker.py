"""Persistent Spark worker for the benchmark.

One worker process serves one benchmark run, so the JVM and its JIT stay warm
across operations. It reads one JSON request per line on stdin and answers
each with one line `PBRESULT <json>` on its original stdout; everything else
the process (or the JVM it launches) prints goes to stderr, which the
benchmark sends to a log file.

Each job operation creates the Spark session the way spark-submit would (the
master, driver heap and --py-files come from PYSPARK_SUBMIT_ARGS; event-log
settings from the request), then calls the shipped entry point
`jobs/extract_job.py:main(argv)`, which takes that session with getOrCreate
and stops it on return.

Run by the benchmark, not by hand: python3 perfbench/worker.py
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
for p in (ROOT / "jobs", ROOT):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))


def _session(conf: dict[str, str], app: str):
    from pyspark.sql import SparkSession

    spec = SparkSession.builder.appName(app)
    for k, v in conf.items():
        spec = spec.config(k, v)
    return spec.getOrCreate()


class _ResultCapture(io.StringIO):
    """Captures main()'s stdout and notes when its result line is written:
    main prints the run's metrics once the output is complete, then stops
    the session. The stop waits for the accumulator server's next 0.5 s
    poll, which would quantize every timing, so it is timed apart."""

    result_at: float | None = None
    result_epoch: float | None = None

    def write(self, s: str) -> int:
        if self.result_at is None and s.startswith("{"):
            self.result_at, self.result_epoch = time.perf_counter(), time.time()
        return super().write(s)


def _run_job(argv: list[str]) -> tuple[dict, _ResultCapture]:
    """main's result line, and the capture that timed it"""
    import extract_job

    buf = _ResultCapture()
    with contextlib.redirect_stdout(buf):
        rc = extract_job.main(argv)
    if rc != 0 or buf.result_at is None:
        raise RuntimeError(f"extract_job.main returned {rc} without a result line")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]), buf


class _Progress:
    """Collects StreamingQueryProgress JSON from a listener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def op_job(req: dict) -> dict:
    """One call of the shipped job (batch, or --incremental when
    req["incremental"]). wall_s runs from session creation to main's result
    line; stop_s from there to main's return."""
    t0 = time.perf_counter()
    spark = _session(req.get("conf", {}), req.get("app", "perfbench"))
    progress = None
    if req.get("incremental"):
        progress = _Progress()
        spark.streams.addListener(progress.listener)
    result, capture = _run_job(req["argv"])
    t1 = time.perf_counter()
    # the SQL settings main() applied to the session (readable after stop)
    sql_conf = {k: v for k, v in spark.conf.getAll.items()
                if k.startswith("spark.sql.")}
    out = {"wall_s": capture.result_at - t0, "stop_s": t1 - capture.result_at,
           "result_epoch": capture.result_epoch, "result": result,
           "sql_conf": sql_conf}
    if progress is not None:
        out["progress"] = progress.events
    return out


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def op_layers_batch(req: dict) -> dict:
    """Materialize the batch pipeline after each public call, recomputed
    in full each time (caches cleared), so self time = prefix difference. The calls
    and their arguments are those of plans/pipeline.run_extraction_job."""
    from pyspark.sql import functions as F

    from index_search_monorepo_spark.functions.marc import extract_allfields
    from index_search_monorepo_spark.operators.assemble import (
        assemble_full_text_documents,
    )
    from index_search_monorepo_spark.operators.catalog import catalog_item_metadata
    from index_search_monorepo_spark.operators.enrichment import with_mysql_fields
    from index_search_monorepo_spark.operators.errors import split_errors
    from index_search_monorepo_spark.operators.extraction import (
        with_mets_fields,
        with_ocr_skew_aware,
    )
    from index_search_monorepo_spark.operators.skew import (
        salted_repartition,
        spread_small_scan,
    )
    from index_search_monorepo_spark.plans.pipeline import load_corpus

    spark = _session(req.get("conf", {}), "perfbench_layers")
    timings: list[list] = []

    def mark(name: str, df) -> None:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"perfbench:{name}")
        timings.append([name, _noop(df)])

    try:
        tables = load_corpus(spark, req["corpus"])
        spans = tables["documents_spans"].unionByName(tables["documents_spans_bad"])
        mark("sources", spans)
        clean, errors = split_errors(spans)
        mark("errors", clean)
        spread = salted_repartition(clean, skip_if_scan_parallel=True)
        fired = spread is not clean
        mark("skew", spread)
        docs = with_ocr_skew_aware(spread, page_threshold=req["page_threshold"])
        docs = docs.withColumn("span_count", F.size("spans")).drop("spans")
        mark("ocr", docs)
        docs = with_mysql_fields(
            docs, tables["rights_current"], tables["holdings_htitem_htmember"],
            tables["mb_coll_item"], tables["mb_collection"],
        )
        mark("enrichment", docs)
        mark("catalog_scan", tables["catalog"])
        catalog = spread_small_scan(tables["catalog"], key=None).withColumn(
            "allfields", extract_allfields(F.col("fullrecord"))
        )
        mark("marc", catalog)
        items = catalog_item_metadata(catalog, extra_passthrough=("allfields",))
        mark("catalog", items)
        mets = with_mets_fields(tables["mets_meta"])
        mark("mets", mets)
        assembled = assemble_full_text_documents(
            docs, items.drop("fullrecord"), mets, extra_cols=("span_count",)
        )
        mark("assemble", assembled)
    finally:
        spark.catalog.clearCache()
        spark.stop()
    return {"timings": timings, "skew_fired": fired}


def op_layers_stream(req: dict) -> dict:
    """Prefix materializations of the incremental sink's per-batch work
    (split_errors, with_extracted_spans) over the landed files as one batch
    frame."""
    from index_search_monorepo_spark.operators.errors import split_errors
    from index_search_monorepo_spark.operators.extraction import with_extracted_spans
    from index_search_monorepo_spark.streaming.incremental import SPANS_SCHEMA

    spark = _session(req.get("conf", {}), "perfbench_layers")
    timings: list[list] = []
    try:
        spans = spark.read.schema(SPANS_SCHEMA).parquet(req["landing"])
        timings.append(["sources", _noop(spans)])
        clean, _errors = split_errors(spans)
        timings.append(["errors", _noop(clean)])
        out = with_extracted_spans(clean).select("doc_id", "extracted_spans")
        timings.append(["spans", _noop(out)])
    finally:
        spark.stop()
    return {"timings": timings}


def op_bench_plan(req: dict) -> dict:
    """bench.py's extraction plan: extract_documents with bench's
    doc_meta_join and bench's session settings, materialized to noop."""
    import bench

    from index_search_monorepo_spark.plans.pipeline import (
        extract_documents,
        load_corpus,
    )

    spark = _session(req.get("conf", {}), "perfbench_bench_plan")
    try:
        tables = load_corpus(spark, req["corpus"])
        docs, _errors = extract_documents(
            spark, tables, doc_meta_join=bench.DOC_META_JOIN or None
        )
        wall = _noop(docs)
    finally:
        spark.catalog.clearCache()
        spark.stop()
    return {"wall_s": wall, "doc_meta_join": bench.DOC_META_JOIN}


OPS = {
    "job": op_job,
    "layers_batch": op_layers_batch,
    "layers_stream": op_layers_stream,
    "bench_plan": op_bench_plan,
}


def main() -> int:
    reply = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # the JVM and stray prints inherit stderr, not the reply pipe
    sys.stdout = sys.stderr
    for line in sys.stdin:
        req = json.loads(line)
        if req["op"] == "exit":
            break
        try:
            out = {"ok": True, **OPS[req["op"]](req)}
        except Exception:  # the worker must keep serving; the run counts it
            out = {"ok": False, "error": traceback.format_exc()}
        reply.write("PBRESULT " + json.dumps(out) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
