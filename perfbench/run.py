#!/usr/bin/env python3
"""End-to-end benchmark of the shipped extraction job (jobs/extract_job.py).

    python3 perfbench/run.py --workload batch_job --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (inputs are generated from --seed
with the repo's synthetic generator and cached under .perfbench/):

  batch_job     each iteration runs the shipped batch entry into an empty
                output dir.
  batch_resume  each iteration runs the shipped batch entry twice: fresh, as
                in batch_job; then resume, after the manifest rows and data
                partitions of half the buckets were dropped. Not listed in
                BENCHMARK.json: every resume re-appends the error channel, a
                known defect of the job that its check reports, so this
                workload fails until that is fixed.
  stream_drain  each iteration runs `--incremental` (availableNow, 8 files
                per trigger) over a landing dir into a fresh output and
                checkpoint dir. After the last one, more files land and the
                same command resumes the query from its checkpoint.

One persistent worker process (perfbench/worker.py) per run keeps the JVM
warm; every operation is a call of extract_job.main(argv). Every operation's
output is checked (perfbench/checks.py); a failed check, an exception or a
timeout counts as a failed operation.

--trace 0 reports the end-to-end metrics; --trace 1 is a separate traced run
that reports the per-layer metrics: prefix materializations of the pipeline's
public calls plus Spark's own event log, turned on through session conf for
the traced operations only. The trace also saves the executed plans of the
job's data write and of bench.py's extraction plan, and their differences.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
Lines before it name every metric with its unit and sample count. Details go
to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import platform
import queue
import shutil
import shlex
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

import pyarrow.compute as pc  # noqa: E402

import checks  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402

REQUIRED = ("jobs/extract_job.py", "jobs/make_pyfiles.py",
            "index_search_monorepo_spark/plans/pipeline.py", "bench.py")

BATCH = inputs.CorpusShape(n_docs=150, n_heavy=1, n_poison=20, max_pages=60)
LANDING = inputs.LandingShape(n_docs_a=120, n_docs_b=40, docs_per_file=8,
                              n_poison=20, max_pages=60)
N_BUCKETS = 16
PAGE_THRESHOLD = 10_000      # extract_documents' default
OCR_SAMPLE = 50
# timed iterations per run: at least these, and more until --seconds have
# passed; metrics are medians over them. The minimums take longer than the
# 20 s BENCHMARK.json gives on 4 cores, so a slower or faster machine state
# does not also move the median along the JIT warm-up curve by changing the
# number of operations
MIN_ITERATIONS = {"batch_job": 4, "batch_resume": 2, "stream_drain": 5}
SPANS_SAMPLE = 12
OP_TIMEOUT_S = 120.0
RUN_BUDGET_S = 150.0         # operations stop here; closing takes < 30 s
EVENTLOG_CONF = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false"}


# ------------------------------------------------------------------ worker --

class Worker:
    """The persistent Spark worker subprocess and its process tree."""

    def __init__(self, log_path: Path, submit_args: str, tmp: Path):
        # Spark's local dirs and every temp file stay in the checkout; every
        # JVM (the spark-submit launcher too) would otherwise write its
        # hsperfdata file under /tmp whatever java.io.tmpdir says
        env = dict(os.environ, PYSPARK_SUBMIT_ARGS=submit_args,
                   PYTHONUNBUFFERED="1", TMPDIR=str(tmp),
                   SPARK_LOCAL_DIRS=str(tmp / "spark"),
                   JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        self.t_launch = time.perf_counter()
        self._log = log_path.open("w")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py")], cwd=ROOT, env=env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True,
        )
        self._replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()
        atexit.register(self.close)

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PBRESULT "):
                self._replies.put(json.loads(line[len("PBRESULT "):]))
        self._replies.put(None)

    def call(self, req: dict) -> dict:
        """Send one request; returns the reply with the tree's CPU seconds
        and peak RSS over the call added."""
        timeout = min(OP_TIMEOUT_S, self.t_launch + RUN_BUDGET_S - time.perf_counter())
        if self.proc.poll() is not None or timeout <= 0:
            return {"ok": False, "error": "worker exited or run budget spent"}
        pid = self.proc.pid
        cpu0 = procstat.tree_cpu_seconds(pid)
        with procstat.PeakRss(pid) as rss:
            self.proc.stdin.write(json.dumps(req) + "\n")
            self.proc.stdin.flush()
            try:
                reply = self._replies.get(timeout=timeout)
            except queue.Empty:
                self.close()
                return {"ok": False, "error": f"timeout after {timeout} s"}
        if reply is None:
            return {"ok": False, "error": "worker exited"}
        reply["cpu_s"] = procstat.tree_cpu_seconds(pid) - cpu0
        reply["peak_rss_mb"] = rss.peak / 2**20
        return reply

    def close(self) -> None:
        """Stop the worker and wait until every process of its tree ended."""
        if self.proc.poll() is None:
            pids = procstat.tree_pids(self.proc.pid)
            try:
                self.proc.stdin.write(json.dumps({"op": "exit"}) + "\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                pass
        else:
            pids = []
        deadline = time.monotonic() + 5
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in [self.proc.pid, *pids]:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            while time.monotonic() < deadline and any(_alive(p) for p in [self.proc.pid, *pids]):
                self.proc.poll()
                time.sleep(0.1)
            deadline = time.monotonic() + 5
        self.proc.poll()
        self._log.close()


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return state[state.rindex(")") + 2] != "Z"


# ----------------------------------------------------------------- context --

@dataclass
class Op:
    kind: str
    wall_s: float | None = None
    cpu_s: float | None = None
    peak_rss_mb: float | None = None
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return bool(self.problems)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    cache: Path
    work: Path
    results: Path
    submit_args: str
    worker: Worker | None = None
    ops: list[Op] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    per_layer: dict[str, float] = field(default_factory=dict)

    def run_op(self, kind: str, req: dict, check) -> Op:
        reply = self.worker.call(req)
        op = Op(kind)
        if not reply.get("ok"):
            op.problems.append("operation raised: " + reply.get("error", "?").strip().splitlines()[-1])
            (self.results / "last_error.txt").write_text(reply.get("error", ""))
        else:
            op.wall_s, op.cpu_s, op.peak_rss_mb = (
                reply["wall_s"], reply["cpu_s"], reply["peak_rss_mb"])
            op.extra = reply
            try:
                op.problems.extend(check(reply))
            except Exception as exc:  # a check that cannot run fails the op
                op.problems.append(f"check raised {type(exc).__name__}: {exc}")
        self.ops.append(op)
        return op

    def setup(self, warm_reqs: list) -> None:
        """Launch the worker and run the warm-up operations (callables that
        prepare their input and return the request). They are untimed in the
        metrics except as setup_s samples: the first is measured from worker
        launch, each later one on its own."""
        self.worker = Worker(self.results / "worker.log", self.submit_args,
                             self.work / "tmp")
        for i, warm_req in enumerate(warm_reqs):
            t0 = self.worker.t_launch if i == 0 else time.perf_counter()
            reply = self.worker.call(warm_req())
            if not reply.get("ok"):
                raise RuntimeError("warm-up failed: " + reply.get("error", ""))
            self.setups.append(time.perf_counter() - t0)


def tally(ops: list[Op]) -> tuple[int, int]:
    """(attempted, failed): every operation counts as attempted; one that
    raised, timed out or failed an output check counts as failed."""
    return len(ops), sum(o.failed for o in ops)


def job_argv(corpus: Path, out: Path, cores: int, incremental: bool = False) -> list[str]:
    argv = ["--corpus-dir", str(corpus), "--output-dir", str(out),
            "--shuffle-partitions", str(cores)]
    return argv + (["--incremental"] if incremental else ["--n-buckets", str(N_BUCKETS)])


def job_req(argv: list[str], eventlog_dir: Path | None = None, incremental: bool = False) -> dict:
    conf = {}
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf = {**EVENTLOG_CONF, "spark.eventLog.dir": str(eventlog_dir)}
    return {"op": "job", "argv": argv, "conf": conf, "incremental": incremental}


def fresh_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    return p


def dir_bytes(*dirs: Path) -> tuple[int, int]:
    files = [f for d in dirs if d.exists() for f in d.rglob("*.parquet")]
    return sum(f.stat().st_size for f in files), len(files)


# --------------------------------------------------------------- batch_job --

def batch_inputs(ctx: Ctx):
    corpus = inputs.batch_corpus(ctx.cache, ctx.seed, BATCH)
    spans_tbl = checks.read_table(corpus / "documents_spans.parquet", ["doc_id", "spans"])
    lengths = pc.list_value_length(spans_tbl.column("spans")).to_pylist()
    ids = spans_tbl.column("doc_id").to_pylist()
    heavy = [d for d, n in zip(ids, lengths) if n > PAGE_THRESHOLD]
    expect = {"docs": len(ids), "spans": sum(lengths), "poison": BATCH.n_poison,
              "heavy": len(heavy)}
    sample = checks.sample_ids(ids, OCR_SAMPLE, ctx.seed, must=heavy[:1])
    spans = inputs.read_spans(corpus / "documents_spans.parquet", set(sample))
    return corpus, expect, spans


def batch_fresh(ctx: Ctx, corpus: Path, expect: dict, spans: dict,
                eventlog_dir: Path | None = None) -> Op:
    """The shipped batch job into an empty output dir."""
    out = fresh_dir(ctx.work / "batch_out")
    op = ctx.run_op(
        "fresh", job_req(job_argv(corpus, out, ctx.cores), eventlog_dir),
        lambda r: checks.check_fresh(out, expect, spans, r["result"]))
    nbytes, _ = dir_bytes(out / "data", out / "errors")
    op.extra.update(out_bytes=nbytes, out=out)
    op.extra["data_bytes"], op.extra["data_files"] = dir_bytes(out / "data")
    return op


def batch_resume(ctx: Ctx, corpus: Path, expect: dict, fresh: Op, i: int,
                 eventlog_dir: Path | None = None) -> Op:
    """Drop half the buckets of the fresh run's output, then run the same
    command again."""
    out = fresh.extra.get("out")
    if out is None or not (out / "data").exists():
        op = Op("resume", problems=["no fresh output to resume"])
        ctx.ops.append(op)
        return op
    fresh_data = checks.row_digests(out / "data")
    fresh_errors = checks.error_keys(out)
    dropped = checks.inject_resume(out, ctx.seed * 1000 + i, PAGE_THRESHOLD)
    op = ctx.run_op(
        "resume", job_req(job_argv(corpus, out, ctx.cores), eventlog_dir),
        lambda r: checks.check_resume(out, expect, fresh_data, fresh_errors,
                                      dropped, r["result"]))
    op.extra["error_rows_appended"] = (sum(checks.error_keys(out).values())
                                       - sum(fresh_errors.values()))
    return op


def run_batch(ctx: Ctx, resume: bool = False) -> dict:
    corpus, expect, spans = batch_inputs(ctx)
    warm_out = ctx.work / "warm_out"

    def warm_fresh():
        return job_req(job_argv(corpus, fresh_dir(warm_out), ctx.cores))

    def warm_resume():
        checks.inject_resume(warm_out, ctx.seed, PAGE_THRESHOLD)
        return job_req(job_argv(corpus, warm_out, ctx.cores))

    # Per-operation costs are mostly fixed at this corpus size, so warming up
    # on the measured corpus costs no more than on a smaller one and gives
    # the JIT more invocations: CPU per fresh run halves over the first six
    # or so operations of a worker (4 cores), and wall time falls by a third;
    # the median of the timed runs that follow sits where that curve flattens.
    # batch_job warms up with fresh runs only: a resume re-appends the error
    # channel, which its check reports as a failure.
    ctx.setup([warm_fresh, warm_resume] if resume else [warm_fresh] * 3)
    if ctx.trace:
        return trace_batch(ctx, corpus, expect, spans, resume)
    n_in = expect["docs"] + expect["poison"]
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < MIN_ITERATIONS[ctx.workload] or time.perf_counter() < deadline:
        fresh_op = batch_fresh(ctx, corpus, expect, spans)
        if resume:
            batch_resume(ctx, corpus, expect, fresh_op, i)
        i += 1
    fresh = [o for o in ctx.ops if o.kind == "fresh" and o.wall_s]
    resumed = [o for o in ctx.ops if o.kind == "resume" and o.wall_s]
    series = {
        "wall_s": ([o.wall_s for o in fresh], "s"),
        "docs_per_s": ([n_in / o.wall_s for o in fresh], "docs/s"),
        "cpu_s": ([o.cpu_s for o in fresh], "s"),
        "peak_rss_mb": ([max(o.peak_rss_mb for o in fresh + resumed)] if fresh else [], "MB"),
        "out_bytes_per_doc": ([o.extra["out_bytes"] / expect["docs"] for o in fresh], "bytes/doc"),
    }
    if resume:
        series["resume_wall_s"] = ([o.wall_s for o in resumed], "s")
        series["resume_cpu_s"] = ([o.cpu_s for o in resumed], "s")
    return series


# ------------------------------------------------------------ stream_drain --

def stream_inputs(ctx: Ctx):
    land = inputs.landing(ctx.cache, ctx.seed, LANDING)
    docs_a = {k: v for k, v in inputs.read_spans(land / "a").items()
              if not k.startswith("bad.")}
    docs_b = inputs.read_spans(land / "b")
    return land, docs_a, docs_b


def _land(src: Path, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in sorted(src.glob("*.parquet")):
        shutil.copy2(f, dest / f.name)


def stream_drain_op(ctx: Ctx, land: Path, docs_a: dict, i: int,
                    eventlog_dir: Path | None = None) -> Op:
    """`--incremental` over landing part a into a fresh output and
    checkpoint dir."""
    src = fresh_dir(ctx.work / "stream_src")
    out = fresh_dir(ctx.work / "stream_out")
    _land(land / "a", src)
    sample = checks.sample_ids(sorted(docs_a), SPANS_SAMPLE, ctx.seed * 1000 + i, [])
    return ctx.run_op(
        "drain", job_req(job_argv(src, out, ctx.cores, True), eventlog_dir, True),
        lambda r: checks.check_stream(out, docs_a, LANDING.n_poison, sample))


def stream_resume_op(ctx: Ctx, land: Path, docs_a: dict, docs_b: dict, i: int,
                     eventlog_dir: Path | None = None) -> Op:
    """Land part b next to the drained files and run the same command again:
    the query resumes from its checkpoint."""
    src, out = ctx.work / "stream_src", ctx.work / "stream_out"
    _land(land / "b", src)
    sample = checks.sample_ids(sorted(docs_b), SPANS_SAMPLE // 2, ctx.seed * 1000 + i, [])
    return ctx.run_op(
        "resume", job_req(job_argv(src, out, ctx.cores, True), eventlog_dir, True),
        lambda r: checks.check_stream(out, {**docs_a, **docs_b}, LANDING.n_poison, sample))


def _batches(op: Op) -> list[dict]:
    return [p for p in op.extra.get("progress", []) if p.get("numInputRows", 0) > 0]


def run_stream(ctx: Ctx) -> dict:
    land, docs_a, docs_b = stream_inputs(ctx)
    warm_src, warm_out = ctx.work / "warm_src", ctx.work / "warm_out"

    def warm_drain():
        _land(land / "a", fresh_dir(warm_src))
        return job_req(job_argv(warm_src, fresh_dir(warm_out), ctx.cores, True),
                       incremental=True)

    def warm_resume():
        _land(land / "b", warm_src)
        return job_req(job_argv(warm_src, warm_out, ctx.cores, True), incremental=True)

    ctx.setup([warm_drain, warm_resume])
    if ctx.trace:
        return trace_stream(ctx, land, docs_a, docs_b)
    n_in = len(docs_a) + LANDING.n_poison
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < MIN_ITERATIONS[ctx.workload] or time.perf_counter() < deadline:
        stream_drain_op(ctx, land, docs_a, i)
        i += 1
    # one resume per run, from the last drain's checkpoint: it is checked and
    # printed, but the gated metrics are the drains'
    stream_resume_op(ctx, land, docs_a, docs_b, i)
    drains = [o for o in ctx.ops if o.kind == "drain" and o.wall_s]
    resumes = [o for o in ctx.ops if o.kind == "resume" and o.wall_s]
    trig = [p["durationMs"]["triggerExecution"] / 1000
            for o in drains + resumes for p in _batches(o)]
    return {
        "wall_s": ([o.wall_s for o in drains], "s"),
        "resume_wall_s": ([o.wall_s for o in resumes], "s"),
        "docs_per_s": ([n_in / o.wall_s for o in drains], "docs/s"),
        "cpu_s": ([o.cpu_s for o in drains], "s"),
        "resume_cpu_s": ([o.cpu_s for o in resumes], "s"),
        "peak_rss_mb": ([max(o.peak_rss_mb for o in drains + resumes)] if drains else [], "MB"),
        "microbatch_p50_s": ([stats.nearest_rank(trig, 50)] if trig else [], "s", len(trig)),
        "microbatch_p90_s": ([stats.nearest_rank(trig, 90)] if trig else [], "s", len(trig)),
    }


# ------------------------------------------------------------------ traces --

def _exec_by(log: eventlog.EventLog, needle: str) -> dict | None:
    """The first SQL execution whose plan or description mentions `needle`."""
    for ex in sorted(log.executions.values(), key=lambda x: x["id"]):
        if needle in ex["plan"] or needle in ex["description"]:
            return ex
    return None


def _eventlog_conf(ctx: Ctx, name: str, conf: dict | None = None) -> tuple[dict, Path]:
    d = fresh_dir(ctx.results / "eventlogs" / name)
    d.mkdir(parents=True)
    return {**(conf or {}), **EVENTLOG_CONF, "spark.eventLog.dir": str(d)}, d


def _metric_sum(log: eventlog.EventLog, ex: dict | None, node_prefix: str, names) -> float:
    if ex is None:
        return 0.0
    return sum(log.acc_updates.get(acc, 0.0) for acc, (node, name) in ex["metric_ids"].items()
               if node.startswith(node_prefix) and name in names)


def _tasks_by_description(log: eventlog.EventLog) -> dict[str, list[dict]]:
    """Tasks grouped by the job description the layer trace set."""
    desc_of_stage = {}
    for e in log.events:
        if eventlog._short(e["Event"]) == "SparkListenerJobStart":
            d = (e.get("Properties") or {}).get("spark.job.description", "")
            for s in e["Stage IDs"]:
                desc_of_stage[s] = d
    out: dict[str, list[dict]] = {}
    for t in log.tasks:
        out.setdefault(desc_of_stage.get(t["stage"], ""), []).append(t)
    return out


def _last_stage_skew(tasks: list[dict]) -> float:
    """max/median task time of the last stage among `tasks`."""
    if not tasks:
        return 0.0
    last = max(t["stage"] for t in tasks)
    return eventlog.task_skew([t["run_ms"] for t in tasks if t["stage"] == last])


def _udf_metrics(log: eventlog.EventLog, prefix: str) -> dict[str, float]:
    udf = log.python_udf()
    return {f"{prefix}bytes_sent": udf["bytes_sent"],
            f"{prefix}bytes_received": udf["bytes_received"],
            f"{prefix}python_s": udf["python_ms"] / 1000,
            f"{prefix}boot_s": udf["boot_ms"] / 1000}


def _overhead(traced: Op, untraced: list[Op]) -> float:
    """Traced wall over the mean of the untraced runs before and after it,
    minus one."""
    walls = [o.wall_s for o in untraced if o.wall_s]
    return traced.wall_s / (sum(walls) / len(walls)) - 1


def trace_batch(ctx: Ctx, corpus: Path, expect: dict, spans: dict, resume: bool) -> dict:
    """Untraced fresh run (the overhead baseline), then a fresh run (and,
    for batch_resume, its resume) with the event log on, then the layer
    prefixes and bench.py's extraction plan."""
    ev = {k: _eventlog_conf(ctx, k)[1] for k in ("fresh", "resume")}
    base = [batch_fresh(ctx, corpus, expect, spans)]
    fresh = batch_fresh(ctx, corpus, expect, spans, ev["fresh"])
    if resume:
        resumed = batch_resume(ctx, corpus, expect, fresh, 1, ev["resume"])
    base.append(batch_fresh(ctx, corpus, expect, spans))
    lf = eventlog.EventLog(eventlog.load(ev["fresh"]))
    job_conf = fresh.extra.get("sql_conf", {})
    conf, ev_layers = _eventlog_conf(ctx, "layers", job_conf)
    layers = ctx.worker.call({"op": "layers_batch", "corpus": str(corpus), "conf": conf,
                              "page_threshold": PAGE_THRESHOLD})
    bconf = bench_conf(ctx, corpus)
    conf, ev_bench = _eventlog_conf(ctx, "bench_plan", bconf)
    bench_reply = ctx.worker.call({"op": "bench_plan", "corpus": str(corpus), "conf": conf})
    for name, reply in (("layers", layers), ("bench_plan", bench_reply)):
        if not reply.get("ok"):
            ctx.ops.append(Op(name, problems=["operation raised: " + reply.get("error", "?")]))

    m: dict[str, float] = {**lf.engine(ctx.cores), **_udf_metrics(lf, "udf."),
                           **_udf_metrics(lf, "marc.udf_")}
    m["trace.overhead_frac"] = _overhead(fresh, base)
    write_ex = _exec_by(lf, "batch_out/data")
    err_ex = _exec_by(lf, "batch_out/errors")
    stats_ex = _exec_by(lf, "checkpoint.py")
    dur = (lambda ex: (ex["end"] - ex["start"]) if ex and "end" in ex else 0.0)  # noqa: E731
    m["checkpoint.write_s"] = dur(write_ex)
    m["checkpoint.stats_s"] = dur(stats_ex)
    m["pipeline.error_write_s"] = dur(err_ex)
    # from the stats collect to the job's result line: the manifest write
    m["checkpoint.manifest_s"] = (fresh.extra["result_epoch"] - stats_ex["end"]
                                  if stats_ex and "end" in stats_ex else 0.0)
    m["checkpoint.bytes_written"] = fresh.extra.get("data_bytes", 0)
    m["checkpoint.files_written"] = fresh.extra.get("data_files", 0)
    m["sources.bytes_read"] = sum(t["bytes_read"] for t in lf.tasks)
    m["sources.records"] = sum(t["records_read"] for t in lf.tasks)
    m["sources.tasks"] = sum(1 for t in lf.tasks if t["records_read"] > 0)
    m["errors.clean_rows"] = expect["docs"]
    m["errors.error_rows"] = expect["poison"]
    m["extraction.big_path_docs"] = expect["heavy"]
    facts = eventlog.plan_facts(write_ex["plan_info"] if write_ex else {})
    m["joins.broadcast"] = facts["BroadcastHashJoin"] + facts["BroadcastNestedLoopJoin"]
    m["joins.shuffled"] = facts["ShuffledHashJoin"] + facts["SortMergeJoin"]
    m["joins.broadcast_build_s"] = _metric_sum(
        lf, write_ex, "BroadcastExchange",
        ("time to collect", "time to build", "time to broadcast")) / 1000
    m["joins.shuffle_write_bytes"] = _metric_sum(lf, write_ex, "Exchange", ("shuffle bytes written",))

    if resume:
        lr = eventlog.EventLog(eventlog.load(ev["resume"]))
        resume_ex = _exec_by(lr, "batch_out/data")
        scanned = lr.scan_rows(resume_ex["id"], "documents_spans") if resume_ex else 0.0
        m["checkpoint.docs_extracted_on_resume"] = scanned - BATCH.n_poison
        m["checkpoint.docs_written_on_resume"] = resumed.extra.get("result", {}).get("n_docs", 0)
        m["checkpoint.resume_useful_ratio"] = m["resume.useful_ratio"] = (
            m["checkpoint.docs_written_on_resume"] / m["checkpoint.docs_extracted_on_resume"]
            if m["checkpoint.docs_extracted_on_resume"] > 0 else 0.0)
        m["pipeline.error_rows_appended"] = resumed.extra.get("error_rows_appended", 0)

    if layers.get("ok"):
        t = dict(layers["timings"])
        chain = stats.self_times([(k, t[k]) for k in ("sources", "errors", "skew", "ocr", "enrichment")])
        m["sources.self_s"] = chain["sources"]
        m["errors.self_s"] = chain["errors"]
        m["skew.self_s"] = chain["skew"]
        m["extraction.ocr_self_s"] = m["extraction.self_s"] = chain["ocr"]
        m["enrichment.self_s"] = chain["enrichment"]
        m["marc.self_s"] = t["marc"] - t["catalog_scan"]
        m["catalog.self_s"] = t["catalog"] - t["marc"]
        m["extraction.mets_self_s"] = t["mets"]
        # the assembled plan joins three separately timed branches
        m["assemble.self_s"] = t["assemble"] - t["enrichment"] - t["catalog"] - t["mets"]
        m["skew.fired"] = float(layers["skew_fired"])
        by_desc = _tasks_by_description(eventlog.EventLog(eventlog.load(ev_layers)))
        m["skew.shuffle_write_bytes"] = sum(x["shuffle_write"] for x in by_desc.get("perfbench:skew", []))
        m["skew.task_skew"] = _last_stage_skew(by_desc.get("perfbench:skew", []))
        m["extraction.ocr_task_skew"] = _last_stage_skew(by_desc.get("perfbench:ocr", []))
    save_plans(ctx, write_ex, job_conf, ev_bench, bconf, bench_reply)
    ctx.per_layer = m
    return {"wall_s": ([o.wall_s for o in base if o.wall_s], "s"),
            "traced_wall_s": ([fresh.wall_s] if fresh.wall_s else [], "s")}


def bench_conf(ctx: Ctx, corpus: Path) -> dict[str, str]:
    """bench.py's extraction-worker session settings for this corpus
    (session.get_spark plus bench.worker_serve_main's mode='extract' sizing).
    Its JVM options cannot be applied to a running JVM; save_plans records
    them instead."""
    total = sum(f.stat().st_size for f in corpus.rglob("*.parquet"))
    return {
        "spark.sql.shuffle.partitions": str(max(ctx.cores, total * 3 // (128 << 20))),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.caseSensitive": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.files.maxPartitionBytes": str(min(
            64 << 20, max(4 << 20, total // (4 * ctx.cores)),
            max(4 << 20, (4 << 30) // (3 * ctx.cores)))),
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.sql.parquet.columnarReaderBatchSize": "16",
    }


def save_plans(ctx: Ctx, write_ex: dict | None, job_conf: dict, ev_bench: Path,
               bconf: dict, bench_reply: dict) -> None:
    """Write the executed plans of the job's data write and of bench.py's
    extraction, and how they differ."""
    try:
        bl = eventlog.EventLog(eventlog.load(ev_bench))
        bench_ex = max(bl.executions.values(), key=lambda x: x["id"])
    except (ValueError, OSError):
        bench_ex = None
    sides = {"job": (write_ex, job_conf), "bench": (bench_ex, bconf)}
    diff: dict = {}
    for side, (ex, conf) in sides.items():
        (ctx.results / f"plan_{side}.txt").write_text(ex["plan"] if ex else "")
        diff[side] = {
            **eventlog.plan_facts(ex["plan_info"] if ex else {}),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions", "200 (default)"),
            "reader_batch_size": conf.get("spark.sql.parquet.columnarReaderBatchSize", "4096 (default)"),
            "max_records_per_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        }
    diff["job"]["gc"] = "JVM default: the job's launcher sets no GC option"
    diff["bench"]["gc"] = "-XX:+UseParallelGC from session.get_spark (not applied in this JVM)"
    diff["job"]["doc_meta_join"] = None
    diff["bench"]["doc_meta_join"] = bench_reply.get("doc_meta_join")
    diff["differs"] = sorted(k for k in diff["job"] if diff["job"][k] != diff["bench"].get(k))
    (ctx.results / "plan_diff.json").write_text(json.dumps(diff, indent=1, sort_keys=True))
    print("plan diff, job vs bench.py: " + json.dumps(
        {k: [diff["job"][k], diff["bench"].get(k)] for k in diff["differs"]}))


def trace_stream(ctx: Ctx, land: Path, docs_a: dict, docs_b: dict) -> dict:
    """Untraced drain (the overhead baseline), then a drain and a resume
    with the event log on, then the layer prefixes of the sink's work."""
    ev = {k: _eventlog_conf(ctx, k)[1] for k in ("drain", "resume")}
    base = [stream_drain_op(ctx, land, docs_a, 0)]
    drain = stream_drain_op(ctx, land, docs_a, 1, ev["drain"])
    resume = stream_resume_op(ctx, land, docs_a, docs_b, 1, ev["resume"])
    base.append(stream_drain_op(ctx, land, docs_a, 2))
    ld = eventlog.EventLog(eventlog.load(ev["drain"]))
    layers = ctx.worker.call({"op": "layers_stream", "landing": str(land / "a"),
                              "conf": drain.extra.get("sql_conf", {})})
    if not layers.get("ok"):
        ctx.ops.append(Op("layers", problems=["operation raised: " + layers.get("error", "?")]))

    m: dict[str, float] = {**ld.engine(ctx.cores), **_udf_metrics(ld, "udf."),
                           **_udf_metrics(ld, "extraction.html_udf_")}
    m["trace.overhead_frac"] = _overhead(drain, base)
    batches = _batches(drain)
    m["incremental.batches"] = len(batches)
    m["incremental.rows_per_batch"] = (
        sum(p["numInputRows"] for p in batches) / len(batches) if batches else 0.0)
    for key, name in (("addBatch", "add_batch"), ("queryPlanning", "planning"),
                      ("commitOffsets", "commit")):
        m[f"incremental.{name}_p50_ms"] = (
            stats.median([p["durationMs"].get(key, 0) for p in batches]) if batches else 0.0)
    processed = sum(p["numInputRows"] for p in _batches(resume))
    m["resume.useful_ratio"] = len(docs_b) / processed if processed else 0.0
    if layers.get("ok"):
        chain = stats.self_times(layers["timings"])
        m["sources.self_s"] = chain["sources"]
        m["errors.self_s"] = chain["errors"]
        m["extraction.spans_self_s"] = m["extraction.self_s"] = chain["spans"]
    ctx.per_layer = m
    return {"wall_s": ([o.wall_s for o in base if o.wall_s], "s"),
            "traced_wall_s": ([drain.wall_s] if drain.wall_s else [], "s")}


# -------------------------------------------------------------------- main --

def _mem_total_kb() -> int:
    return next(int(line.split()[1]) for line in Path("/proc/meminfo").read_text().splitlines()
                if line.startswith("MemTotal:"))


def environment(cores: int) -> dict:
    try:
        import pyspark
        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {"nproc": cores, "ram_gb": round(_mem_total_kb() / 2**20, 1),
            "loadavg": list(os.getloadavg()), "spark": spark_version,
            "python": platform.python_version()}


def submit_args(cores: int, pyfiles: Path) -> str:
    """spark-submit arguments: local[nproc], a driver heap of a quarter of
    the machine's memory up to 4 GB, the package zip as --py-files."""
    heap_gb = max(1, min(4, _mem_total_kb() // 2**20 // 4))
    return (f"--master local[{cores}] --driver-memory {heap_gb}g "
            f"--py-files {shlex.quote(str(pyfiles))} "
            "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
            "pyspark-shell")


WORKLOADS = {"batch_job": run_batch,
             "batch_resume": lambda ctx: run_batch(ctx, resume=True),
             "stream_drain": run_stream}
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its worker tree (finally and atexit)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    missing = [f for f in REQUIRED if not (ROOT / f).is_file()]
    if missing or BENCH is None:
        print(f"perfbench: not a checkout of the extraction repo (missing {missing or 'BENCHMARK.json'})",
              file=sys.stderr)
        return 2

    cores = inputs.nproc()
    cache = ROOT / ".perfbench"
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    results = fresh_dir(cache / "results" / name)
    results.mkdir(parents=True)
    work = fresh_dir(cache / "work" / name)
    (work / "tmp").mkdir(parents=True)
    build = subprocess.run([sys.executable, str(ROOT / "jobs" / "make_pyfiles.py"),
                            str(cache / "dist")], cwd=ROOT, capture_output=True, text=True,
                           check=True)
    pyfiles = Path(build.stdout.strip().splitlines()[-1]).resolve()
    env = environment(cores)
    print("environment: " + json.dumps(env))
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), cores, cache, work, results,
              submit_args(cores, pyfiles))
    try:
        series = WORKLOADS[args.workload](ctx)
    finally:
        if ctx.worker is not None:
            ctx.worker.close()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = tally(ctx.ops)
    for o in ctx.ops:
        for prob in o.problems:
            print(f"check failed [{o.kind}]: {prob}")
    report = {"environment": env, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "attempted": attempted, "failed": failed,
              "setup_s": ctx.setups, "series": {}, "per_layer": ctx.per_layer,
              "ops": [{"kind": o.kind, "wall_s": o.wall_s, "stop_s": o.extra.get("stop_s"),
                       "cpu_s": o.cpu_s, "peak_rss_mb": o.peak_rss_mb,
                       "problems": o.problems} for o in ctx.ops]}
    summary = {"setup_s": (stats.summarize(ctx.setups), "s")}
    for key, val in series.items():
        values, unit = val[0], val[1]
        if values:
            s = stats.summarize(values)
            if len(val) > 2:
                s["n"] = val[2]  # pooled percentile: n is the pooled sample
            summary[key] = (s, unit)
    summary["failed_frac"] = ({"median": failed / attempted, "n": attempted}, "fraction")
    for key, (s, unit) in summary.items():
        tail = (f"p{s['tail_pct']:g}={s['tail']:.4f}" if "tail" in s
                else "tail=n/a (fewer than 10 samples beyond p50)")
        print(f"metric {key}: median={s['median']:.4f} {unit} {tail} n={s['n']}")
        report["series"][key] = {**s, "unit": unit}
    for key in sorted(ctx.per_layer):
        print(f"layer {key}: {ctx.per_layer[key]:.6g}")
    (results / "report.json").write_text(json.dumps(report, indent=1, sort_keys=True))

    if args.trace:
        declared = BENCH["per_layer"]
        metrics = {m["name"]: {"value": ctx.per_layer[m["name"]], "unit": m["unit"]}
                   for m in declared if m["name"] in ctx.per_layer}
        missing = [m["name"] for m in declared if m["name"] not in ctx.per_layer]
    else:
        declared = BENCH["end_to_end"]
        metrics = {m["name"]: {"value": summary[m["name"]][0]["median"], "unit": m["unit"]}
                   for m in declared if m["name"] in summary}
        missing = [m["name"] for m in declared if m["name"] not in summary]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
