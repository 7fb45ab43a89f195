"""The half-bucket resume injection, on a fake output layout and (slow) on a
tiny corpus run through the shipped job."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import inputs
import run


def _fake_output(out: Path, n_buckets: int, heavy_bucket: int | None = None) -> None:
    """A bucketed output dir with one doc of 10 spans per bucket (20 000
    in `heavy_bucket`) and its manifest."""
    (out / checks.MANIFEST_DIR).mkdir(parents=True)
    rows = [{"bucket": b, "input_snapshot_id": "s", "n_docs": b + 1, "span_count": 10,
             "status": "completed", "processed_at": "t", "error": None}
            for b in range(n_buckets)]
    # two manifest files, as two earlier runs would leave them
    (out / checks.MANIFEST_DIR / "manifest-1.json").write_text(json.dumps(rows[:3]))
    (out / checks.MANIFEST_DIR / "manifest-2.json").write_text(json.dumps(rows[3:]))
    for b in range(n_buckets):
        (out / "data" / f"bucket={b}").mkdir(parents=True)
        spans = 20_000 if b == heavy_bucket else 10
        pq.write_table(pa.table({"id": [f"doc{b}"], "span_count": [spans]}),
                       out / "data" / f"bucket={b}" / "part-0.parquet")


def test_injection_drops_half_the_buckets_everywhere(tmp_path):
    _fake_output(tmp_path, 8)
    dropped = checks.inject_resume(tmp_path, seed=3)
    assert len(dropped["buckets"]) == 4
    assert dropped["docs"] == sum(b + 1 for b in dropped["buckets"])
    left = {r["bucket"] for r in checks.manifest_rows(tmp_path)}
    assert left == set(range(8)) - set(dropped["buckets"])
    on_disk = {int(p.name.split("=")[1]) for p in (tmp_path / "data").iterdir()}
    assert on_disk == left


def test_injection_always_drops_the_heavy_volumes_bucket(tmp_path):
    for seed in range(6):
        out = tmp_path / str(seed)
        _fake_output(out, 8, heavy_bucket=5)
        dropped = checks.inject_resume(out, seed=seed, span_threshold=10_000)
        assert 5 in dropped["buckets"]
        assert len(dropped["buckets"]) == 4


def test_injection_is_seeded(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _fake_output(a, 8)
    _fake_output(b, 8)
    assert checks.inject_resume(a, seed=5) == checks.inject_resume(b, seed=5)


@pytest.mark.slow
def test_resume_on_a_tiny_corpus(tmp_path, monkeypatch):
    """Fresh run, injection, resume through the shipped job: the data must
    equal the fresh run's. The error channel is re-appended by every run
    (a known defect of the job), which check_resume reports."""
    shape = inputs.CorpusShape(n_docs=12, n_heavy=0, n_poison=2, max_pages=4)
    corpus = inputs.batch_corpus(tmp_path, 9, shape)
    pyfiles = run.ROOT / "jobs" / "make_pyfiles.py"
    import runpy

    zip_path = runpy.run_path(str(pyfiles))["build"](tmp_path / "dist")
    ctx = run.Ctx(workload="batch_resume", seed=9, seconds=1, trace=False, cores=2, cache=tmp_path,
                  work=tmp_path / "work", results=tmp_path, submit_args=run.submit_args(2, zip_path))
    ctx.worker = run.Worker(tmp_path / "worker.log", ctx.submit_args, tmp_path)
    try:
        tbl = checks.read_table(corpus / "documents_spans.parquet", ["doc_id", "spans"])
        spans = dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("spans").to_pylist()))
        expect = {"docs": len(spans), "spans": sum(len(s) for s in spans.values()),
                  "poison": shape.n_poison}
        fresh = run.batch_fresh(ctx, corpus, expect, spans)
        assert fresh.problems == []
        resume = run.batch_resume(ctx, corpus, expect, fresh, 0)
    finally:
        ctx.worker.close()
    assert resume.wall_s is not None
    assert "resumed data differs from the fresh run's" not in resume.problems
    assert not [p for p in resume.problems if p.startswith("resume wrote")]
    assert resume.extra["error_rows_appended"] == shape.n_poison
    assert any(p.startswith("error rows") for p in resume.problems)
