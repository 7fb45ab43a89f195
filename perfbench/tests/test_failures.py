"""Failure counting: an exception, a timeout or a failed output check each
make an operation fail, and every operation counts as attempted."""

from __future__ import annotations

import run


class FakeWorker:
    def __init__(self, replies):
        self.replies = list(replies)

    def call(self, req, timeout=None):
        return self.replies.pop(0)


def _ctx(tmp_path, replies) -> run.Ctx:
    ctx = run.Ctx(workload="batch_job", seed=1, seconds=1, trace=False, cores=2, cache=tmp_path,
                  work=tmp_path, results=tmp_path, submit_args="")
    ctx.worker = FakeWorker(replies)
    return ctx


OK = {"ok": True, "wall_s": 1.0, "cpu_s": 2.0, "peak_rss_mb": 3.0, "result": {}}


def test_each_kind_of_failure_counts_once(tmp_path):
    ctx = _ctx(tmp_path, [
        OK,                                                  # passes
        dict(OK),                                            # check fails
        {"ok": False, "error": "Traceback\nValueError: boom"},  # raised
        {"ok": False, "error": "timeout after 120.0 s"},     # timed out
        dict(OK),                                            # check raises
    ])
    ctx.run_op("a", {}, lambda r: [])
    ctx.run_op("b", {}, lambda r: ["data rows 3 != 4"])
    ctx.run_op("c", {}, lambda r: [])
    ctx.run_op("d", {}, lambda r: [])

    def broken_check(r):
        raise KeyError("n_docs")

    ctx.run_op("e", {}, broken_check)
    assert run.tally(ctx.ops) == (5, 4)
    assert [o.failed for o in ctx.ops] == [False, True, True, True, True]
    assert ctx.ops[2].problems == ["operation raised: ValueError: boom"]
    assert ctx.ops[2].wall_s is None  # a failed run has no timing
    assert "KeyError" in ctx.ops[4].problems[0]


def test_passing_operation_keeps_its_measurements(tmp_path):
    ctx = _ctx(tmp_path, [OK])
    op = ctx.run_op("fresh", {}, lambda r: [])
    assert (op.wall_s, op.cpu_s, op.peak_rss_mb) == (1.0, 2.0, 3.0)
    assert run.tally(ctx.ops) == (1, 0)
