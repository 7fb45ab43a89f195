"""BPE trainer + merge application: hand-exact training (tie-break
included), fold semantics (repeat chains, empties), the merge-count cap,
DuckDB oracle parity, the sequential-pass equivalence property against a
reference priority implementation, and the broadcast plan shape."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import bpe as B

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _ref_bpe(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference rank-priority BPE apply (subword-nmt style): repeatedly
    merge the lowest-rank pair present, leftmost-first."""
    ranks = {m: i for i, m in enumerate(merges)}
    syms = list(word)
    while len(syms) >= 2:
        pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
        ranked = [(ranks[p], i) for i, p in enumerate(pairs) if p in ranks]
        if not ranked:
            break
        rank, i = min(ranked)
        left, right = merges[rank]
        out = []
        j = 0
        while j < len(syms):
            if (
                j < len(syms) - 1
                and syms[j] == left
                and syms[j + 1] == right
            ):
                out.append(left + right)
                j += 2
            else:
                out.append(syms[j])
                j += 1
        syms = out
    return syms


class TestMergeFold:
    def test_hand_cases(self, spark):
        cases = [
            ("aaab", ("a", "a"), ["aa", "a", "b"]),
            ("aaaa", ("a", "a"), ["aa", "aa"]),
            ("z", ("a", "a"), ["z"]),
            ("", ("a", "a"), []),
            ("abab", ("a", "b"), ["ab", "ab"]),
        ]
        df = spark.createDataFrame(
            [(i, w) for i, (w, _, _) in enumerate(cases)],
            "i long, w string",
        )
        outs = {}
        for i, (_, (left, right), _) in enumerate(cases):
            outs[i] = (
                df.filter(F.col("i") == i)
                .select(
                    B.merge_once_expr(
                        B.chars_expr(F.col("w")), left, right
                    ).alias("s")
                )
                .first()["s"]
            )
        for i, (_, _, want) in enumerate(cases):
            assert outs[i] == want, i

    def test_sequential_equals_priority_reference(self, spark):
        # the equivalence the module docstring argues: fold-per-rank ==
        # rank-priority-queue, on adversarial words incl. repeat chains
        merges = [("h", "e"), ("t", "he"), ("e", "r"), ("a", "a")]
        words = ["the", "there", "theher", "aaaa", "aaaaa", "hethe", "er"]
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got = {
            r["w"]: r["s"]
            for r in df.select(
                "w",
                B.apply_bpe_merges_expr(
                    B.chars_expr(F.col("w")), merges
                ).alias("s"),
            ).collect()
        }
        for w in words:
            assert got[w] == _ref_bpe(w, merges), w

    def test_duckdb_fold_parity(self, spark):
        merges = [("h", "e"), ("t", "he"), ("e", "r")]
        words = ["the", "there", "ether", "x", ""]
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got = {
            r["w"]: r["s"]
            for r in df.select(
                "w",
                B.apply_bpe_merges_expr(
                    B.chars_expr(F.col("w")), merges
                ).alias("s"),
            ).collect()
        }
        sql = B.apply_bpe_merges_sql(
            "regexp_extract_all(w, '(?s).')", merges
        )
        for w in words:
            (want,) = duckdb.sql(
                f"SELECT {sql} FROM (SELECT '{w}' AS w)"
            ).fetchone()
            assert got[w] == want, w


class TestTrainBpe:
    def test_hand_exact_with_tiebreak(self, spark):
        # pre-tokens: 'the' x1, ' the' x2, ' cat' x1. Round 1 ties
        # (h,e)=3 with (t,h)=3 -> left-asc tie-break picks (h,e).
        df = spark.createDataFrame(
            [(1, "the the the cat")], "doc_id long, text string"
        )
        merges = B.train_bpe(df, n_merges=8, min_pair_count=2)
        assert merges == [("h", "e"), ("t", "he"), (" ", "the")]

    def test_corpus_golden(self, spark):
        # pinned trainer output on the sf0.001 documents table: any change
        # to pair counting, tie-break, or the merge fold shows up here
        # (the contract gate's _GATE_MERGES is a planted model, so the
        # TRAINER needs its own drift pin)
        got = B.train_bpe(_docs(spark), n_merges=8)
        assert got == [
            (" ", "s"), ("e", "r"), ("o", "r"), ("i", "n"),
            ("o", "w"), ("l", "u"), ("a", "r"), ("p", "ar"),
        ]

    def test_deterministic_across_partitioning(self, spark):
        docs = _docs(spark)
        a = B.train_bpe(docs, n_merges=6)
        b = B.train_bpe(docs.repartition(7), n_merges=6)
        assert a == b and len(a) == 6


class TestWithBpeTokens:
    def test_duckdb_oracle_parity(self, spark):
        docs = _docs(spark)
        merges = B.train_bpe(docs, n_merges=6)
        got = sorted(
            map(
                tuple,
                B.with_bpe_tokens(docs, merges)
                .select("doc_id", *B._BPE_PRODUCED)
                .collect(),
            )
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        cte = B.bpe_oracle_sql(merges)
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"WITH {cte.lstrip()} SELECT doc_id,"
                    " bpe_merged_tokens, bpe_longest_sym FROM bpe_out"
                ).fetchall(),
            )
        )
        assert got == want
        # merging actually happened: longest symbol beyond one char
        assert max(r[2] for r in got) >= 2

    def test_distinct_strategy_plan_shape(self, spark):
        docs = _docs(spark)
        merges = [("t", "h"), ("th", "e")]
        plan = (
            B.with_bpe_tokens(docs, merges)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        for line in plan.splitlines():
            if "Exchange" in line and "text" in line:
                raise AssertionError(f"text column shuffled: {line}")

    def test_inline_cap(self, spark):
        docs = _docs(spark)
        too_many = [(f"a{i}", "b") for i in range(B.MAX_INLINE_MERGES + 1)]
        with pytest.raises(ValueError):
            B.with_bpe_tokens(docs, too_many)
