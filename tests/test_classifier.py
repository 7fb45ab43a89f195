"""Seed-trained n-gram NB classifier (fastText/DCLM shape): hand-exact
weight math, hashed-bigram bucket parity (Spark expr vs Python twin vs
DuckDB), join/udf strategy equality, signed-mean division parity, DuckDB
oracle parity, and the broadcast plan shape (corpus never shuffles)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import classifier as CLF
from index_search_monorepo_spark.operators import packing as P

SF_DIR = "/root/testdata/sf0.001"

COLS = ["doc_id", *CLF._CLF_PRODUCED]


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("lab", F.pmod(F.col("doc_id"), F.lit(3)) != 0)
    )


def _toy(spark):
    return spark.createDataFrame(
        [
            (1, "good good fine", True),
            (2, "bad bad awful", False),
            (3, "good bad", True),
            (4, "", False),
        ],
        "doc_id long, text string, lab boolean",
    )


class TestTrainAndWeights:
    def test_hand_exact(self, spark):
        # pos corpus tokens: good×3 fine×1 bad×1; neg: bad×2 awful×1
        # Np=5 Nn=3 V=4; base = bitlen(7)-bitlen(9) = 3-4 = -1
        # w: good=bitlen(4)-bitlen(1)-1=1, fine=0, bad=-1, awful=-2
        df = _toy(spark)
        counts = CLF.train_ngram_classifier(
            df, "lab", top_k=None, bigram_buckets=None
        )
        got = {
            r["feat"]: (r["cnt_pos"], r["cnt_neg"])
            for r in counts.collect()
        }
        assert got == {
            "good": (3, 0),
            "fine": (1, 0),
            "bad": (1, 2),
            "awful": (0, 1),
        }
        w = {
            r["feat"]: (r["w"], r["oov_w"])
            for r in CLF._weight_table(counts).collect()
        }
        assert w == {
            "good": (1, -1),
            "fine": (0, -1),
            "bad": (-1, -1),
            "awful": (-2, -1),
        }

    def test_hand_exact_scores(self, spark):
        df = _toy(spark)
        counts = CLF.train_ngram_classifier(
            df, "lab", top_k=None, bigram_buckets=None
        )
        priors = CLF.train_doc_priors(df, "lab")
        assert priors.collect()[0].asDict() == {
            "n_pos_docs": 2,
            "n_neg_docs": 2,
        }
        out = {
            r["doc_id"]: r.asDict()
            for r in CLF.with_classifier_score(
                df, counts, priors, bigram_buckets=None
            ).collect()
        }
        # prior = bitlen(3)-bitlen(3) = 0
        # doc1: 1+1+0=2, mean (1000*2) DIV 3 = 666, pred 1
        assert out[1]["clf_score_bits"] == 2
        assert out[1]["clf_tokens"] == 3
        assert out[1]["clf_oov"] == 0
        assert out[1]["clf_score_mean_e3"] == 666
        assert out[1]["clf_pred"] == 1
        # doc2: -1-1-2 = -4, magnitude-div mean = -1333, pred 0
        assert out[2]["clf_score_bits"] == -4
        assert out[2]["clf_score_mean_e3"] == -1333
        assert out[2]["clf_pred"] == 0
        # doc3: 1-1 = 0, pred 1 (>= 0)
        assert out[3]["clf_score_bits"] == 0
        assert out[3]["clf_pred"] == 1
        # empty doc: row preserved, score = bare prior
        assert out[4] == {
            "doc_id": 4,
            "clf_tokens": 0,
            "clf_oov": 0,
            "clf_score_bits": 0,
            "clf_score_mean_e3": 0,
            "clf_pred": 1,
        }

    def test_oov_scoring_on_held_out_text(self, spark):
        df = _toy(spark)
        counts = CLF.train_ngram_classifier(
            df, "lab", top_k=None, bigram_buckets=None
        )
        new = spark.createDataFrame(
            [(9, "good unseen")], "doc_id long, text string"
        )
        (row,) = CLF.with_classifier_score(
            new, counts, bigram_buckets=None
        ).collect()
        # w(good)=1, oov=-1, no prior frame -> prior 0
        assert row["clf_oov"] == 1
        assert row["clf_score_bits"] == 0

    def test_keep_collision_raises(self, spark):
        df = _toy(spark)
        counts = CLF.train_ngram_classifier(df, "lab", bigram_buckets=None)
        with pytest.raises(ValueError, match="collide"):
            CLF.with_classifier_score(df, counts, keep=("clf_pred",))


class TestBigramBuckets:
    def test_spark_matches_python_twin(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma")], "doc_id long, text string"
        )
        feats = df.select(
            CLF.features_expr(
                F.split("text", " "), bigram_buckets=16, salt="clfbg"
            ).alias("f")
        ).collect()[0]["f"]
        want = ["alpha", "beta", "gamma"] + [
            "bg" + str(CLF._bucket_py(g, "clfbg", 16))
            for g in ("alpha beta", "beta gamma")
        ]
        assert feats == want

    def test_duckdb_matches(self):
        sql = CLF.features_sql("tk", bigram_buckets=16, salt="clfbg")
        (got,) = duckdb.sql(
            "SELECT "
            + sql
            + " FROM (SELECT ['alpha','beta','gamma'] AS tk)"
        ).fetchone()
        want = ["alpha", "beta", "gamma"] + [
            "bg" + str(CLF._bucket_py(g, "clfbg", 16))
            for g in ("alpha beta", "beta gamma")
        ]
        assert got == want


class TestStrategiesAndOracle:
    def test_duckdb_oracle_parity(self, spark):
        docs = _docs(spark)
        counts = CLF.train_ngram_classifier(
            docs, "lab", train_pmille=500, top_k=32, bigram_buckets=16
        )
        priors = CLF.train_doc_priors(docs, "lab", train_pmille=500)
        got = sorted(
            map(
                tuple,
                CLF.with_classifier_score(
                    docs, counts, priors, bigram_buckets=16
                ).select(COLS).collect(),
            )
        )
        cte = CLF.classifier_oracle_sql(
            label_sql="doc_id % 3 <> 0",
            train_pmille=500,
            top_k=32,
            bigram_buckets=16,
            hash_sql=P.hash_key_sql("doc_id", "clftrain"),
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        want = sorted(
            map(
                tuple,
                con.execute(
                    f"WITH {cte.lstrip()} SELECT doc_id, clf_tokens,"
                    " clf_oov, clf_score_bits, clf_score_mean_e3,"
                    " clf_pred FROM clf_out"
                ).fetchall(),
            )
        )
        assert got == want
        # the cap produced real OOV traffic and the scores discriminate
        # (the label is arbitrary here, so class balance isn't asserted —
        # test_separation_on_planted_vocab covers real signal)
        assert any(r[2] > 0 for r in got)
        assert len({r[3] for r in got}) > 1

    def test_join_strategy_broadcasts_weights(self, spark):
        docs = _docs(spark)
        counts = CLF.train_ngram_classifier(
            docs, "lab", top_k=64, bigram_buckets=16
        )
        plan = (
            CLF.with_classifier_score(docs, counts, bigram_buckets=16)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        # the fat text column must not survive into any exchange
        for line in plan.splitlines():
            if "Exchange" in line and "text" in line:
                raise AssertionError(f"text column shuffled: {line}")

    def test_separation_on_planted_vocab(self, spark):
        # positive docs share a marker token; the classifier must rank
        # them above the negatives after training on half the corpus
        rows = []
        for i in range(40):
            pos = i % 2 == 0
            base = "filler words common to all documents here"
            text = base + (" quality prose" if pos else " spam junk")
            rows.append((i, text, pos))
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lab boolean"
        )
        counts = CLF.train_ngram_classifier(
            df, "lab", train_pmille=500, top_k=None, bigram_buckets=None
        )
        priors = CLF.train_doc_priors(df, "lab", train_pmille=500)
        out = CLF.with_classifier_score(
            df, counts, priors, bigram_buckets=None
        ).collect()
        scores = {r["doc_id"]: r["clf_score_bits"] for r in out}
        pos_min = min(s for d, s in scores.items() if d % 2 == 0)
        neg_max = max(s for d, s in scores.items() if d % 2 == 1)
        assert pos_min > neg_max
