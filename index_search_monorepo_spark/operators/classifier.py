"""Seed-trained n-gram quality classifier (fastText / DCLM shape).

Modern curation pipelines (CCNet's lid+lm stages aside) lean on a LINEAR
text classifier trained on seed sets: fastText in CCNet/RefinedWeb for
language filtering, and in DCLM (Li et al. 2024) / FineWeb-Edu the single
most impactful curation op is a quality classifier scored over every
document. The model is (a) trained once on labeled seed corpora and
(b) applied map-side to the whole corpus — the corpus itself never
shuffles at scoring time. This module is that stage re-expressed
Spark-first, integer-exact, with the fastText feature recipe:

  features  = unigrams  ∪  hashed bigram buckets ("hashing trick":
              bigram -> md5-fold mod n_buckets, so the feature space is
              bounded regardless of corpus size — exactly fastText's
              bucket table)
  model     = multinomial Naive Bayes log-likelihood-ratio weights, one
              BIGINT per kept feature, via the same integer bit-length
              log surrogate as operators/lm.py:

      w(f) = [bitlen(c_pos(f)+1) - bitlen(N_pos+V)]
           - [bitlen(c_neg(f)+1) - bitlen(N_neg+V)]

  score     = prior_bits + sum over document features of w(f)
  predict   = score >= 0

bitlen(x) = length(bin(x)) = floor(log2 x)+1 tracks log2 within 1 bit and
is bit-identical across Spark and DuckDB (see lm.py's rationale) — a
float fastText loss could never ride the driver's value-hash gate; the
bit-length NB keeps the whole train -> cap -> hash-bucket -> score
pipeline verifiable end to end.

Pipeline shape (and why it scales):

 - `train_ngram_classifier`: tokenize + hashed-bigram tag the (optionally
   hash-sampled) seed slice, explode, ONE groupBy(feature) with
   conditional partial aggregates for the two class counts — wordcount
   shape, the shuffle carries ~distinct-features-per-partition rows.
   The vocabulary cap (top_k by total count, feature ASC tie-break) is a
   total order -> deterministic at any parallelism.
 - `with_classifier_score`: explodes slim (doc_id, feature) pairs and
   broadcast-joins the top_k-bounded weight table (document text never
   shuffles; the one exchange carries partial per-doc sums). It stays
   JVM-side end to end: no Arrow round-trip to a Python worker.

Division note: scores are SIGNED. Spark `DIV` truncates toward zero while
DuckDB `//` floors, so the per-token mean divides magnitudes only
(sign-explicit CASE) — both engines then agree bit-for-bit.

No reference counterpart: hathitrust/index_search_monorepo indexes OCR
without model-based filtering; this extends the curation family
(operators/lm.py, operators/c4rules.py) per the build brief.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.extraction import explode_noinline
from index_search_monorepo_spark.operators.lm import bitlen_expr, bitlen_sql
from index_search_monorepo_spark.operators.packing import (
    HASH_HEX_DIGITS,
    hash_key_expr,
    hash_key_sql,
    hash_sample_pmille,
)
from index_search_monorepo_spark.operators.textstats import (
    _check_keep,
    tokens_expr,
    word_ngrams_from_tokens,
)

DEFAULT_TOP_K = 65536
DEFAULT_BUCKETS = 1 << 21  # fastText's default bucket table order


def features_expr(
    toks: Column, bigram_buckets: int | None, salt: str = "clfbg"
) -> Column:
    """Unigrams plus hashed-bigram bucket tags ('bg<k>') of an
    already-bound token array. Callers MUST pass a bound attribute
    (CLAUDE.md lesson #1 — the n-gram builder references its input
    per-element with no CSE)."""
    if not bigram_buckets:
        return toks
    tags = F.transform(
        word_ngrams_from_tokens(toks, 2),
        lambda g: F.concat(
            F.lit("bg"),
            (hash_key_expr(g, salt) % F.lit(bigram_buckets)).cast("string"),
        ),
    )
    return F.concat(toks, tags)


def features_sql(
    toks_sql: str, bigram_buckets: int | None, salt: str = "clfbg"
) -> str:
    """DuckDB mirror of features_expr over a bound token-array column
    reference (pass a CTE column name, never a raw split expression)."""
    if not bigram_buckets:
        return toks_sql
    bg = (
        f"list_transform(range(1, len({toks_sql})),"
        f" i -> {toks_sql}[i] || ' ' || {toks_sql}[i+1])"
    )
    tag = (
        f"'bg' || CAST(({hash_key_sql('x', salt)}) % {bigram_buckets}"
        " AS VARCHAR)"
    )
    return f"list_concat({toks_sql}, list_transform({bg}, x -> {tag}))"


def train_ngram_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    top_k: int | None = DEFAULT_TOP_K,
    bigram_buckets: int | None = DEFAULT_BUCKETS,
    salt: str = "clfbg",
    train_pmille: int = 1000,
    train_salt: str = "clftrain",
    key_col: str = "doc_id",
) -> DataFrame:
    """(feat, cnt_pos, cnt_neg) over the (optionally hash-sampled) seed
    slice, capped to the top_k features by total count (count DESC, feat
    ASC tie-break — deterministic at any parallelism). `label_col` is a
    BOOLEAN column: true = positive seed (e.g. curated reference docs),
    false = negative seed (e.g. random crawl)."""
    src = df
    if train_pmille < 1000:
        src = df.filter(
            hash_sample_pmille(F.col(key_col), train_pmille, train_salt)
        )
    # bind the feature array, then explode through the double-reference
    # guard: the per-bigram md5 fold is expensive, and a bare explode()
    # would let InferFiltersFromGenerate clone it into a pre-filter
    # (CLAUDE.md lesson #8)
    feats = (
        src.withColumn("_toks", tokens_expr(F.col(text_col)))
        .withColumn(
            "_feats", features_expr(F.col("_toks"), bigram_buckets, salt)
        )
        .select(
            F.col(label_col).alias("_lab"),
            explode_noinline("_feats").alias("feat"),
        )
    )
    one = F.lit(1)
    zero = F.lit(0)
    counts = feats.groupBy("feat").agg(
        F.sum(F.when(F.col("_lab"), one).otherwise(zero))
        .cast("long")
        .alias("cnt_pos"),
        F.sum(F.when(F.col("_lab"), zero).otherwise(one))
        .cast("long")
        .alias("cnt_neg"),
    )
    if top_k is not None:
        counts = counts.orderBy(
            (F.col("cnt_pos") + F.col("cnt_neg")).desc(), F.asc("feat")
        ).limit(top_k)
    return counts


def train_doc_priors(
    df: DataFrame,
    label_col: str,
    train_pmille: int = 1000,
    train_salt: str = "clftrain",
    key_col: str = "doc_id",
) -> DataFrame:
    """One-row (n_pos_docs, n_neg_docs) over the SAME training slice as
    train_ngram_classifier — the NB class prior's inputs."""
    src = df
    if train_pmille < 1000:
        src = df.filter(
            hash_sample_pmille(F.col(key_col), train_pmille, train_salt)
        )
    one = F.lit(1)
    zero = F.lit(0)
    return src.agg(
        F.sum(F.when(F.col(label_col), one).otherwise(zero))
        .cast("long")
        .alias("n_pos_docs"),
        F.sum(F.when(F.col(label_col), zero).otherwise(one))
        .cast("long")
        .alias("n_neg_docs"),
    )


def _weight_table(counts: DataFrame) -> DataFrame:
    """(feat, w, oov_w): per-feature signed NB weight plus the OOV weight
    (the class-normalizer difference, constant) replicated on every row —
    same one-row-broadcast totals pattern as lm._nll_table."""
    totals = counts.agg(
        F.sum("cnt_pos").cast("long").alias("_np"),
        F.sum("cnt_neg").cast("long").alias("_nn"),
        F.count("*").cast("long").alias("_v"),
    )
    base = (
        bitlen_expr(F.col("_nn") + F.col("_v"))
        - bitlen_expr(F.col("_np") + F.col("_v"))
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("_base", base)
        .select(
            "feat",
            (
                bitlen_expr(F.col("cnt_pos") + F.lit(1))
                - bitlen_expr(F.col("cnt_neg") + F.lit(1))
                + F.col("_base")
            )
            .cast("long")
            .alias("w"),
            F.col("_base").alias("oov_w"),
        )
    )


_CLF_PRODUCED = (
    "clf_tokens",
    "clf_oov",
    "clf_score_bits",
    "clf_score_mean_e3",
    "clf_pred",
)


def with_classifier_score(
    df: DataFrame,
    counts: DataFrame,
    priors: DataFrame | None = None,
    text_col: str = "text",
    bigram_buckets: int | None = DEFAULT_BUCKETS,
    salt: str = "clfbg",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Score each document against a trained model
    (`train_ngram_classifier` counts + optional `train_doc_priors`).
    Adds, at doc grain (every input row kept, empty documents score the
    bare class prior):

      clf_tokens        : features scored (unigrams + bigram buckets)
      clf_oov           : features absent from the capped vocabulary
      clf_score_bits    : prior_bits + sum of signed per-feature weights
      clf_score_mean_e3 : per-feature mean in milli-bits (sign-explicit
                          magnitude DIV; 0 for empty documents)
      clf_pred          : 1 when clf_score_bits >= 0 (positive-class call)

    Explode -> broadcast-join weights -> re-aggregate (slim pairs only)."""
    _check_keep(keep, ("doc_id", *_CLF_PRODUCED))
    scored = _score_join(df, counts, text_col, bigram_buckets, salt)
    out = df.select("doc_id", *keep).join(scored, "doc_id", "left")
    zero = F.lit(0).cast("long")
    if priors is not None:
        prior = F.broadcast(
            priors.select(
                (
                    bitlen_expr(F.col("n_pos_docs") + F.lit(1))
                    - bitlen_expr(F.col("n_neg_docs") + F.lit(1))
                )
                .cast("long")
                .alias("_prior_bits")
            )
        )
        out = out.crossJoin(prior)
    else:
        out = out.withColumn("_prior_bits", zero)
    out = out.select(
        "doc_id",
        *keep,
        F.coalesce("clf_tokens", zero).alias("clf_tokens"),
        F.coalesce("clf_oov", zero).alias("clf_oov"),
        (F.coalesce("_bits", zero) + F.col("_prior_bits"))
        .cast("long")
        .alias("clf_score_bits"),
    )
    mean = F.when(
        F.col("clf_tokens") > 0,
        F.when(
            F.col("clf_score_bits") >= 0,
            F.expr("(1000 * clf_score_bits) DIV clf_tokens"),
        ).otherwise(-F.expr("(1000 * -clf_score_bits) DIV clf_tokens")),
    ).otherwise(F.lit(0))
    return out.select(
        "doc_id",
        *keep,
        "clf_tokens",
        "clf_oov",
        "clf_score_bits",
        mean.cast("long").alias("clf_score_mean_e3"),
        (F.col("clf_score_bits") >= 0).cast("long").alias("clf_pred"),
    )


def _score_join(
    df: DataFrame,
    counts: DataFrame,
    text_col: str,
    bigram_buckets: int | None,
    salt: str,
) -> DataFrame:
    feats = (
        df.withColumn("_toks", tokens_expr(F.col(text_col)))
        .withColumn(
            "_feats", features_expr(F.col("_toks"), bigram_buckets, salt)
        )
        .select("doc_id", explode_noinline("_feats").alias("feat"))
    )
    w = _weight_table(counts)
    per = feats.join(F.broadcast(w), "feat", "left")
    agg = per.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("clf_tokens"),
        F.sum(F.when(F.col("w").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("clf_oov"),
        # LEFT-join misses null the whole broadcast row (incl. oov_w);
        # in-vocabulary weights only — OOV mass added from the scalar.
        F.sum("w").alias("_invocab"),
    )
    oov_scalar = w.agg(F.max("oov_w").alias("_oov_w"))
    return (
        agg.crossJoin(F.broadcast(oov_scalar))
        .select(
            "doc_id",
            "clf_tokens",
            "clf_oov",
            (
                F.coalesce(F.col("_invocab"), F.lit(0).cast("long"))
                + F.col("clf_oov") * F.coalesce("_oov_w", F.lit(0))
            )
            .cast("long")
            .alias("_bits"),
        )
    )


def _bucket_py(s: str, salt: str, n_buckets: int) -> int:
    """Python twin of hash_key_expr % n_buckets (md5 hex-prefix fold)."""
    h = hashlib.md5((salt + s).encode("utf-8")).hexdigest()
    return int(h[:HASH_HEX_DIGITS], 16) % n_buckets


def classifier_oracle_sql(
    source_cte: str = "documents",
    text_sql: str = "text",
    label_sql: str = "doc_id % 3 <> 0",
    top_k: int = DEFAULT_TOP_K,
    bigram_buckets: int | None = DEFAULT_BUCKETS,
    salt: str = "clfbg",
    train_pmille: int = 1000,
    hash_sql: str | None = None,
) -> str:
    """DuckDB CTE chain mirroring train (+priors) + score
    from scratch; final CTE `clf_out` yields (doc_id, clf_tokens,
    clf_oov, clf_score_bits, clf_score_mean_e3, clf_pred) from
    `source_cte`. `hash_sql` must be packing.hash_key_sql('doc_id',
    'clftrain') when train_pmille < 1000."""
    toks = f"list_filter(string_split({text_sql}, ' '), x -> x <> '')"
    where = ""
    if train_pmille < 1000:
        assert hash_sql is not None
        where = f"WHERE ({hash_sql}) % 1000 < {train_pmille}"
    oov_w = (
        f"{bitlen_sql('nn + v')} - {bitlen_sql('np + v')}"
    )
    return f"""
    clf_src AS (
      SELECT doc_id, ({label_sql}) AS lab, {toks} AS tk FROM {source_cte}
    ),
    clf_feat AS (
      SELECT doc_id, lab,
             {features_sql('tk', bigram_buckets, salt)} AS fs
      FROM clf_src
    ),
    clf_train AS (
      SELECT lab, unnest(fs) AS feat FROM clf_feat {where}
    ),
    clf_cnt AS (
      SELECT feat,
             CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_pos,
             CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT)
               AS cnt_neg
      FROM clf_train GROUP BY feat
      ORDER BY (cnt_pos + cnt_neg) DESC, feat ASC LIMIT {top_k}
    ),
    clf_tot AS (
      SELECT CAST(sum(cnt_pos) AS BIGINT) AS np,
             CAST(sum(cnt_neg) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS v
      FROM clf_cnt
    ),
    clf_w AS (
      SELECT feat,
             {bitlen_sql('cnt_pos + 1')} - {bitlen_sql('cnt_neg + 1')}
               + {oov_w} AS w
      FROM clf_cnt, clf_tot
    ),
    clf_prior AS (
      SELECT {bitlen_sql('npd + 1')} - {bitlen_sql('nnd + 1')}
               AS prior_bits
      FROM (
        SELECT CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT)
                 AS npd,
               CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT)
                 AS nnd
        FROM clf_feat {where}
      )
    ),
    clf_doc AS (
      SELECT doc_id, unnest(fs) AS feat FROM clf_feat
    ),
    clf_sc AS (
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS clf_tokens,
             CAST(sum(CASE WHEN w.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS clf_oov,
             CAST(sum(coalesce(w.w,
               (SELECT {oov_w} FROM clf_tot))) AS BIGINT) AS _bits
      FROM clf_doc d LEFT JOIN clf_w w USING (feat)
      GROUP BY d.doc_id
    ),
    clf_out AS (
      SELECT s.doc_id,
             coalesce(c.clf_tokens, 0) AS clf_tokens,
             coalesce(c.clf_oov, 0) AS clf_oov,
             CAST(coalesce(c._bits, 0)
               + (SELECT prior_bits FROM clf_prior) AS BIGINT)
               AS clf_score_bits,
             CAST(CASE WHEN coalesce(c.clf_tokens, 0) > 0 THEN
                    CASE WHEN coalesce(c._bits, 0)
                           + (SELECT prior_bits FROM clf_prior) >= 0
                    THEN (1000 * (coalesce(c._bits, 0)
                          + (SELECT prior_bits FROM clf_prior)))
                         // c.clf_tokens
                    ELSE -((1000 * -(coalesce(c._bits, 0)
                            + (SELECT prior_bits FROM clf_prior)))
                           // c.clf_tokens) END
                  ELSE 0 END AS BIGINT) AS clf_score_mean_e3,
             CAST(coalesce(c._bits, 0)
               + (SELECT prior_bits FROM clf_prior) >= 0 AS BIGINT)
               AS clf_pred
      FROM {source_cte} s LEFT JOIN clf_sc c USING (doc_id)
    )"""
