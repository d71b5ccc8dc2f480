"""Hashed multinomial Naive Bayes document classification.

The big pretraining pipelines gate documents with cheap linear text
classifiers — fastText language ID (Joulin et al., arXiv:1607.01759),
the GPT-3 / LLaMA "quality" classifiers scoring similarity to a curated
reference — all bag-of-hashed-n-grams models. This module is the
exactly-computable member of that family: multinomial Naive Bayes over
the engine's hashed unigram+bigram features (the hashing trick,
Weinberger et al., ICML 2009), Laplace-smoothed, scored in integer
micro-units so every per-document class score is an exact BIGINT and
the argmax is deterministic cross-engine.

    score(d, c) = ln P(c) + Σ_b cnt_b(d) · ln P̂(b | c)
    P̂(b | c)   = (cnt(c, b) + alpha) / (tot(c) + alpha · B)

Spark-first shape:

- the MODEL is bounded by classes × B buckets (a config constant), not
  by the corpus: priors and per-(class, bucket) likelihoods BROADCAST
  into the scoring pass at any corpus size;
- scoring is ONE corpus scan: the shared featurizer
  (:func:`~.selection.doc_bucket_counts` — one explode, map-side
  combined) then a per-(doc, bucket) fan-out to the |classes| rows of
  the broadcast model and a groupBy(doc, class) BIGINT sum — the only
  corpus-sized shuffle key is (doc_id, label);
- argmax is a (score desc, label asc) row_number windowed BY DOC —
  partitioned, never global;
- train/test splits reuse the engine's deterministic md5 id-hash
  buckets (:func:`~.sampling.hash_sample` convention), so "train on a
  held-out slice" is a narrow filter, stable under corpus growth.

Features hash to the DSIR / dedup 60-bit md5 prefix, which DuckDB
rebuilds nibble-by-nibble, so the whole pipeline is value-level
oracle-checked (:func:`nb_classify_oracle_sql`).

Reference boundary: the reference engine's only classification is
rule-based field validation (`etl-gcs-cloudsql/src/services/*.ts`);
this module is part of the training-data surface the brief adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators.selection import doc_bucket_counts


def nb_train(
    train: DataFrame,
    label_col: str = "lang",
    buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """(classes, feats): the broadcastable NB model.

    ``classes``: (label, lp6, tot) — micro-unit log prior and the
    class's total feature count (the likelihood denominator, needed at
    scoring time for buckets the class never saw).
    ``feats``: (label, bucket, cnt) — observed feature counts.
    """
    labeled = train.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).alias("label")
    )
    bc = doc_bucket_counts(train, buckets, text_col, id_col).join(
        labeled, "doc_id"
    )
    feats = bc.groupBy("label", "bucket").agg(F.sum("cnt").alias("cnt"))
    n_total = train.count()
    classes = (
        train.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(feats.groupBy("label").agg(F.sum("cnt").alias("tot")), "label")
        .select(
            "label",
            "tot",
            # micro-unit log prior: BIGINT score sums stay exact
            F.round(F.log(F.col("n_docs") / F.lit(n_total)) * 1e6, 0)
            .cast("long")
            .alias("lp6"),
        )
    )
    return classes, feats


def nb_classify(
    docs: DataFrame,
    train: DataFrame,
    label_col: str = "lang",
    buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, pred, score): most probable class per document under the
    NB model trained on ``train`` — score is the exact micro-unit class
    log-score / 1e6, ties broken by label order. Documents with no
    features (empty text still yields its '' token) always classify."""
    classes, feats = nb_train(
        train, label_col, buckets, alpha, text_col, id_col
    )
    bc = doc_bucket_counts(docs, buckets, text_col, id_col)
    # fan out each (doc, bucket) to |classes| rows of the broadcast
    # model; unseen (class, bucket) pairs fall back to the alpha floor
    model_feats = feats.withColumnRenamed("cnt", "ccnt")
    scored = (
        bc.crossJoin(F.broadcast(classes))
        .join(F.broadcast(model_feats), ["label", "bucket"], "left")
        .select(
            "doc_id",
            "label",
            "lp6",
            (
                F.col("cnt")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("ccnt"), F.lit(0)) + F.lit(alpha))
                        / (F.col("tot") + F.lit(alpha) * buckets)
                    )
                    * 1e6,
                    0,
                ).cast("long")
            ).alias("term6"),
        )
        .groupBy("doc_id", "label", "lp6")
        .agg((F.col("lp6") + F.sum("term6")).alias("score6"))
    )
    # argmax(score desc, label asc) as ONE aggregate: min over
    # struct(-score6, label) picks the largest score, smallest label on
    # ties — exactly the old row_number window's order, without the
    # window's per-doc sort (the scores are exact longs, so negation is
    # lossless and the argmax stays deterministic cross-engine).
    best = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("score6")).alias("_ns"), F.col("label").alias("_lb")
            )
        ).alias("_m")
    )
    return best.select(
        "doc_id",
        F.col("_m._lb").alias("pred"),
        (-F.col("_m._ns") / F.lit(1e6)).alias("score"),
    )


def _nb_ctes(
    buckets: int, alpha: float, train_pred: str, label_col: str
) -> str:
    """Shared DuckDB CTE block: the md5 feature bucket (60-bit prefix,
    rebuilt nibble-by-nibble — the DSIR convention), NB training counts
    over the train slice, and per-(doc, class) micro-unit scores."""
    return f"""
    tk AS (
      SELECT doc_id, {label_col} AS label, {train_pred} AS is_train,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    feats_raw AS (
      SELECT doc_id, label, is_train, unnest(t) AS f FROM tk
      UNION ALL
      SELECT doc_id, label, is_train,
             unnest([t[i] || ' ' || t[i + 1]
                     for i in generate_series(1, len(t) - 1)]) AS f
      FROM tk
    ),
    bk AS (
      SELECT doc_id, label, is_train,
             list_sum(
               [(strpos('0123456789abcdef', substr(md5(f), CAST(i AS INT), 1)) - 1)
                * (1::BIGINT << CAST(4 * (15 - i) AS INT))
                for i in generate_series(1, 15)]
             ) % {buckets} AS bucket
      FROM feats_raw
    ),
    doc_bc AS (
      SELECT doc_id, bucket, COUNT(*) AS cnt FROM bk GROUP BY 1, 2
    ),
    class_feats AS (
      SELECT label, bucket, COUNT(*) AS cnt FROM bk WHERE is_train
      GROUP BY 1, 2
    ),
    class_tot AS (
      SELECT label, SUM(cnt) AS tot FROM class_feats GROUP BY 1
    ),
    n_train AS (
      SELECT COUNT(*) AS n FROM (SELECT DISTINCT doc_id FROM tk WHERE is_train)
    ),
    classes AS (
      SELECT t.label, ct.tot,
             CAST(ROUND(ln(t.n_docs::DOUBLE / n.n) * 1e6, 0) AS BIGINT) AS lp6
      FROM (SELECT label, COUNT(DISTINCT doc_id) AS n_docs
            FROM tk WHERE is_train GROUP BY 1) t
      JOIN class_tot ct ON t.label = ct.label
      CROSS JOIN n_train n
    ),
    scores AS (
      SELECT d.doc_id, c.label,
             ANY_VALUE(c.lp6) + SUM(
               d.cnt * CAST(ROUND(
                 ln((COALESCE(cf.cnt, 0) + {alpha})
                    / (c.tot + {alpha} * {buckets})) * 1e6, 0) AS BIGINT)
             ) AS score6
      FROM doc_bc d
      CROSS JOIN classes c
      LEFT JOIN class_feats cf
        ON cf.label = c.label AND cf.bucket = d.bucket
      GROUP BY d.doc_id, c.label
    ),
    preds AS (
      SELECT doc_id, label AS pred, score6 / 1e6 AS score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score6 DESC, label ASC) AS rn
      FROM scores
    )"""


def nb_classify_oracle_sql(
    buckets: int = 1024,
    alpha: float = 1.0,
    train_pred: str = "...",
    test_pred: str = "...",
    label_col: str = "lang",
) -> str:
    """DuckDB oracle for held-out NB classification: per test document,
    its true label, the predicted class, and the exact micro-unit score.
    """
    return f"""
    WITH {_nb_ctes(buckets, alpha, train_pred, label_col)}
    SELECT p.doc_id, d.{label_col} AS actual, p.pred, p.score
    FROM preds p JOIN documents d ON p.doc_id = d.doc_id
    WHERE p.rn = 1 AND {test_pred.replace('doc_id', 'd.doc_id')}
    ORDER BY p.doc_id
    """


def nb_confusion_oracle_sql(
    buckets: int = 1024,
    alpha: float = 1.0,
    train_pred: str = "...",
    test_pred: str = "...",
    label_col: str = "lang",
) -> str:
    """DuckDB oracle for the confusion-matrix summary over the held-out
    slice: (actual, pred, n_docs) — the accuracy surface of the gate."""
    return f"""
    WITH {_nb_ctes(buckets, alpha, train_pred, label_col)}
    SELECT d.{label_col} AS actual, p.pred, COUNT(*) AS n_docs
    FROM preds p JOIN documents d ON p.doc_id = d.doc_id
    WHERE p.rn = 1 AND {test_pred.replace('doc_id', 'd.doc_id')}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """
