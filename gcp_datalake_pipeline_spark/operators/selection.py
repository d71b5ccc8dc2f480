"""Training-data selection by hashed n-gram importance weighting (DSIR).

DSIR — Data Selection with Importance Resampling (Xie et al., NeurIPS
2023, arXiv:2302.03169) — scores every raw document by how much more
likely its hashed n-gram profile is under a TARGET distribution (the
high-quality corpus you want more of) than under the RAW pool's own
distribution:

    w(doc) = Σ_b count_b(doc) · ( log p̂_target(b) − log q̂_raw(b) )

with unigram+bigram features hashed into a fixed bucket space and
Laplace-smoothed bucket probabilities. Selecting the top-weighted
documents up-samples target-like data; it is the standard pretraining
data-selection baseline.

Spark-first shape, each stage shuffle-bounded:

- featurize: ONE explode of (unigrams ++ bigrams) per doc — bigrams
  via a JVM ``transform`` over the token array, no Python — then a
  map-side-combined groupBy to (doc, bucket) counts;
- the bucket log-ratio table is ``buckets`` rows (a config constant:
  DSIR uses 10k–100k buckets at any corpus size), BROADCAST into the
  per-doc weighted sum — scoring a 100 TB pool is one scan + one
  broadcast join + one groupBy(doc);
- selection is a global TakeOrdered top-k (weight desc, doc_id asc),
  never a full sort.

Features hash to the 60-bit md5 hex prefix that ``dedup.py`` also
uses, which DuckDB rebuilds nibble-by-nibble, so the whole pipeline is
value-level oracle-checked (:func:`dsir_topk_oracle_sql`). Log-ratios are quantized to INTEGER
MICRO-UNITS before the weighted sum on both engines (the PQ/SQ8 gate
discipline), so the per-doc sum is an exact BIGINT — cross-engine
float-summation order can never flip a rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BIGRAMS = (
    "transform(slice(tokens, 1, greatest(size(tokens) - 1, 0)), "
    "(t, i) -> concat(t, ' ', tokens[i + 1]))"
)


def doc_bucket_counts(
    df: DataFrame,
    buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bucket, cnt): hashed unigram+bigram counts per doc —
    the featurizer shared by DSIR and the Naive Bayes classifier
    (classify.py): ONE tokenization/hash convention."""
    from gcp_datalake_pipeline_spark.parallelism import (
        ensure_scan_parallelism,
    )

    # unigram+bigram explode + hash is the compute-dense stage shared
    # by DSIR and the NB classifier: spread tiny local scans (cluster
    # no-op — see parallelism.py)
    df = ensure_scan_parallelism(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ex = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("tokens"))
        .select(
            "doc_id",
            F.explode(
                F.concat(F.col("tokens"), F.expr(_BIGRAMS))
            ).alias("f"),
        )
    )
    h = F.conv(F.substring(F.md5("f"), 1, 15), 16, 10).cast("long")
    return ex.groupBy(
        "doc_id", F.pmod(h, F.lit(buckets)).alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance weight per raw document: (doc_id, weight), weight =
    (Σ cnt_b · micro(log p̂_t(b) − log q̂_r(b))) / 1e6 (exact BIGINT
    sum, one correctly-rounded division — never display-rounded),
    probabilities Laplace-smoothed with ``alpha`` over the ``buckets``
    space and log-ratios quantized to integer micro-units."""
    from pyspark.storagelevel import StorageLevel

    # raw_bc feeds BOTH the bucket totals and the final scoring join —
    # persist it so the (expensive at 100 TB) corpus featurize explode
    # runs once, not twice (the perplexity_bands discipline)
    raw_bc = doc_bucket_counts(raw, buckets, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tgt_bc = doc_bucket_counts(target, buckets, text_col, id_col)
    rb = raw_bc.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tb = tgt_bc.groupBy("bucket").agg(F.sum("cnt").alias("tc"))
    # bucket log-ratio table: buckets rows, full-outer so a bucket seen
    # on only one side still gets its smoothed ratio
    totals = (
        rb.agg(F.sum("rc").alias("rt"))
        .crossJoin(tb.agg(F.sum("tc").alias("tt")))
    )
    ratios = (
        rb.join(tb, "bucket", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            # log-ratio in INTEGER MICRO-UNITS (the PQ/SQ8 gate trick):
            # the per-doc weighted sum is then an exact BIGINT sum —
            # order-independent, so cross-engine summation order can
            # never flip a rounding boundary
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(alpha))
                        / (F.col("tt") + F.lit(alpha) * buckets)
                    )
                    - F.log(
                        (F.coalesce(F.col("rc"), F.lit(0)) + F.lit(alpha))
                        / (F.col("rt") + F.lit(alpha) * buckets)
                    )
                )
                * 1e6,
                0,
            ).cast("long").alias("lr6"),
        )
    )
    return (
        raw_bc.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            # NO final display rounding: the micro-unit sum is an exact
            # BIGINT and dividing by 1e6 is a single correctly-rounded
            # op — identical in every engine. A round(x, 4) here sat on
            # a .00005 boundary at sf0.1 (Spark rounds the shortest
            # decimal repr half-up, DuckDB rounds the binary double)
            # and flipped the last digit cross-engine.
            (F.sum(F.col("cnt") * F.col("lr6")) / F.lit(1e6)).alias(
                "weight"
            )
        )
    )


def dsir_topk(
    raw: DataFrame,
    target: DataFrame,
    k: int = 20,
    buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The selection step: top-``k`` raw documents by importance weight
    (desc, doc_id tiebreak) — executes as TakeOrdered, no global sort."""
    w = dsir_weights(raw, target, buckets, alpha, text_col, id_col)
    return w.orderBy(F.desc("weight"), "doc_id").limit(k)


def dsir_topk_oracle_sql(
    k: int = 20,
    buckets: int = 1024,
    alpha: float = 1.0,
    target_pred: str = "lang = 'en'",
) -> str:
    """DuckDB oracle for :func:`dsir_topk` value-for-value:
    same tokenization (lower/trim, whitespace split), same unigram ++
    bigram feature stream, the 60-bit md5-prefix bucket rebuilt
    nibble-by-nibble (the ``dedup.py`` convention), identical Laplace
    smoothing, log-ratios rounded to 6 BEFORE the weighted sum, weight
    left as the exact micro-sum / 1e6 (a final round-to-4 flipped a
    .00005 boundary cross-engine at sf0.1). ``target_pred`` selects the target slice out of the
    same documents table the raw pool reads."""
    return f"""
    WITH tk AS (
      SELECT doc_id, {target_pred} AS is_t,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id, is_t, unnest(t) AS f FROM tk
      UNION ALL
      SELECT doc_id, is_t,
             unnest([t[i] || ' ' || t[i + 1]
                     for i in generate_series(1, len(t) - 1)]) AS f
      FROM tk
    ),
    hx AS (SELECT doc_id, is_t, md5(f) AS hx FROM feats),
    bk AS (
      SELECT doc_id, is_t,
             list_sum(
               [(strpos('0123456789abcdef', substr(hx, CAST(i AS INT), 1)) - 1)
                * (1::BIGINT << CAST(4 * (15 - i) AS INT))
                for i in generate_series(1, 15)]
             ) % {buckets} AS bucket
      FROM hx
    ),
    doc_bc AS (
      SELECT doc_id, bucket, COUNT(*) AS cnt FROM bk GROUP BY 1, 2
    ),
    rb AS (SELECT bucket, COUNT(*) AS rc FROM bk GROUP BY 1),
    tb AS (SELECT bucket, COUNT(*) AS tc FROM bk WHERE is_t GROUP BY 1),
    tot AS (
      SELECT (SELECT SUM(rc) FROM rb) AS rt, (SELECT SUM(tc) FROM tb) AS tt
    ),
    ratios AS (
      SELECT COALESCE(rb.bucket, tb.bucket) AS bucket,
             CAST(ROUND(
               (ln((COALESCE(tc, 0) + {alpha}) / (tt + {alpha} * {buckets}))
                - ln((COALESCE(rc, 0) + {alpha}) / (rt + {alpha} * {buckets})))
               * 1e6, 0) AS BIGINT) AS lr6
      FROM rb FULL OUTER JOIN tb ON rb.bucket = tb.bucket CROSS JOIN tot
    )
    SELECT doc_id, SUM(cnt * lr6) / 1e6 AS weight
    FROM doc_bc JOIN ratios USING (bucket)
    GROUP BY doc_id
    ORDER BY weight DESC, doc_id
    LIMIT {k}
    """


_MOD32 = 1 << 32


def cluster_balanced_sample(
    df: DataFrame,
    cap: int,
    nlist: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "cbal",
    margin: float = 4.0,
) -> DataFrame:
    """Cluster-balanced selection — the diversity step of the
    SemDeDup/D4 pretraining-pool line (Abbas et al. 2023, Tirumala et
    al. 2023): assign every vector to its kmeans cell, keep at most
    ``cap`` per cell, chosen by DETERMINISTIC md5 rank with id tiebreak
    (engine-portable, re-rollable via ``salt``). Dominant clusters are
    capped, rare clusters survive whole. Output: (vec_id, cid, r) with
    r the 1-based within-cell keep rank.

    Scale shape: centroid training is the bounded Lloyd loop
    (:func:`~...similarity.kmeans_centroids`), assignment one Arrow
    matmul pass, and the per-cell top-``cap`` NEVER sorts a whole cell
    in one task: because the rank key is a uniform 32-bit hash, rows
    are pre-filtered to a per-cell cutoff ``margin * cap / cell_count``
    (bounded collects: cell counts ≤ nlist), which keeps ~margin*cap
    survivors per cell; every excluded row hashes strictly above every
    survivor, so the exact within-cell window over survivors equals the
    window over the full cell whenever survivors ≥ cap — VERIFIED per
    cell, with a loud deterministic refusal naming ``margin`` if the
    oversample ever falls short (probability ~exp(-margin·cap/ e) —
    astronomically small at real caps)."""
    from pyspark.sql import Window

    from gcp_datalake_pipeline_spark.operators.similarity import (
        _as_double,
        _assign_cells_arrow,
        kmeans_centroids,
    )

    if cap < 1:
        raise ValueError("cap must be >= 1")
    cents_df = kmeans_centroids(
        df, nlist=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    cents = {
        int(r["cid"]): [float(x) for x in r["cv"]]
        for r in cents_df.collect()
    }
    e = df.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    )
    b32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("vid").cast("string"), F.lit(":" + salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    assigned = (
        _assign_cells_arrow(e, cents)
        .select("vid", "cid")
        .withColumn("_b", b32)
    )
    counts = {
        int(r["cid"]): int(r["n"])
        for r in assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    cut = None
    for cid, n in counts.items():
        p = 1.0 if n <= cap else min(1.0, margin * cap / n)
        c = _MOD32 if p >= 1.0 else int(p * _MOD32) + 1
        branch = (F.col("cid") == cid, F.lit(c))
        cut = (
            F.when(*branch) if cut is None else cut.when(*branch)
        )
    surv = assigned.where(F.col("_b") < cut)
    short = {
        int(r["cid"]): int(r["n"])
        for r in surv.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    under = [
        cid
        for cid, n in counts.items()
        if short.get(cid, 0) < min(cap, n)
    ]
    if under:
        raise ValueError(
            f"cluster_balanced_sample: the hash oversample missed the "
            f"cap in cell(s) {under} — rerun with a larger margin "
            f"(currently {margin})"
        )
    w = Window.partitionBy("cid").orderBy("_b", "vid")
    return (
        surv.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= cap)
        .select(F.col("vid").alias("vec_id"), "cid", "r")
    )


def cluster_balanced_sample_oracle_sql(
    cap: int,
    nlist: int = 16,
    n_iter: int = 2,
    salt: str = "cbal",
) -> str:
    """DuckDB oracle: the shared unrolled-Lloyd assignment CTEs, then
    the SAME md5-prefix rank (nibble arithmetic twin of Spark's
    conv(substring(md5, 1, 8), 16, 10)) capped per cell."""
    from gcp_datalake_pipeline_spark.operators.sampling import (
        _nibble_sum_sql,
    )
    from gcp_datalake_pipeline_spark.operators.similarity import _lloyd_ctes

    ctes, cent = _lloyd_ctes(nlist, n_iter)
    from gcp_datalake_pipeline_spark.operators.similarity import _csim_sql

    return f"""
    WITH {",".join(ctes)},
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_csim_sql("e.v", "c.cv")} DESC, c.cid) AS arnk
        FROM e CROSS JOIN {cent} c
      ) WHERE arnk = 1
    ),
    h AS (
      SELECT vec_id, cid,
             md5(vec_id::VARCHAR || ':{salt}') AS hx
      FROM assigned
    )
    SELECT vec_id, cid, r FROM (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY cid
               ORDER BY ({_nibble_sum_sql()}), vec_id) AS r
      FROM h
    ) WHERE r <= {cap}
    ORDER BY cid, r
    """
