"""Training-corpus curation gates, batch 3: benchmark decontamination,
sequence packing, and stratified sampling over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators.contamination import (
    ngram_contamination,
    ngram_contamination_oracle_sql,
)
from gcp_datalake_pipeline_spark.operators.packing import (
    pack_sequences,
    pack_sequences_oracle_sql,
)
from gcp_datalake_pipeline_spark.operators.sampling import (
    stratified_sample,
    stratified_sample_oracle_sql,
)
from gcp_datalake_pipeline_spark.operators import classify, graph, lm
from gcp_datalake_pipeline_spark.plans.queries import load_table, register

# The gate treats one source as the held-out benchmark and screens the
# rest of the corpus against it.
_BENCH_SOURCE = "src0"
_LANG_FRACTIONS = {"en": 0.5, "fr": 0.25, "de": 0.25, "es": 0.1, "zh": 0.05}


@register(
    "benchmark_contamination",
    ngram_contamination_oracle_sql(
        corpus_sql=(
            f"SELECT doc_id, text FROM documents WHERE source != '{_BENCH_SOURCE}'"
        ),
        benchmark_sql=(
            f"SELECT doc_id, text FROM documents WHERE source = '{_BENCH_SOURCE}'"
        ),
    ),
    doc="""Decontamination pass: flag corpus documents sharing any word
    5-gram with the held-out benchmark slice (source = src0). Scale: both
    sides reduce to distinct md5(n-gram) sets before the join; the
    benchmark set is small and broadcasts; counting is one doc_id
    shuffle.""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != _BENCH_SOURCE).select(
        "doc_id", "text"
    )
    benchmark = docs.filter(F.col("source") == _BENCH_SOURCE).select(
        "doc_id", "text"
    )
    return ngram_contamination(corpus, benchmark)


@register(
    "pack_sequences_map",
    pack_sequences_oracle_sql(max_tokens=128),
    doc="""Concat-and-chop sequence packing (max_tokens=128, small enough
    that some documents straddle sequence cuts at every test SF): per
    document, its global token offset and the span of training sequences
    it lands in. Scale: the global prefix sum runs as the sharded two-pass
    scan — range partition, parallel per-shard cumsums, driver-side offsets
    bounded by shard count — never a single-task global window.""",
)
def pack_sequences_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, max_tokens=128)


@register(
    "stratified_sample_by_lang",
    stratified_sample_oracle_sql("lang", _LANG_FRACTIONS),
    doc="""Deterministic per-language downsample (rebalancing a multilingual
    corpus: keep half of en, a quarter of fr/de, less of es/zh). Pure
    narrow filter on an id-hash bucket — no shuffle, assignment stable
    under corpus growth, identical in Spark and DuckDB via md5.""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", _LANG_FRACTIONS).select(
        "doc_id", "lang"
    )


@register(
    "doc_lm_perplexity",
    lm.doc_lm_perplexity_oracle_sql(),
    doc="""CCNet-style model-based quality scoring (arXiv:1911.00359): an
    add-alpha bigram LM trained on the reference slice (lang='en'), every
    document scored by mean negative log probability (monotone in
    perplexity); top-30 most reference-like. Scale: the LM is
    reference-bounded and broadcasts; scoring is one corpus scan + one
    map-side-combined groupBy(doc); -ln P terms are integer micro-units
    so per-doc sums are exact BIGINTs.""",
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    return (
        lm.doc_lm_nll(docs, ref)
        .orderBy(F.asc("nll"), "doc_id")
        .limit(30)
    )


@register(
    "doc_perplexity_bands",
    lm.perplexity_bands_oracle_sql(),
    doc="""CCNet's head/middle/tail split: NTILE(3) over the perplexity
    order, summarized per band (count + score extremes). Scale: the global
    rank is the sharded two-pass scan (range partition + per-shard
    row_number + driver offsets bounded by shard count) with a closed-form
    NTILE bucket formula — never a single-task global window.""",
)
def doc_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    banded = lm.perplexity_bands(docs, ref, bands=3)
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("nll").alias("min_nll"),
            F.max("nll").alias("max_nll"),
        )
        .orderBy("band")
    )


# NB classifier gates: train on the md5 id-hash half of the corpus
# (the hash_sample convention), classify the held-out half.
_NB_SALT = "nbtrain"
_NB_CUT = 5000  # bucket < 5000 of SPLIT_BUCKETS=10000 -> train half


def _nb_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gcp_datalake_pipeline_spark.operators import classify, sampling

    docs = load_table(spark, sf_dir, "documents")
    bucket = sampling._hash_bucket(F.col("doc_id"), _NB_SALT)
    train = docs.filter(bucket < _NB_CUT)
    test = docs.filter(bucket >= _NB_CUT)
    preds = classify.nb_classify(test, train, label_col="lang")
    return preds.join(
        docs.select("doc_id", F.col("lang").alias("actual")), "doc_id"
    ).select("doc_id", "actual", "pred", "score")


def _nb_preds_sql() -> tuple[str, str]:
    from gcp_datalake_pipeline_spark.operators.sampling import (
        SPLIT_BUCKETS,
        _nibble_sum_sql,
    )

    bucket = (
        f"(({_nibble_sum_sql(f'''md5(doc_id::VARCHAR || ':{_NB_SALT}')''')})"
        f" % {SPLIT_BUCKETS})"
    )
    return f"{bucket} < {_NB_CUT}", f"{bucket} >= {_NB_CUT}"


_NB_TRAIN_PRED, _NB_TEST_PRED = _nb_preds_sql()


@register(
    "nb_lang_classify",
    classify.nb_classify_oracle_sql(
        train_pred=_NB_TRAIN_PRED, test_pred=_NB_TEST_PRED
    ),
    doc="""Hashed multinomial Naive Bayes language classification (the
    exactly-computable fastText stand-in, arXiv:1607.01759): train on the
    deterministic md5 id-hash half of the corpus, classify the held-out
    half; per-doc (actual, pred, exact micro-unit score). Scale: the model
    is classes x 1024 buckets and broadcasts; scoring is one corpus scan
    + a per-doc-partitioned argmax window.""",
)
def nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nb_preds(spark, sf_dir)


@register(
    "nb_confusion_matrix",
    classify.nb_confusion_oracle_sql(
        train_pred=_NB_TRAIN_PRED, test_pred=_NB_TEST_PRED
    ),
    doc="""The held-out confusion matrix of nb_lang_classify: (actual,
    pred, n_docs) — the gate that keeps the classifier's ACCURACY surface
    (not just its determinism) pinned cross-engine.""",
)
def nb_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _nb_preds(spark, sf_dir)
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "pred")
    )


@register(
    "textrank_keywords",
    graph.textrank_topk_oracle_sql(k=25, iters=10),
    doc="""TextRank corpus keyword extraction (Mihalcea & Tarau 2004):
    exact integer-nano PageRank (10 iterations, d=0.85 as 850/1000 with
    floor division — bit-identical cross-engine) over the token
    co-occurrence graph; top-25 by rank. Scale: edges+out-weights persist
    once; each iteration is one shuffle (join on source key + map-side
    combined BIGINT sum); lineage truncated per iteration.""",
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return graph.textrank_topk(docs, k=25, iters=10)
