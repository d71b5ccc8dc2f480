"""Unit semantics for the batch-3 curation operators: contamination,
sequence packing, stratified sampling (oracle parity is covered by the
gate rehearsal in test_queries.py)."""

import pytest
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators.contamination import (
    ngram_contamination,
)
from gcp_datalake_pipeline_spark.operators.packing import pack_sequences
from gcp_datalake_pipeline_spark.operators.sampling import stratified_sample


def test_ngram_contamination_flags_shared_5gram(spark):
    """A doc embedding a benchmark 5-gram is flagged; a clean doc and a
    too-short doc are not (and both still appear in the output)."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix quick brown fox jumps over suffix words here"),
            (2, "completely unrelated text with no overlap at all"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_contamination(corpus, bench).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1 contains exactly one benchmark 5-gram: 'quick brown fox jumps over'
    assert out[1]["contaminated"] and out[1]["n_hit_ngrams"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hit_ngrams"] == 0
    assert out[3]["n_doc_ngrams"] == 0 and not out[3]["contaminated"]


def test_pack_sequences_offsets_and_spans(spark):
    """Hand-checked concat-and-chop: 3 docs of 3/4/5 tokens, budget 4 ->
    token stream cut at 4 and 8; doc 2 straddles the first cut."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i j k l")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs, max_tokens=4).collect()}
    assert out[1]["start_tok"] == 0 and out[1]["seq_first"] == 0
    assert out[1]["seq_last"] == 0 and out[1]["n_seqs"] == 1
    # doc 2: tokens 3..6 -> sequences 0 and 1
    assert out[2]["start_tok"] == 3
    assert (out[2]["seq_first"], out[2]["seq_last"], out[2]["n_seqs"]) == (0, 1, 2)
    # doc 3: tokens 7..11 -> sequences 1 and 2
    assert out[3]["start_tok"] == 7
    assert (out[3]["seq_first"], out[3]["seq_last"], out[3]["n_seqs"]) == (1, 2, 3 - 1)


def test_pack_sequences_scan_is_sharded_not_single_partition(spark):
    """The global prefix sum must run as the sharded two-pass scan — the
    executed plan may not contain a SinglePartition exchange."""
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("w x y z").alias("text")
    )
    out = pack_sequences(docs, max_tokens=16, num_shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # and the scan is still correct: 4 tokens per doc, contiguous stream
    rows = sorted(
        ((r["doc_id"], r["start_tok"]) for r in out.collect())
    )
    assert rows[0] == (0, 0) and rows[999] == (999, 3996)


def test_stratified_sample_respects_fractions_and_drops_unknown(spark):
    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise(
            F.when(F.col("id") % 4 == 1, "fr").otherwise("xx")
        ).alias("lang"),
    )
    out = stratified_sample(docs, "lang", {"en": 0.5, "fr": 0.1})
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "xx" not in counts  # unlisted stratum dropped entirely
    assert 800 < counts["en"] < 1200  # ~1000 of 2000
    assert 50 < counts["fr"] < 200  # ~100 of 1000
    # deterministic: same call, same rows
    again = {r["doc_id"] for r in
             stratified_sample(docs, "lang", {"en": 0.5, "fr": 0.1}).collect()}
    assert again == {r["doc_id"] for r in out.collect()}


def test_pack_sequences_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert pack_sequences(docs, max_tokens=8).count() == 0


def test_dedup_ingest_batch_loop_matches_full_corpus(spark, tmp_path):
    """Three ingest rounds through the catalog: every near-dup pair is
    flagged exactly once (in the round its later member arrives), the
    union over rounds equals the full-corpus LSH pairs, and on a
    transactional catalog each round commits docs+bands+pairs atomically."""
    import pyspark.sql.functions as F

    from gcp_datalake_pipeline_spark.operators.corpus import dedup_ingest_batch
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    cuts = [0, n // 3, 2 * n // 3, n]
    batches = [
        docs.filter(
            (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
        )
        for i in range(3)
    ]
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert full

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    flagged = set()
    for b in batches:
        rows = dedup_ingest_batch(cat, b).collect()
        new = {(r.doc_a, r.doc_b, r.jaccard) for r in rows}
        assert not (new & flagged), "no pair may be flagged twice"
        flagged |= new
    assert flagged == full
    # catalog state: all docs landed, pairs table matches, atomic rounds
    assert cat.read("corpus_docs").count() == docs.count()
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full
    assert len(cat.versions()) == 3  # one commit per round


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR direction sanity on a constructed pool: docs sharing the
    target's vocabulary outrank docs that don't, and weights are
    deterministic."""
    from gcp_datalake_pipeline_spark.operators import selection

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "quick brown fox and lazy dog"),        # target-like
            (2, "the quick fox jumps again"),            # target-like
            (3, "completely unrelated protocol buffers"),
            (4, "numerical weather prediction models"),
        ],
        "doc_id long, text string",
    )
    top = selection.dsir_topk(raw, target, k=4)
    ranked = [r["doc_id"] for r in top.collect()]
    assert set(ranked[:2]) == {1, 2}, ranked
    again = [
        r["doc_id"] for r in selection.dsir_topk(raw, target, k=4).collect()
    ]
    assert again == ranked


def test_dsir_md5_matches_duckdb_oracle(spark):
    """The registry gate's comparison in-tree at sf0.001: Spark DSIR
    == the nibble-rebuilt DuckDB oracle, value for value."""
    import duckdb

    from gcp_datalake_pipeline_spark.operators import selection
    from gcp_datalake_pipeline_spark.plans.queries import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    got = [
        (r["doc_id"], r["weight"])
        for r in selection.dsir_topk(
            docs, docs.filter(F.col("lang") == "en"), k=15
        ).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    exp = [
        (int(a), float(b))
        for a, b in con.execute(
            selection.dsir_topk_oracle_sql(k=15)
        ).fetchall()
    ]
    assert got == exp and len(exp) == 15


def test_dsir_weight_is_exact_micro_units(spark):
    """Every DSIR weight times 1e6 is an integer — the weighted sum
    stays an exact BIGINT and the only float op is one division. A
    final round(weight, 4) used to sit on a .00005 boundary at sf0.1
    and flip the last digit between Spark and DuckDB (r10 sweep)."""
    from gcp_datalake_pipeline_spark.operators import selection
    from gcp_datalake_pipeline_spark.plans.queries import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    w = selection.dsir_weights(docs, docs.filter(F.col("lang") == "en"))
    # ulp-scaled bound: the round-trip (S/1e6)*1e6 the test performs
    # carries up to ~2*|S|*2^-52 float error, so a fixed 1e-6 would
    # false-fail once micro-sums reach ~1e10 at larger corpora
    mu = F.col("weight") * 1e6
    bad = w.filter(
        F.abs(mu - F.round(mu, 0))
        > F.greatest(F.lit(1e-6), F.abs(mu) * F.lit(1e-12))
    ).count()
    assert bad == 0


def test_temperature_mixture_limits_and_oracle(spark):
    """Temperature mixture endpoints and cross-engine parity: tau=1
    keeps the corpus whole (shares = natural proportions), tau=0 caps
    every stratum near the smallest one (uniform mixture), tau=0.5
    matches the DuckDB oracle value for value."""
    import duckdb

    from gcp_datalake_pipeline_spark.operators import sampling
    from gcp_datalake_pipeline_spark.plans.queries import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    n_by_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    n_min = min(n_by_lang.values())

    # tau=1: share ∝ n -> keep_buckets = 10000 everywhere, nothing drops
    sampled, plan = sampling.temperature_mixture(docs, "lang", tau=1.0)
    assert all(r["keep_buckets"] == 10000 for r in plan.collect())
    assert sampled.count() == docs.count()

    # tau=0: share = 1 -> every stratum TARGETS n_min rows; the hash
    # filter realizes that in expectation (binomial, not exact-count),
    # so allow sampling noise around the target
    sampled0, plan0 = sampling.temperature_mixture(docs, "lang", tau=0.0)
    kept0 = {
        r["lang"]: r["n"]
        for r in sampled0.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # iterate the CORPUS strata, not the sampled ones: a stratum
    # sampled to zero rows must fail the bound, not silently vanish
    for lang in n_by_lang:
        k = kept0.get(lang, 0)
        assert abs(k - n_min) <= 0.25 * n_min + 5, (lang, k, n_min)
    # the smallest stratum is kept whole at tau in [0, 1]
    smallest = min(n_by_lang, key=n_by_lang.get)
    assert kept0[smallest] == n_min

    # tau outside [0, 1] refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tau"):
        sampling.temperature_mixture(docs, "lang", tau=1.5)

    # tau=0.5: value parity with the DuckDB oracle (sqrt is correctly
    # rounded in both engines, so every floor boundary agrees)
    sampled5, plan5 = sampling.temperature_mixture(docs, "lang", tau=0.5)
    kept5 = sampled5.groupBy("lang").agg(F.count("*").alias("kept_rows"))
    got = sorted(
        map(
            tuple,
            plan5.join(kept5, "lang", "left")
            .select(
                "lang",
                "n_rows",
                "keep_buckets",
                F.coalesce("kept_rows", F.lit(0)).alias("kept_rows"),
            )
            .collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    exp = sorted(
        (a, int(b), int(c), int(d))
        for a, b, c, d in con.execute(
            sampling.temperature_mixture_oracle_sql("lang")
        ).fetchall()
    )
    assert got == exp


def test_temperature_mixture_never_drops_a_stratum(spark):
    """Extreme (>10^4x) skew: the head stratum's keep fraction floors
    below one bucket — it must clamp UP to one bucket (overshooting
    its tiny target) rather than silently vanish from the mixture
    (r10 review: a 'uniform' mixture missing a language, no signal)."""
    from pyspark.sql import functions as F

    from gcp_datalake_pipeline_spark.operators import sampling

    df = spark.range(50001).select(
        F.col("id").alias("doc_id"), F.lit("head").alias("lang")
    ).unionByName(
        spark.range(50001, 50004).select(
            F.col("id").alias("doc_id"), F.lit("tail").alias("lang")
        )
    )
    sampled, plan = sampling.temperature_mixture(df, "lang", tau=0.0)
    kb = {r["lang"]: r["keep_buckets"] for r in plan.collect()}
    # raw floor(3/50001 * 10000) = 0 -> clamped to 1
    assert kb["head"] == 1 and kb["tail"] == 10000
    kept = {
        r["lang"]: r["n"]
        for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert kept["tail"] == 3
    # head stays IN the mixture (expected ~5 of 50001 at 1/10000;
    # deterministic md5 membership, so this is a fixed number)
    assert kept.get("head", 0) >= 1


def test_bm25_topk_docs_exact_and_order_free(spark):
    """Doc-level BM25 sums per-term scores as integer micro-units
    (exact, order-free reduction) and ranks deterministically; the
    per-term scores match a hand-computed reference."""
    import math

    from gcp_datalake_pipeline_spark.operators.text import (
        bm25_term_scores,
        bm25_topk_docs,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join spark filter"),
            (2, "join merge"),
            (3, "noise noise noise noise noise noise"),
        ],
        "doc_id long, text string",
    )
    per = {
        (r["doc_id"], r["tok"]): r["bm25"]
        for r in bm25_term_scores(docs, ["spark", "join"]).collect()
    }
    n, avgdl = 3, (4 + 2 + 6) / 3
    k1, b = 1.2, 0.75

    def ref(tf, df, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert per[(1, "spark")] == pytest.approx(ref(2, 1, 4), rel=1e-12)
    assert per[(1, "join")] == pytest.approx(ref(1, 2, 4), rel=1e-12)
    assert per[(2, "join")] == pytest.approx(ref(1, 2, 2), rel=1e-12)
    assert (3,) not in {(k[0],) for k in per}
    top = bm25_topk_docs(docs, ["spark", "join"], k=2).collect()
    assert [r["doc_id"] for r in top] == [1, 2]
    assert top[0]["bm25_micro"] == round(ref(2, 1, 4) * 1e6) + round(
        ref(1, 2, 4) * 1e6
    )


def test_bigram_lm_nll_hand_computed(spark):
    """Hand-checked LM math: reference 'a b a b' -> c2={(a,b):2,(b,a):1},
    c1={a:2,b:1}, V=|{a,b}|+1=3. Scoring 'a b c': P(b|a)=(2+1)/(2+3),
    P(<unk>|b)=(0+1)/(1+3); each -ln P rounded to micro-units, BIGINT
    sum, one division. A single-token doc has no bigram positions and is
    excluded."""
    import math

    from gcp_datalake_pipeline_spark.operators import lm

    ref = spark.createDataFrame([(100, "a b a b")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in lm.doc_lm_nll(docs, ref).collect()}
    assert set(rows) == {1}  # doc 2: one token, no positions
    t1 = round(-math.log((2 + 1.0) / (2 + 3.0)) * 1e6)
    t2 = round(-math.log((0 + 1.0) / (1 + 3.0)) * 1e6)
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["nll"] == (t1 + t2) / (1e6 * 2)


def test_lm_scores_reference_like_docs_lower(spark):
    """Direction sanity: a document phrased like the reference scores a
    lower mean NLL (more probable) than OOV gibberish, deterministically."""
    from gcp_datalake_pipeline_spark.operators import lm

    ref = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(4)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "zzq wvk xjp qqn mmz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["nll"] for r in lm.doc_lm_nll(docs, ref).collect()}
    assert out[1] < out[2]
    again = {r["doc_id"]: r["nll"] for r in lm.doc_lm_nll(docs, ref).collect()}
    assert again == out


def test_perplexity_bands_match_sql_ntile(spark):
    """The closed-form bucket formula == SQL NTILE: 10 docs over 3 bands
    split 4/3/3 in (nll, doc_id) order; with fewer docs than bands each
    doc gets its own band."""
    from gcp_datalake_pipeline_spark.operators import lm

    ref = spark.createDataFrame(
        [(100, "w x y z w x y z")], "doc_id long, text string"
    )
    # graded OOV share -> strictly increasing nll by doc_id construction
    docs = spark.createDataFrame(
        [(i, " ".join(["w x"] * (10 - i) + [f"oov{i} blah"] * i)) for i in range(10)],
        "doc_id long, text string",
    )
    banded = lm.perplexity_bands(docs, ref, bands=3).collect()
    by_band = {}
    for r in banded:
        by_band.setdefault(r["band"], []).append((r["nll"], r["doc_id"]))
    assert sorted(len(v) for v in by_band.values()) == [3, 3, 4]
    assert len(by_band[1]) == 4  # NTILE: first bucket takes the remainder
    # band boundaries respect the global (nll, doc_id) order
    assert max(by_band[1]) <= min(by_band[2])
    assert max(by_band[2]) <= min(by_band[3])

    two = spark.createDataFrame(
        [(1, "w x w"), (2, "oov oov oov")], "doc_id long, text string"
    )
    small = lm.perplexity_bands(two, ref, bands=3).collect()
    assert sorted(r["band"] for r in small) == [1, 2]


def test_nb_classifier_separable_classes(spark):
    """On vocabulary-separable classes NB is exact: every held-out doc of
    each dialect classifies to its own class, deterministically."""
    from gcp_datalake_pipeline_spark.operators import classify

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "A") for i in range(4)]
        + [(10 + i, "omega psi chi phi", "B") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(100, "beta gamma alpha"), (101, "psi phi omega chi psi")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["pred"]
        for r in classify.nb_classify(test, train).collect()
    }
    assert out == {100: "A", 101: "B"}, out


def test_nb_prior_decides_empty_evidence_ties(spark):
    """A doc whose features are equally (un)likely under every class gets
    the class the PRIOR favors; exact tie-breaks fall to label order."""
    from gcp_datalake_pipeline_spark.operators import classify

    # 3 docs of A, 1 of B -> prior favors A; OOV doc has only alpha-floor
    # likelihood terms, identical across classes except the denominators
    train = spark.createDataFrame(
        [(1, "x y", "A"), (2, "x y", "A"), (3, "x y", "A"), (4, "x y", "B")],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(100, "zzz qqq")], "doc_id long, text string"
    )
    out = classify.nb_classify(test, train).collect()
    assert [r["pred"] for r in out] == ["A"]


def test_nb_score_is_exact_micro_units(spark):
    """Hand-check one score: single class, so pred trivially matches but
    the SCORE must equal the micro-unit formula exactly."""
    import math

    from gcp_datalake_pipeline_spark.operators import classify
    from gcp_datalake_pipeline_spark.operators.selection import (
        doc_bucket_counts,
    )

    train = spark.createDataFrame(
        [(1, "a b", "A")], "doc_id long, text string, lang string"
    )
    test = spark.createDataFrame([(100, "a b")], "doc_id long, text string")
    out = classify.nb_classify(test, train, buckets=16).collect()
    assert len(out) == 1 and out[0]["pred"] == "A"
    # model: features of 'a b' = {a, b, 'a b'} -> 3 counts, tot=3
    # doc buckets equal train buckets -> each term cnt=1, ccnt=1
    feats = doc_bucket_counts(test, 16, "text", "doc_id").collect()
    term = round(math.log((1 + 1.0) / (3 + 1.0 * 16)) * 1e6)
    expect = (
        round(math.log(1.0) * 1e6) + sum(r["cnt"] * term for r in feats)
    ) / 1e6
    assert out[0]["score"] == expect


def test_mmr_skips_near_duplicate_candidate(spark):
    """MMR vs plain top-k: with a near-duplicate pair at the top, the
    second MMR pick is the DIVERSE candidate, not the duplicate."""
    from gcp_datalake_pipeline_spark.operators import rerank

    # angles off the query: 1 at +0.57deg, 2 at +1.15deg (near-dup of 1),
    # 3 at -5.7deg (other side: slightly less relevant, much less
    # redundant). Pure relevance ranks 2 over 3; MMR at lam=0.5 flips it:
    # score(2) = (rel2 - sim21)/2 < 0 < (rel3 - sim31)/2 = score(3).
    rows = [
        (0, [1.0, 0.0]),      # query
        (1, [1.0, 0.01]),     # most relevant
        (2, [1.0, 0.02]),     # near-duplicate of 1
        (3, [1.0, -0.1]),     # diverse
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = rerank.mmr_rerank(
        spark, df, query_id=0, k=2, n_candidates=3, lam6=500_000
    ).collect()
    assert [r["vec_id"] for r in out] == [1, 3]
    assert [r["sel_rank"] for r in out] == [1, 2]
    # pure relevance order would have been [1, 2]
    assert out[0]["relevance"] > out[1]["relevance"]


def test_mmr_negative_similarity_boosts_anti_similar(spark):
    """The max-sim term is NOT clamped at zero: a candidate pointing
    AWAY from the picked one gets a positive diversity bonus (the bug
    the sf0.01 oracle sweep caught: clamping under-penalizes)."""
    from gcp_datalake_pipeline_spark.operators import rerank

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),       # top pick
        (2, [-0.1, -0.9]),     # cosine to 1 is NEGATIVE (-0.22)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = rerank.mmr_rerank(
        spark, df, query_id=0, k=2, n_candidates=2, lam6=700_000
    ).collect()
    second = out[1]
    assert second["vec_id"] == 2
    # score6 = lam*rel - (1-lam)*maxsim with maxsim < 0 -> score > lam*rel
    assert second["mmr_score"] > 0.7 * second["relevance"]


def test_mmr_exhausts_small_candidate_sets(spark):
    """k greater than the candidate pool returns every candidate once,
    in selection order, deterministically."""
    from gcp_datalake_pipeline_spark.operators import rerank

    rows = [(i, [float(i + 1), 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = rerank.mmr_rerank(
        spark, df, query_id=0, k=10, n_candidates=3
    ).collect()
    assert len(out) == 3
    assert sorted(r["vec_id"] for r in out) == [1, 2, 3]
    assert [r["sel_rank"] for r in out] == [1, 2, 3]


def test_gopher_quality_rules_on_constructed_docs(spark):
    """Each Gopher rule fires on a purpose-built document and passes on
    a clean one; thresholds are integer-exact at their boundaries."""
    from gcp_datalake_pipeline_spark.operators.text import gopher_quality

    clean = (
        "the cat sat with the dog and that was fine to see have been "
        "good words here more text of prose " * 3
    )
    docs = spark.createDataFrame(
        [
            (1, clean),                                  # passes all
            (2, "too short to count"),                   # word count
            (3, "the " + "a " * 80 + "of that have with be to"),  # mean len < 3
            (4, clean + " ##########" * 8),              # symbol ratio
            (5, "\n".join("- bullet line" for _ in range(10)) + "\n"
                + clean),                                # >90% bullets? 10/11 lines
            (6, "\n".join(f"{clean[:20]}..." for _ in range(10))),  # ellipsis lines
            (7, ("12345 " * 30) + "the of"),             # alpha ratio
            (8, "words without any required stopword list items " * 5),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_quality(docs, min_words=20).collect()
    }
    assert out[1]["pass_gopher"]
    assert not out[2]["ok_word_count"]
    assert not out[3]["ok_mean_word_len"]
    assert not out[4]["ok_symbol_ratio"]
    assert not out[5]["ok_bullet_lines"]
    assert not out[6]["ok_ellipsis_lines"]
    assert not out[7]["ok_alpha_words"]
    assert not out[8]["ok_stopwords"]
    for d in (2, 3, 4, 5, 6, 7, 8):
        assert not out[d]["pass_gopher"]


def _ref_bpe(texts, n_merges, min_count=2):
    """Pure-Python reference BPE trainer (Sennrich et al. 2016): word
    frequency dict, per-round pair counts, max with lexicographic
    tie-break, left-to-right non-overlapping merge."""
    import collections

    wc = collections.Counter(w for t in texts for w in t.lower().split())
    words = {tuple(list(w) + ["▁"]): c for w, c in wc.items()}
    out = []
    for rank in range(n_merges):
        pc = collections.Counter()
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), c = best
        if c < min_count:
            break
        out.append((rank, a, b, a + b, c))
        neww = {}
        for syms, cnt in words.items():
            res = []
            for x in syms:
                if res and res[-1] == a and x == b:
                    res[-1] = a + b
                else:
                    res.append(x)
            neww[tuple(res)] = neww.get(tuple(res), 0) + cnt
        words = neww
    return out


def test_bpe_train_matches_reference_exactly(spark):
    """The distributed trainer reproduces the reference merge sequence
    rank-for-rank — including counts — on a corpus with overlapping
    subwords, and the encoder's piece counts follow the merges."""
    from gcp_datalake_pipeline_spark.operators import bpe

    rows = [(1, "low lower lowest low low"),
            (2, "new newer newest new lower")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in bpe.bpe_train(docs, n_merges=10)
    ]
    assert got == _ref_bpe([t for _i, t in rows], 10)
    # encode: 'low'+END merged => 'low' is 2 pieces; unmerged words more
    enc = {r["doc_id"]: r for r in bpe.bpe_encode(docs, bpe.bpe_train(
        docs, n_merges=10)).collect()}
    assert enc[1]["n_pieces"] < sum(len(w) + 1 for w in rows[0][1].split())
    # min_pair_count floor: a huge floor stops training immediately
    assert bpe.bpe_train(docs, n_merges=5, min_pair_count=10**9) == []


def test_bpe_train_matches_reference_on_real_docs(spark):
    """Same pin on a real documents sample — the corpus the registry
    query trains on (rows-only entry; this test is its oracle)."""
    from gcp_datalake_pipeline_spark.operators import bpe

    real = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(40)
        .cache()
    )
    texts = [r["text"] for r in real.collect()]
    got = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in bpe.bpe_train(real, n_merges=12)
    ]
    assert got == _ref_bpe(texts, 12)
    assert len(got) == 12


def test_cluster_balanced_sample_caps_and_verifies(spark):
    """At most `cap` per cell; rare cells survive whole; ranks dense
    from 1; a starved oversample (absurd margin) refuses loudly naming
    the parameter instead of silently under-selecting."""
    import pytest
    from pyspark.sql import functions as F

    from gcp_datalake_pipeline_spark.operators.selection import (
        cluster_balanced_sample,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = cluster_balanced_sample(emb, cap=8, nlist=16, n_iter=1)
    per = {
        r["cid"]: r["n"]
        for r in out.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    assert per and all(n <= 8 for n in per.values())
    ranks = out.groupBy("cid").agg(
        F.min("r").alias("lo"), F.max("r").alias("hi"),
        F.count("*").alias("n"),
    )
    assert all(
        r["lo"] == 1 and r["hi"] == r["n"] for r in ranks.collect()
    )
    # deterministic: same salt -> identical selection
    again = cluster_balanced_sample(emb, cap=8, nlist=16, n_iter=1)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )
    with pytest.raises(ValueError, match="margin"):
        cluster_balanced_sample(
            emb, cap=8, nlist=16, n_iter=1, margin=1e-6
        )
