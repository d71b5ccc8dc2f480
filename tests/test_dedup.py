"""Semantic tests for the approximate (non-oracle-able) operators:
MinHash/LSH vs exact Jaccard, SimHash properties, LSH-ANN recall vs
brute force."""

import pytest
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators import dedup, similarity
from gcp_datalake_pipeline_spark.plans.queries import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_minhash_lsh_subset_and_recall(spark, docs):
    """LSH-verified pairs must be a subset of the exact pairs (same
    threshold); with 8 bands of 4 rows recall at j>=0.8 should be high."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} too low"


def test_minhash_signature_estimates_jaccard(spark, docs):
    """Signature agreement fraction approximates true Jaccard for the
    planted near-dup pairs."""
    pairs = dedup.jaccard_pairs(docs, threshold=0.8)
    sigs = dedup.minhash_signatures(docs, num_perm=32)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "jaccard",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                / F.lit(32.0)
            ).alias("est"),
        )
        .collect()
    )
    for r in est:
        assert abs(r["est"] - r["jaccard"]) < 0.35  # 32 perms -> coarse bound


def test_simhash_deterministic_and_discriminative(spark, docs):
    sh1 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    sh2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh1 == sh2  # deterministic across runs

    # identical texts must produce identical simhash
    two = docs.limit(1).select(F.lit(900001).alias("doc_id"), "text", "lang",
                               "source", "n_chars")
    both = docs.limit(1).unionByName(two)
    vals = [r["simhash"] for r in dedup.simhash(both).collect()]
    assert vals[0] == vals[1]


def test_simhash_near_pairs_align_with_jaccard(spark, docs):
    """The planted high-Jaccard pairs should mostly surface as low-Hamming
    SimHash pairs."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.9).collect()
    }
    near = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_pairs(docs, max_hamming=12).collect()
    }
    if exact:
        hit = len(exact & near) / len(exact)
        assert hit >= 0.7, f"simhash recall vs jaccard>=0.9: {hit}"


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(emb, qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # radius-2 multi-probe over 6 planes on uniform random vectors measured
    # 0.64 here; uniform noise is LSH's worst case, so the bound is loose.
    assert recall >= 0.4, f"ANN-LSH recall {recall}"
    # every approx neighbor's similarity must be <= the exact rank-1 sim
    assert len(approx) == len(qids) * 5


def test_embedding_near_dup_lsh_subset_and_recall(spark):
    """LSH-blocked near-dup pairs must be a subset of the exact all-pairs
    set at the same threshold (verification is exact cosine), with nonzero
    recall even on uniform-random vectors (LSH's worst case)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    sim = F.round(
        similarity.dot(F.col("a.v"), F.col("b.v"))
        / (similarity.norm(F.col("a.v")) * similarity.norm(F.col("b.v"))),
        6,
    )
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.3)
        .collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_lsh(emb, threshold=0.3).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.2, f"embedding LSH near-dup recall {recall}"


def test_chunk_boilerplate_strip(spark):
    """Chunks shared across docs are flagged and stripped; unique chunks
    survive in order."""
    shared = " ".join(f"s{i}" for i in range(10))  # one exact 10-token chunk
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, shared + " " + uniq_a),
            (2, shared + " " + uniq_b),
            (3, uniq_b.replace("b", "c")),
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in
           dedup.chunk_boilerplate_report(docs, min_docs=2).collect()}
    assert rep[1]["n_chunks"] == 2 and rep[1]["n_boilerplate"] == 1
    assert rep[2]["n_boilerplate"] == 1
    assert rep[3]["n_boilerplate"] == 0 and rep[3]["kept_ratio"] == 1.0

    stripped = {r["doc_id"]: r["text"] for r in
                dedup.strip_boilerplate_chunks(docs, min_docs=2).collect()}
    assert stripped[1] == uniq_a
    assert stripped[2] == uniq_b
    assert stripped[3] == uniq_b.replace("b", "c")


def test_hll_within_rsd_bounds(spark):
    """approx_count_distinct (rsd=0.02) must land within ~5x rsd of exact."""
    from gcp_datalake_pipeline_spark.plans import QUERIES

    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["approx_distinct_users_hll"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["exact"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(3, 0.1 * exact[k]), (k, est, exact[k])


def test_corpus_curation_lsh_consistent_with_exact(spark, docs):
    """The LSH backend may only differ from exact by missing near-dups
    (recall < 1): every difference must be lsh='kept'/'too_short' where
    exact said 'near_dup' — never the other way."""
    from gcp_datalake_pipeline_spark.operators.corpus import curate_corpus

    exact = {r["doc_id"]: r["disposition"]
             for r in curate_corpus(docs, near_dup_backend="exact").collect()}
    lsh = {r["doc_id"]: r["disposition"]
           for r in curate_corpus(docs, near_dup_backend="lsh").collect()}
    assert set(exact) == set(lsh)
    for d, e_disp in exact.items():
        if lsh[d] != e_disp:
            assert e_disp == "near_dup" and lsh[d] in ("kept", "too_short")
    # dispositions are exhaustive
    assert set(exact.values()) <= {"kept", "exact_dup", "near_dup", "too_short"}


def test_redact_pii_sequential_counts(spark):
    from gcp_datalake_pipeline_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org and 123-456-7890 plus id 987654321"),
            (2, "no pii here at all"),
            (3, "double a@b.co c@d.io"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["n_id_number"] == 1  # email digits NOT double-counted
    assert "<EMAIL>" in out[1]["redacted"] and "<PHONE>" in out[1]["redacted"]
    assert "987654321" not in out[1]["redacted"]
    assert out[2]["n_email"] == 0 and out[2]["redacted"] == "no pii here at all"
    assert out[3]["n_email"] == 2


def test_ann_ivf_recall_vs_brute_force(spark):
    """IVF results must be a subset of valid neighbors and carry exact
    sims; recall vs brute force bounded below (uniform vectors, nprobe 4
    of 16 cells)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"IVF recall {recall}"
    assert len(approx) == len(qids) * 5


def test_redact_pii_idempotent(spark):
    """Redacting an already-redacted corpus is a no-op (the replacement
    tokens must not themselves match any PII pattern)."""
    from gcp_datalake_pipeline_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [(1, "a@b.co and 111-222-3333 and 123456789 end")],
        "doc_id long, text string",
    )
    once = redact_pii(docs).select("doc_id", F.col("redacted").alias("text"))
    twice = {r["doc_id"]: r for r in redact_pii(once).collect()}
    assert twice[1]["n_email"] == 0
    assert twice[1]["n_phone"] == 0
    assert twice[1]["n_id_number"] == 0
    assert twice[1]["redacted"] == "<EMAIL> and <PHONE> and <ID_NUMBER> end"


def test_hash_split_and_sample_properties(spark):
    """Split is exhaustive, disjoint, stable across runs, and roughly honors
    fractions; hash_sample(f) is a subset consistent with its bucket rule."""
    from gcp_datalake_pipeline_spark.operators import sampling

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    s1 = {r["doc_id"]: r["split"] for r in sampling.hash_split(docs).collect()}
    s2 = {r["doc_id"]: r["split"] for r in sampling.hash_split(docs).collect()}
    assert s1 == s2  # deterministic
    n = len(s1)
    from collections import Counter

    c = Counter(s1.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] / n > 0.8  # 90% nominal, loose bound at small n

    # growing the corpus never reassigns an existing id
    half = docs.filter("doc_id % 2 = 0")
    sh = {r["doc_id"]: r["split"] for r in sampling.hash_split(half).collect()}
    assert all(s1[k] == v for k, v in sh.items())

    sample = {r["doc_id"] for r in sampling.hash_sample(docs, 0.2).collect()}
    assert 0.05 < len(sample) / n < 0.4
    # different salt -> different (independent) subsample
    other = {r["doc_id"] for r in sampling.hash_sample(docs, 0.2, salt="s2").collect()}
    assert sample != other


def test_near_dup_clusters_transitive_chain(spark):
    """A chain a-b, b-c, c-d must collapse into ONE cluster labeled by the
    min id, with exactly one canonical row; isolated docs are singletons."""
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [5, 9, 2, 7, 42]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(5, 9), (2, 9), (2, 7)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r for r in
           dedup.near_dup_clusters(docs, pairs).collect()}
    assert {out[i]["cluster_id"] for i in (5, 9, 2, 7)} == {2}
    assert out[2]["is_canonical"] and not out[5]["is_canonical"]
    assert out[42]["cluster_id"] == 42 and out[42]["is_canonical"]


def test_strip_boilerplate_keeps_all_boilerplate_docs_as_empty(spark):
    """A document made ENTIRELY of boilerplate must still come back — with
    empty text — so the output stays keyed 1:1 with the input corpus
    (ADVICE r2: the pre-fix groupBy silently dropped such docs)."""
    shared = " ".join(f"s{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, shared + " " + uniq), (2, shared), (3, shared)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in
           dedup.strip_boilerplate_chunks(docs, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}  # no silent row loss
    assert out[1] == uniq
    assert out[2] == "" and out[3] == ""


def test_near_dup_clusters_unconverged_raises_or_warns(spark):
    """A component whose diameter exceeds max_iter must NOT return wrong
    labels silently: default raises, on_unconverged='warn' warns."""
    import warnings

    n = 8  # path graph 0-1-2-...-7: diameter 7, needs several rounds
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(n)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_clusters(docs, pairs, max_iter=2).collect()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = dedup.near_dup_clusters(
            docs, pairs, max_iter=2, on_unconverged="warn"
        )
        rows = out.collect()
    assert any("did not converge" in str(x.message) for x in w)
    assert len(rows) == n
    # and with enough iterations the same graph converges to one cluster
    ok = {r["doc_id"]: r["cluster_id"] for r in
          dedup.near_dup_clusters(docs, pairs, max_iter=15).collect()}
    assert set(ok.values()) == {0}


def test_shingle_oracle_parity_with_in_doc_repeats(spark):
    """Spark doc_shingles dedupes shingles per doc (array_distinct); the
    DuckDB _SHINGLE_CTE must match via SELECT DISTINCT even when a 3-gram
    repeats INSIDE one document (ADVICE r2 flagged this as divergent — the
    synthetic corpus never exercises it, so pin it here)."""
    import duckdb

    # 'a b c' appears twice in doc 1; doc 2 has it once plus extra tokens.
    rows = [
        (1, "a b c x a b c"),
        (2, "a b c y z w"),
        (3, "q r s t u v"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spark_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.jaccard_pairs(docs, threshold=0.0).collect()
    }
    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle_pairs = {
        (a, b, round(j, 4))
        for a, b, j in con.execute(
            dedup.jaccard_pairs_oracle_sql(threshold=0.0)
        ).fetchall()
    }
    con.close()
    assert spark_pairs == oracle_pairs
    # sanity: the repeated in-doc shingle was actually deduped (4 distinct
    # shingles in doc 1, not 5 positional ones)
    n1 = dedup.doc_shingles(docs).filter("doc_id = 1").count()
    assert n1 == 4


def test_kmeans_centroids_refine_and_search(spark):
    """Lloyd refinement: still nlist centroids, means actually move off
    the seed vectors, and the refined-IVF search stays a valid top-k
    (exact sims, k rows per query) with sane recall vs brute force."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cent = {r["cid"]: r["cv"] for r in
            similarity.kmeans_centroids(emb, nlist=16, n_iter=2).collect()}
    assert len(cent) == 16
    seeds = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in
             emb.filter("vec_id < 16").collect()}
    moved = sum(1 for cid, cv in cent.items()
                if [round(x, 3) for x in cv] != [round(x, 3) for x in seeds[cid]])
    assert moved >= 12  # nearly every cell mean moved off its seed

    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_force_topk(emb, qids, k=5).collect()}
    refined = similarity.ivf_topk(
        emb, qids, k=5,
        centroids=similarity.kmeans_centroids(emb, nlist=16, n_iter=2),
    ).collect()
    assert len(refined) == len(qids) * 5
    approx = {(r["query_id"], r["neighbor_id"]) for r in refined}
    assert len(exact & approx) / len(exact) >= 0.2


def test_brute_force_topk_arrow_backend_identical(spark):
    """The Arrow/BLAS backend must produce EXACTLY the HOF path's output
    (6-decimal rounding absorbs float-summation-order differences)."""
    from gcp_datalake_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(5))

    def key(df):
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
            for r in df.collect()
        }

    hof = key(brute_force_topk(emb, qids, k=5))
    arrow = key(brute_force_topk(emb, qids, k=5, backend="arrow"))
    assert hof == arrow and len(hof) == 25

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown backend"):
        brute_force_topk(emb, qids, backend="nope")


def test_embedding_near_dup_arrow_backend_identical(spark):
    from gcp_datalake_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def key(df):
        return {
            (r["vec_a"], r["vec_b"]): r["cosine_sim"] for r in df.collect()
        }

    hof = key(embedding_near_dup_pairs(emb, threshold=0.3))
    arrow = key(embedding_near_dup_pairs(emb, threshold=0.3, backend="arrow"))
    assert hof == arrow and len(hof) > 0


def test_embedding_near_dup_lsh_arrow_backend_identical(spark):
    from gcp_datalake_pipeline_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def key(df):
        return {
            (r["vec_a"], r["vec_b"]): r["cosine_sim"] for r in df.collect()
        }

    hof = key(embedding_near_dup_lsh(emb, threshold=0.3))
    arrow = key(embedding_near_dup_lsh(emb, threshold=0.3, backend="arrow"))
    assert hof == arrow and len(hof) > 0


def test_near_dup_clusters_pointer_doubling_log_rounds(spark):
    """A 24-node chain needs ~23 label-prop rounds but only O(log n)
    pointer-doubling rounds: label_prop at max_iter=3 must refuse
    (labels would be wrong) while pointer_doubling converges within 8
    rounds to the single component."""
    from gcp_datalake_pipeline_spark.operators import dedup

    n = 24
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_clusters(docs, pairs, max_iter=3).collect()
    out = dedup.near_dup_clusters(
        docs, pairs, max_iter=8, method="pointer_doubling"
    ).collect()
    assert all(r["cluster_id"] == 0 for r in out)
    assert sum(r["is_canonical"] for r in out) == 1


def test_near_dup_clusters_deep_chain_no_lineage_blowup(spark):
    """A 50-round-deep chain under plain label propagation: without the
    periodic localCheckpoint the logical plan deepens ~3 joins per round
    and Catalyst re-analysis cost grows superlinearly (this test would
    crawl, then eventually StackOverflow on much deeper graphs). With
    lineage truncated every 5 rounds it completes, labels exact."""
    import time

    from gcp_datalake_pipeline_spark.operators import dedup

    n = 51  # node 50 is 50 hops from node 0 -> 50 propagation rounds
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    t0 = time.perf_counter()
    out = dedup.near_dup_clusters(docs, pairs, max_iter=55).collect()
    elapsed = time.perf_counter() - t0
    assert all(r["cluster_id"] == 0 for r in out)
    assert sum(r["is_canonical"] for r in out) == 1
    # generous wall bound: the point is superlinear blowup, not speed
    assert elapsed < 120, f"lineage blowup suspected: {elapsed:.0f}s"


def test_near_dup_clusters_methods_agree(spark):
    from gcp_datalake_pipeline_spark.operators import dedup

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 7), (2, 5), (9, 11)], "doc_a long, doc_b long"
    )
    a = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup.near_dup_clusters(docs, pairs).collect()
    }
    b = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup.near_dup_clusters(
            docs, pairs, method="pointer_doubling"
        ).collect()
    }
    assert a == b


# -- chunking / domain cap (training-data prep; operators live in text/
# sampling but are tested here beside the other documents operators) -----


def test_chunk_documents_overlap_and_short_docs(spark):
    from gcp_datalake_pipeline_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "x y"),  # shorter than one window -> exactly one chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=5, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text, r.chunk_len))
    # stride 3: chunks at 0,3,6 cover [0,5),[3,8),[6,10); start 9 would
    # add nothing beyond overlap -> k = ceil((10-2)/3) = 3
    assert [c[1] for c in sorted(by_doc[1])] == [
        "a b c d e", "d e f g h", "g h i j",
    ]
    assert [c[2] for c in sorted(by_doc[1])] == [5, 5, 4]
    assert by_doc[2] == [(0, "x y", 2)]
    # consecutive chunks overlap by exactly `overlap` tokens
    c0, c1 = by_doc[1][0][1].split(), by_doc[1][1][1].split()
    assert c0[-2:] == c1[:2]

    with __import__("pytest").raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_per_source_cap_salted_equals_plain(spark):
    from gcp_datalake_pipeline_spark.operators.sampling import per_source_cap

    rows = [(i, f"s{i % 3}") for i in range(100)] + [
        (100 + i, "mega") for i in range(200)  # skewed domain
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    plain = {(r.doc_id, r.source) for r in per_source_cap(df, cap=7).collect()}
    salted = {
        (r.doc_id, r.source)
        for r in per_source_cap(df, cap=7, salt_buckets=5).collect()
    }
    assert plain == salted
    # the cap keeps the 7 SMALLEST ids per source
    megas = sorted(d for d, s in plain if s == "mega")
    assert megas == list(range(100, 107))
    assert sum(1 for _, s in plain if s == "s0") == 7


def test_kmeans_centroids_arrow_hof_identical(spark):
    """The fused Arrow partial-sum Lloyd step must produce EXACTLY the
    HOF posexplode/avg path's centroids (same round-6 + lowest-cid
    contract; sum/count is the same partial-merge shape as avg)."""
    from gcp_datalake_pipeline_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    key = lambda df: sorted(
        (r["cid"], tuple(round(x, 6) for x in r["cv"])) for r in df.collect()
    )
    a = key(similarity.kmeans_centroids(emb, nlist=8, n_iter=2, backend="arrow"))
    h = key(similarity.kmeans_centroids(emb, nlist=8, n_iter=2, backend="hof"))
    assert a == h


def test_incremental_near_dups_equals_full_run_new_pairs(spark):
    """Incremental (new batch probes the band index) must equal the
    full-corpus LSH pairs restricted to pairs with >=1 new member — and
    never emit an existing x existing pair. The persisted-bands path
    (existing_bands=) must equal the recompute path."""
    from gcp_datalake_pipeline_spark.operators.dedup import (
        incremental_near_dups,
        minhash_bands,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = (docs.agg(F.floor((F.max("doc_id") + 1) / 2)).first()[0])
    existing = docs.filter(F.col("doc_id") < k)
    new = docs.filter(F.col("doc_id") >= k)

    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    expected = {(a, b, j) for (a, b, j) in full if b >= k}
    assert expected, "fixture must produce at least one incremental pair"

    inc = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in incremental_near_dups(existing, new).collect()
    }
    assert inc == expected
    assert all(b >= k for (_, b, _) in inc)  # no existing x existing

    stored = minhash_bands(existing)
    inc2 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in incremental_near_dups(
            existing, new, existing_bands=stored
        ).collect()
    }
    assert inc2 == expected


def test_incremental_embedding_near_dups_equals_restricted_full(spark):
    from gcp_datalake_pipeline_spark.operators.similarity import (
        embedding_buckets,
        embedding_near_dup_lsh,
        incremental_embedding_near_dups,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = emb.agg(F.floor((F.max("vec_id") + 1) / 2)).first()[0]
    existing = emb.filter(F.col("vec_id") < k)
    new = emb.filter(F.col("vec_id") >= k)

    full = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in embedding_near_dup_lsh(emb, threshold=0.3).collect()
    }
    expected = {(a, b, s) for (a, b, s) in full if b >= k}
    assert expected, "fixture must produce at least one incremental pair"

    inc = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in incremental_embedding_near_dups(
            existing, new, threshold=0.3
        ).collect()
    }
    assert inc == expected
    assert all(b >= k for (_, b, _) in inc)

    stored = embedding_buckets(existing)
    inc2 = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in incremental_embedding_near_dups(
            existing, new, threshold=0.3, existing_buckets=stored
        ).collect()
    }
    assert inc2 == expected


def test_ann_pq_recall_vs_exact_l2(spark):
    """PQ/ADC results approximate the EXACT squared-L2 ranking (PQ's own
    metric — not cosine): bounded recall on uniform vectors (no cluster
    structure = PQ's worst case; measured 0.28 with 16-entry codebooks),
    full k rows per query, distances non-negative and ascending."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    out = similarity.pq_topk(emb, qids, k=5).collect()
    assert len(out) == len(qids) * 5

    V = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in emb.collect()
    }
    exact = set()
    for q in qids:
        top = sorted(
            (float(((V[q] - V[n]) ** 2).sum()), n) for n in V if n != q
        )[:5]
        exact |= {(q, n) for _d, n in top}
    approx = {(r["query_id"], r["neighbor_id"]) for r in out}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15, f"PQ recall {recall}"

    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        assert r["adc_dist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r["adc_dist"])
    for dists in by_q.values():
        assert dists == sorted(dists)


def test_ann_pq_planted_duplicate_scores_zero(spark):
    """End-to-end PQ determinism: a planted exact duplicate of a
    CODEBOOK SEED vector encodes to the seed's own codes, so its ADC
    distance to that seed query is exactly 0.0 and it ranks first."""
    import numpy as np

    rng = np.random.default_rng(31)
    vecs = rng.uniform(-1, 1, (20, 16)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    rows.append((20, [float(x) for x in vecs[0]]))  # duplicate of seed 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        similarity.pq_topk(df, [0], k=3, m=4, ksub=8).collect(),
        key=lambda r: r["rank"],
    )
    assert out[0]["neighbor_id"] == 20
    assert out[0]["adc_dist"] == 0.0


def test_ann_pq_scoring_stays_jvm_and_broadcast(spark):
    """Plan contract: the N x Q ADC scoring joins the broadcast query
    tables with no SortMergeJoin, and the only Python stage is the
    Arrow encoding pass (one ArrowEvalPython/mapInPandas over the
    corpus — never per-pair)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = (
        similarity.pq_topk(emb, [0, 1, 2], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("MapInPandas") == 1


def test_ann_ivf_pq_full_probe_equals_pq(spark):
    """IVF-PQ with nprobe == nlist degenerates to plain PQ (every cell
    probed -> the candidate set is the whole corpus): results must be
    EXACTLY equal — pins that cell pruning changes coverage, never
    scores."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    full = {
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
        for r in similarity.ivf_pq_topk(
            emb, qids, k=5, nlist=16, nprobe=16
        ).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
        for r in similarity.pq_topk(emb, qids, k=5).collect()
    }
    assert full == pq and full


def test_ann_ivf_pq_one_corpus_pass_and_broadcast(spark):
    """Plan contract: cell assignment AND PQ encoding happen in ONE
    Arrow pass over the corpus (exactly one MapInPandas), scoring joins
    the broadcast probe/table rows — no SortMergeJoin anywhere."""
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = (
        similarity.ivf_pq_topk(emb, [0, 1, 2], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ann_sq8_recall_vs_exact_l2(spark):
    """SQ8 quantizes each dimension to 256 affine buckets, so its
    asymmetric L2 ranking should track the exact one closely — much
    tighter than PQ's 16-entry codebooks (expect near-perfect recall
    on these vectors); full k rows, non-negative ascending distances."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    qids = [0, 1, 2, 3, 4]
    out = similarity.sq8_topk(emb, qids, k=5).collect()
    assert len(out) == len(qids) * 5

    V = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in emb.collect()
    }
    exact = set()
    for q in qids:
        top = sorted(
            (float(((V[q] - V[n]) ** 2).sum()), n) for n in V if n != q
        )[:5]
        exact |= {(q, n) for _d, n in top}
    approx = {(r["query_id"], r["neighbor_id"]) for r in out}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"SQ8 recall {recall}"

    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        assert r["sq8_dist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r["sq8_dist"])
    for dists in by_q.values():
        assert dists == sorted(dists)


def test_ann_sq8_planted_duplicate_and_constant_dim(spark):
    """An exact duplicate reconstructs to the same codes, so its
    asymmetric distance is the pure quantization noise — far below any
    true neighbor — and it ranks first. A CONSTANT dimension (range 0)
    codes as 0 and reconstructs exactly (no division blow-up)."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-1, 1, (20, 16)).round(3)
    vecs[:, 5] = 0.25  # constant dimension
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    rows.append((20, [float(x) for x in vecs[3]]))  # duplicate of 3
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        similarity.sq8_topk(df, [3], k=3).collect(),
        key=lambda r: r["rank"],
    )
    assert out[0]["neighbor_id"] == 20
    # duplicate's distance = quantization noise only: tiny vs neighbors
    assert out[0]["sq8_dist"] < out[1]["sq8_dist"] / 10


def test_ann_sq8_scoring_stays_jvm_and_broadcast(spark):
    """Plan contract: SQ8 has NO Python stage at all (train is one
    aggregation, encode/score are HOFs) and the N x Q scoring is a
    broadcast nested-loop, never a SortMergeJoin."""
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = (
        similarity.sq8_topk(emb, [0, 1, 2], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_removes_within_cluster_duplicates(spark):
    """SemDeDup on a constructed corpus: two tight groups of near-
    identical vectors in different regions plus isolated vectors —
    every group keeps its lowest id, loses the rest, isolated vectors
    survive, and the two backends agree."""
    import random

    rng = random.Random(7)
    dim = 8

    def jitter(base, eps):
        return [x + rng.uniform(-eps, eps) for x in base]

    a = [1.0] * dim                    # group A around all-ones
    b = [1.0, -1.0] * (dim // 2)       # group B, orthogonal-ish region
    rows = [
        (0, jitter(a, 0.01)), (1, jitter(a, 0.01)), (2, jitter(a, 0.01)),
        (10, jitter(b, 0.01)), (11, jitter(b, 0.01)),
        # isolated: distinct directions, nowhere near the groups
        (20, [float(i == 3) for i in range(dim)]),
        (21, [float(i == 5) - float(i == 6) for i in range(dim)]),
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>"
    )
    removed = similarity.semdedup(emb, threshold=0.95, nlist=4, n_iter=2)
    got = {r["vec_id"] for r in removed.collect()}
    assert got == {1, 2, 11}  # lowest id of each group survives
    hof = similarity.semdedup(
        emb, threshold=0.95, nlist=4, n_iter=2, backend="hof"
    )
    assert sorted(map(tuple, hof.collect())) == sorted(
        map(tuple, removed.collect())
    )


def test_semdedup_matches_duckdb_oracle(spark):
    """The registry gate's exact comparison, in-tree: Spark semdedup ==
    the unrolled-Lloyd DuckDB oracle on the real embeddings table."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(
            tuple,
            similarity.semdedup(
                load_table(spark, sf, "embeddings"), threshold=0.3
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    exp = [
        (int(v), int(c))
        for v, c in con.execute(
            similarity.semdedup_oracle_sql(threshold=0.3)
        ).fetchall()
    ]
    assert got == exp and len(exp) > 0


def test_pq_rotated_equals_pq_on_prerotated_frame(spark):
    """pq_rotated_topk is pq_topk after a seeded rotation — pin the
    composition by materializing the rotation explicitly and comparing,
    and pin rotation determinism + round-6 orthonormality."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    R = similarity.rotation_matrix(64)
    assert np.array_equal(R, similarity.rotation_matrix(64))
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-4  # round-6 ortho
    rows = emb.select("vec_id", "embedding").collect()
    rotated = spark.createDataFrame(
        [
            (
                int(r["vec_id"]),
                [
                    float(x)
                    for x in np.round(
                        np.array(r["embedding"], dtype=np.float64) @ R, 6
                    )
                ],
            )
            for r in rows
        ],
        "vec_id long, embedding array<double>",
    )
    a = sorted(
        map(tuple, similarity.pq_rotated_topk(emb, [3, 57], k=5).collect())
    )
    b = sorted(map(tuple, similarity.pq_topk(rotated, [3, 57], k=5).collect()))
    assert a == b and len(a) == 10


def test_opq_rotation_reduces_quantization_error(spark):
    """The OPQ-trained rotation: deterministic, orthonormal, and lower
    first-ksub-codebook quantization error than NO rotation on
    correlated data (the case rotation exists for)."""
    import numpy as np

    rng = np.random.RandomState(0)
    dim, n, m, ksub = 16, 200, 4, 8
    # correlated: a few strong directions, so unrotated subspaces are
    # unbalanced
    basis = rng.standard_normal((dim, dim))
    scales = np.linspace(3.0, 0.05, dim)
    X = rng.standard_normal((n, dim)) * scales @ basis

    def err(R):
        Y = X @ R
        cb = Y[:ksub].reshape(ksub, m, dim // m).transpose(1, 0, 2)
        Ys = Y.reshape(n, m, dim // m)
        tot = 0.0
        for s in range(m):
            d = ((Ys[:, s, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
            tot += d.min(axis=1).sum()
        return tot

    R = similarity.opq_train_rotation(X, m, ksub)
    assert np.array_equal(R, similarity.opq_train_rotation(X, m, ksub))
    assert np.abs(R @ R.T - np.eye(dim)).max() < 1e-4
    assert err(R) < err(np.eye(dim))
    # the opq serving mode runs end to end and returns ranked rows
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = similarity.pq_rotated_topk(
        emb, [3, 57], k=5, rotation="opq", train_n=64
    )
    got = out.collect()
    assert len(got) == 10
    assert {r["query_id"] for r in got} == {3, 57}


# -- exact repeated-span dedup (r11, Lee et al. arXiv:2107.06499) -------------


def test_find_repeated_spans_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z"),
            (2, "p q a b c d e r"),   # shares 'a b c d e' with 1
            (3, "totally different text here now"),
        ],
        "doc_id long, text string",
    )
    from gcp_datalake_pipeline_spark.operators.dedup import (
        find_repeated_spans,
        span_occurrences,
    )

    got = {
        (r["span"], r["n_docs"], r["n_occ"])
        for r in find_repeated_spans(docs, window=5).collect()
    }
    assert got == {("a b c d e", 2, 2)}
    # hashed variant: same groups, 8-byte keys
    hashed = find_repeated_spans(docs, window=5, hash_spans=True).collect()
    assert [(r["n_docs"], r["n_occ"]) for r in hashed] == [(2, 2)]
    # short docs contribute nothing
    assert (
        span_occurrences(
            spark.createDataFrame([(9, "a b")], "doc_id long, text string"),
            window=5,
        ).count()
        == 0
    )


def test_strip_repeated_spans_keeps_first_occurrence(spark):
    """The canonical (smallest doc, pos) occurrence survives; every
    other occurrence's tokens are masked; overlapping duplicated spans
    union; untouched docs pass through byte-identical."""
    from gcp_datalake_pipeline_spark.operators.dedup import (
        strip_repeated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e tail one"),
            (2, "head a b c d e tail"),      # dup of doc1's span
            (3, "a b c d e f"),              # overlapping dups a..e, b..f
            (4, "b c d e f end"),
            (5, "untouched document stays put"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_repeated_spans(docs, window=5).collect()
    }
    assert out[1] == "a b c d e tail one"      # canonical for a..e
    # doc2 loses 'a b c d e' (canonical at doc1 pos1) AND 'tail' —
    # 'b c d e tail' is ALSO duplicated (doc1 pos2 is canonical), and
    # masked positions union
    assert out[2] == "head"
    # doc3: 'a b c d e' masked (doc1 canonical); 'b c d e f' canonical
    # occurrence is doc3 pos2 -> only 'a' is additionally masked?? no:
    # positions 1-5 masked by a..e; span b..f at pos2 IS canonical
    # (3,2) < (4,1): its tokens 2-6 stay ONLY where not masked by a..e
    assert out[3] == "f"
    assert out[4] == "end"                     # b..f dup of doc3's
    assert out[5] == "untouched document stays put"
    # row count and other columns preserved
    assert strip_repeated_spans(docs, window=5).count() == 5


def test_embedding_near_dup_lsh_candidate_cap_refuses(spark):
    """Planes sized for one corpus silently degrade toward all-pairs on
    a bigger one — the operator estimates candidate volume from the
    bucket-occupancy histogram and refuses LOUDLY past max_candidates,
    naming n_planes as the knob (instead of dying mid-materialization,
    as the sf1 sweep showed a 24g JVM doing). The default cap admits
    the gate's corpora; an absurdly low cap trips on any corpus."""
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="n_planes"):
        similarity.embedding_near_dup_lsh(
            emb, threshold=0.3, max_candidates=10
        )
    # cap=None disables the guard entirely
    assert (
        similarity.embedding_near_dup_lsh(
            emb, threshold=0.3, max_candidates=None
        ).count()
        > 0
    )


def test_kernel_values_match_duckdb(spark, docs):
    """Per-document values of the Arrow/numpy kernels equal the DuckDB
    CTEs the registry oracles are built from: ``sigel`` for the MinHash
    signatures, ``bandhash`` for the band index and ``fp`` for the
    SimHash fingerprints. The reference is independent of Spark, and
    tokenization (re.ASCII \\s+ == \\s+), md5 arithmetic, permutation
    math and band hashing are exact integer paths, so equality is
    bitwise."""
    from gcp_datalake_pipeline_spark.plans.compare import duckdb_connection

    ctes = (
        f"WITH {dedup._SHINGLE_CTE}, {dedup._HASH60_CTE},"
        f"{dedup._lsh_candidate_ctes(32, 8)},{dedup._SIMHASH_CTE}"
    )
    con = duckdb_connection(SF_DIR)
    try:
        ref_sig = {
            int(d): [int(x) for x in sig]
            for d, sig in con.execute(
                f"{ctes} SELECT doc_id, list(mh ORDER BY seed) "
                "FROM sigel GROUP BY doc_id"
            ).fetchall()
        }
        ref_band = {
            (int(d), int(b), h)
            for d, b, h in con.execute(
                f"{ctes} SELECT doc_id, band_id, band_hash FROM bandhash"
            ).fetchall()
        }
        ref_fp = {
            int(d): int(v)
            for d, v in con.execute(
                f"{ctes} SELECT doc_id, simhash FROM fp"
            ).fetchall()
        }
    finally:
        con.close()

    sig = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures(docs).collect()
    }
    assert sig == ref_sig and sig
    band = {
        (r["doc_id"], int(r["band_id"]), r["band_hash"])
        for r in dedup.minhash_bands(docs).collect()
    }
    assert band == ref_band and len(band) == 8 * len(sig)
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert fp == ref_fp and fp


def test_arrow_backends_drop_shingleless_docs(spark):
    """Documents with no shingles (under 3 tokens, empty, or NULL text)
    must yield NO fingerprint/signature row, like the oracles' shingle
    CTE, which has no row for them."""
    d = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, None), (4, "a b c d")],
        "doc_id long, text string",
    )
    assert [r["doc_id"] for r in dedup.simhash(d).collect()] == [4]
    assert [
        r["doc_id"]
        for r in dedup.minhash_signatures(d).collect()
    ] == [4]


def test_lsh_bucket_arrow_matches_hof(spark):
    """r13 optimization pin: the vectorized hyperplane-bucket kernel
    must produce bitwise-identical buckets to the interpreted HOF fold
    (per-dimension accumulation replays the fold's exact left-to-right
    IEEE addition order, so every sign bit matches), and the arrow/hof
    backends of lsh_topk and semdedup must agree row-for-row."""
    emb = load_table(spark, SF_DIR, "embeddings")
    a = {(r.vid, r.bucket) for r in similarity.embedding_buckets(emb).collect()}
    b = {
        (r.vid, r.bucket)
        for r in similarity.embedding_buckets(emb, backend="hof").collect()
    }
    assert a == b and a

    ta = similarity.lsh_topk(emb, [0, 1, 2], k=5).orderBy(
        "query_id", "rank"
    ).collect()
    tb = similarity.lsh_topk(emb, [0, 1, 2], k=5, backend="hof").orderBy(
        "query_id", "rank"
    ).collect()
    assert ta == tb and ta

    sa = similarity.semdedup(emb, threshold=0.3).collect()
    sb = similarity.semdedup(emb, threshold=0.3, backend="hof").collect()
    assert sa == sb
