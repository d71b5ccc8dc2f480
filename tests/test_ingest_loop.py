"""Round-6 ingest-loop contracts: candidate-proportional verification
I/O (bucket-pruned member fetch), concurrent-round conflict detection,
the embedding twin of the dedup loop, and the bands-missing fallback.

The value-equality of the loop vs the full-corpus run is pinned by
test_curation.test_dedup_ingest_batch_loop_matches_full_corpus (which now
runs the bucketed layout); these tests pin the SCALE contracts."""

import shutil

import pytest
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators import corpus
from gcp_datalake_pipeline_spark.transactions import (
    ConcurrentWriteError,
    TransactionalCatalog,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _batches(df, id_col, n_batches=3):
    n = df.agg(F.max(id_col)).first()[0] + 1
    cuts = [i * n // n_batches for i in range(n_batches)] + [n]
    return [
        df.filter((F.col(id_col) >= cuts[i]) & (F.col(id_col) < cuts[i + 1]))
        for i in range(n_batches)
    ]


@pytest.fixture(scope="module")
def _dedup_rounds(spark, tmp_path_factory):
    """``n -> root``: a transactional catalog after the first ``n``
    ``dedup_ingest_batch`` rounds over the three doc batches, built on
    first use and shared by the module's tests through ``dedup_lake``."""
    roots = {}

    def get(n):
        if n not in roots:
            root = str(tmp_path_factory.mktemp("dedup_rounds") / "lake")
            if n > 1:
                shutil.copytree(get(n - 1), root)
            cat = TransactionalCatalog(spark=spark, root=root)
            docs = spark.read.parquet(DOCS)
            corpus.dedup_ingest_batch(cat, _batches(docs, "doc_id")[n - 1])
            roots[n] = root
        return roots[n]

    return get


@pytest.fixture()
def dedup_lake(spark, _dedup_rounds, tmp_path):
    """``dedup_lake(n)``: a fresh transactional catalog in the state the
    first ``n`` rounds of ``dedup_ingest_batch`` over ``_batches(docs)``
    leave an empty one in. It is a copy of the shared rounds; the
    manifest holds only paths relative to the root, so the copy is the
    same catalog."""

    def make(n):
        lake = str(tmp_path / "lake")
        shutil.copytree(_dedup_rounds(n), lake)
        return TransactionalCatalog(spark=spark, root=lake)

    return make


def test_docs_table_is_kb_partitioned_on_disk(spark, dedup_lake):
    """The ingest loop stores the corpus hash-partitioned on doc_id so
    verification reads can prune; the sidecar bucket metadata makes
    compaction preserve the layout."""
    import json
    import os

    docs = spark.read.parquet(DOCS)
    b1, b2, _ = _batches(docs, "doc_id")
    cat = dedup_lake(2)  # rounds b1, b2
    dirs = cat._data_dirs("corpus_docs")
    kb_dirs = {
        d for dd in dirs for d in os.listdir(dd) if d.startswith("_kb=")
    }
    assert kb_dirs, "docs staged dirs must be _kb-partitioned"
    with open(cat._bucket_meta_path("corpus_docs")) as f:
        meta = json.load(f)
    assert meta == {"num_buckets": 64, "key_cols": ["doc_id"]}
    # read-through keeps the batch schema + _kb partition column
    assert "_kb" in cat.read("corpus_docs").columns
    assert cat.read("corpus_docs").count() == b1.count() + b2.count()


def test_member_fetch_is_partition_pruned(spark, dedup_lake):
    """THE round-6 contract: the verification read of candidate members
    scans only their _kb buckets — PartitionFilters present in the
    FileScan, never a full-table scan. At 100 TB this is the difference
    between opening a handful of buckets and re-reading the corpus every
    ingest round."""
    docs = spark.read.parquet(DOCS)
    b1, b2, _ = _batches(docs, "doc_id")
    cat = dedup_lake(1)  # round b1

    member_ids = b1.select("doc_id").limit(5)
    pruned = corpus._bucket_pruned_members(
        cat, "corpus_docs", "doc_id", 64, member_ids
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters: [" in scan
    pf = scan.split("PartitionFilters: [", 1)[1]
    assert "_kb" in pf.split("]", 1)[0], scan
    # values: exactly the member docs come back, _kb dropped
    got = {r["doc_id"] for r in pruned.select("doc_id").collect()}
    assert got >= {r["doc_id"] for r in member_ids.collect()}
    assert "_kb" not in pruned.columns

    # integration: round 2's verification goes through the pruned fetch
    calls = []
    orig = corpus._bucket_pruned_members

    def spy(catalog, table, id_col, nb, member_ids):
        out = orig(catalog, table, id_col, nb, member_ids)
        calls.append(
            out._jdf.queryExecution().executedPlan().toString()
        )
        return out

    corpus._bucket_pruned_members = spy
    try:
        corpus.dedup_ingest_batch(cat, b2)
    finally:
        corpus._bucket_pruned_members = orig
    assert calls, "bucketed round must verify via the pruned fetch"
    assert all("PartitionFilters: [" in p for p in calls)


def test_member_fetch_skips_files_via_stats_inside_buckets(
    spark, tmp_path
):
    """VERDICT r8 #4: on a stats-capable catalog the member fetch
    composes the _kb partition pruning with the members' [min, max] id
    range as FILE-skipping predicates — a bucket partition grown to
    many files by successive rounds opens only the files whose footer
    stats can hold a member id. Fewer files opened, values unchanged."""
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    docs = spark.read.parquet(DOCS)
    b1, b2, b3 = _batches(docs, "doc_id")
    # 3 rounds with disjoint ascending id ranges: every _kb bucket ends
    # up with one file per round, ranges non-overlapping across rounds
    for b in (b1, b2, b3):
        corpus.dedup_ingest_batch(cat, b, num_buckets=4)

    member_ids = b1.select("doc_id").limit(5)
    pruned = corpus._bucket_pruned_members(
        cat, "corpus_docs", "doc_id", 4, member_ids
    )
    buckets = sorted(
        r["b"]
        for r in member_ids.select(
            corpus._key_bucket("doc_id", 4).alias("b")
        )
        .distinct()
        .collect()
    )
    partition_only = cat.read("corpus_docs").filter(
        F.col("_kb").isin(buckets)
    )
    n_pruned = len(pruned.inputFiles())
    n_partition_only = len(partition_only.inputFiles())
    # the range [min(b1), max(b1)] excludes rounds 2 and 3's files even
    # inside the member buckets: strictly fewer files than partition
    # pruning alone (which still opens every round's file per bucket)
    assert 0 < n_pruned < n_partition_only, (n_pruned, n_partition_only)

    # values: every member row present, result is a subset of the
    # partition-only fetch (the range filter is a superset of members)
    member_set = {r["doc_id"] for r in member_ids.collect()}
    got = {r["doc_id"] for r in pruned.select("doc_id").collect()}
    assert got >= member_set
    assert got <= {
        r["doc_id"] for r in partition_only.select("doc_id").collect()
    }

    # a plain (non-stats) catalog still takes the partition-only path
    from gcp_datalake_pipeline_spark.storage import Catalog

    class NoStats(Catalog):
        pass

    plain = NoStats(spark, str(tmp_path / "plain"))
    b1k = b1.withColumn("_kb", corpus._key_bucket("doc_id", 4))
    plain.append(b1k, "corpus_docs", partition_cols=["_kb"])
    plain_fetch = corpus._bucket_pruned_members(
        plain, "corpus_docs", "doc_id", 4, member_ids
    )
    assert {
        r["doc_id"] for r in plain_fetch.select("doc_id").collect()
    } >= member_set


def test_concurrent_ingest_round_raises_conflict(spark, tmp_path):
    """Two ingest rounds racing on one corpus: the second committer must
    raise ConcurrentWriteError (its snapshot missed the other batch, so
    committing would silently lose cross-batch pairs), and a retry
    against the fresh index must produce exactly the missed pairs."""
    root = str(tmp_path / "lake")
    docs = spark.read.parquet(DOCS)
    b1, b2, b3 = _batches(docs, "doc_id")
    cat1 = TransactionalCatalog(spark=spark, root=root)
    cat2 = TransactionalCatalog(spark=spark, root=root)
    corpus.dedup_ingest_batch(cat1, b1)

    class RacingCatalog(TransactionalCatalog):
        """Commits a CONCURRENT round (cat2, batch b3) after this round's
        snapshot reads but before its commit."""

        raced = False

        def transaction(self, load_id=None):
            if not RacingCatalog.raced:
                RacingCatalog.raced = True
                corpus.dedup_ingest_batch(cat2, b3)
            return super().transaction(load_id)

    racing = RacingCatalog(spark=spark, root=root)
    with pytest.raises(ConcurrentWriteError):
        corpus.dedup_ingest_batch(racing, b2)
    # the failed round rolled back: no partial tables
    stored = cat1.read("corpus_docs")
    assert stored.count() == b1.count() + b3.count()
    # retry-from-read on the fresh snapshot lands and flags b2-pairs
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs

    corpus.dedup_ingest_batch(cat1, b2)
    full = {
        (r.doc_a, r.doc_b, r.jaccard) for r in minhash_lsh_pairs(docs).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat1.read("corpus_near_dup_pairs").collect()
    }
    assert got == full


def test_docs_without_bands_index_recomputes(spark, tmp_path):
    """A docs table populated by another path (no band index) must not
    fail the round: the bands are recomputed from the stored docs and the
    round's pairs still match the full-corpus run."""
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    docs = spark.read.parquet(DOCS)
    b1, b2, _ = _batches(docs, "doc_id")
    cat.append(b1, "corpus_docs")  # no bands, no _kb — foreign layout
    pairs = corpus.dedup_ingest_batch(cat, b2).collect()
    both = b1.unionByName(b2)
    expect = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(both).collect()
        if r.doc_b >= b2.agg(F.min("doc_id")).first()[0]
    }
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in pairs} == expect


def test_stale_integer_band_index_refused_then_rebuilt(spark, dedup_lake):
    """A band index holding 64-bit integer band hashes (written by an
    older engine) would be silently widened to strings by the probe
    union and never match the md5 hex band hashes, losing every
    candidate against the older corpus. The round refuses it before
    committing anything; after the table is dropped, the next round
    rebuilds the index from the stored docs and persists it whole."""
    from gcp_datalake_pipeline_spark.operators.dedup import (
        minhash_bands,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(DOCS)
    b1, b2, _ = _batches(docs, "doc_id")
    cat = dedup_lake(1)  # round b1
    cat.drop_table("corpus_minhash_bands")
    cat.append(
        spark.createDataFrame(
            [(0, 0, 123)], "doc_id long, band_id int, band_hash bigint"
        ),
        "corpus_minhash_bands",
    )
    n_versions = len(cat.versions())
    with pytest.raises(ValueError, match="corpus_minhash_bands"):
        corpus.dedup_ingest_batch(cat, b2)
    assert len(cat.versions()) == n_versions  # nothing committed

    cat.drop_table("corpus_minhash_bands")
    pairs = corpus.dedup_ingest_batch(cat, b2).collect()
    both = b1.unionByName(b2)
    lo = b2.agg(F.min("doc_id")).first()[0]
    expect = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(both).collect()
        if r.doc_b >= lo
    }
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in pairs} == expect
    stored = {
        (r.doc_id, r.band_id, r.band_hash)
        for r in cat.read("corpus_minhash_bands").collect()
    }
    assert stored == {
        (r.doc_id, r.band_id, r.band_hash)
        for r in minhash_bands(both).collect()
    }


def test_embedding_ingest_loop_matches_full_corpus(spark, tmp_path):
    """Three embedding ingest rounds: every near-dup pair flagged exactly
    once, union equals the full-corpus LSH pairs, vectors stored
    bucketed, one atomic commit per round."""
    from gcp_datalake_pipeline_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    emb = spark.read.parquet(EMB)
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    full = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in embedding_near_dup_lsh(emb, threshold=0.3).collect()
    }
    assert full
    flagged = set()
    for b in _batches(emb, "vec_id"):
        rows = corpus.embedding_ingest_batch(cat, b).collect()
        new = {(r.vec_a, r.vec_b, r.cosine_sim) for r in rows}
        assert not (new & flagged), "no pair may be flagged twice"
        flagged |= new
    assert flagged == full
    assert cat.read("corpus_embeddings").count() == emb.count()
    assert "_kb" in cat.read("corpus_embeddings").columns
    stored = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in cat.read("corpus_embedding_near_dup_pairs").collect()
    }
    assert stored == full
    assert len(cat.versions()) == 3


def _landing_files(df, id_col, out_dir, n_files=3):
    """Write n single-file parquets (pandas/pyarrow — real FILES, not
    Spark part-dirs) splitting df by id range, top-level in out_dir."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, b in enumerate(_batches(df, id_col, n_files)):
        p = os.path.join(out_dir, f"batch{i}.parquet")
        b.toPandas().to_parquet(p, index=False)
        paths.append(p)
    return paths


def test_streaming_dedup_ingest_loop(spark, tmp_path):
    """The streaming form of the dedup-ingest loop: landed document files
    stream through atomic rounds (one file per trigger); the union of
    flagged pairs equals the full-corpus run; a re-run on the same
    checkpoint processes nothing; and a LOST checkpoint still produces no
    duplicates (rounds are content-addressed in the version history)."""
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS)
    _landing_files(docs, "doc_id", str(tmp_path / "landing"))
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))

    rounds = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
    )
    assert len(rounds) == 3  # one round per file
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full
    assert cat.read("corpus_docs").count() == docs.count()

    # same checkpoint: nothing new to process
    again = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
    )
    assert again == []
    assert cat.read("corpus_docs").count() == docs.count()

    # checkpoint LOST: the file source re-lists everything, but every
    # round's load_id is already in the version history -> all skipped
    fresh = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt2")
    )
    assert fresh == []
    assert cat.read("corpus_docs").count() == docs.count()
    assert {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    } == full


def test_compacted_corpus_still_prunes_and_ingests(spark, dedup_lake):
    """Long-run maintenance interop: after compact() folds the
    append-grown bucketed corpus into one dir, the _kb layout survives
    (bucket-meta sidecar) and the next ingest round still verifies
    through a partition-pruned read and flags the right pairs."""
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(DOCS)
    b3 = _batches(docs, "doc_id")[2]
    cat = dedup_lake(2)  # rounds b1, b2
    assert cat.compact("corpus_docs")
    assert len(cat._data_dirs("corpus_docs")) == 1
    assert "_kb" in cat.read("corpus_docs").columns

    calls = []
    orig = corpus._bucket_pruned_members

    def spy(catalog, table, id_col, nb, member_ids):
        out = orig(catalog, table, id_col, nb, member_ids)
        calls.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    corpus._bucket_pruned_members = spy
    try:
        corpus.dedup_ingest_batch(cat, b3)
    finally:
        corpus._bucket_pruned_members = orig
    assert calls and all("PartitionFilters: [" in p for p in calls)

    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full


def test_streaming_embedding_ingest_loop(spark, tmp_path):
    """Embedding twin of the streaming loop: landed vector files stream
    through atomic rounds; pairs equal the full-corpus LSH run; replay on
    the same checkpoint is a no-op."""
    from gcp_datalake_pipeline_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_embedding_ingest,
    )

    emb = spark.read.parquet(EMB)
    _landing_files(emb, "vec_id", str(tmp_path / "landing"))
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    rounds = run_streaming_embedding_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
    )
    assert len(rounds) == 3
    full = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in embedding_near_dup_lsh(emb, threshold=0.3).collect()
    }
    stored = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in cat.read("corpus_embedding_near_dup_pairs").collect()
    }
    assert stored == full and full
    assert cat.read("corpus_embeddings").count() == emb.count()
    again = run_streaming_embedding_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
    )
    assert again == []
    assert cat.read("corpus_embeddings").count() == emb.count()


def test_bucket_count_mismatch_uses_sidecar(spark, tmp_path):
    """A later round passing a DIFFERENT num_buckets must use the
    table's persisted bucket count (pruning with the wrong modulus would
    silently drop near-dup pairs and mix two moduli in one table)."""
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(DOCS)
    b1, b2, _ = _batches(docs, "doc_id")
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    corpus.dedup_ingest_batch(cat, b1, num_buckets=32)
    corpus.dedup_ingest_batch(cat, b2, num_buckets=64)  # sidecar says 32
    import os

    kb_vals = {
        int(d.split("=", 1)[1])
        for dd in cat._data_dirs("corpus_docs")
        for d in os.listdir(dd)
        if d.startswith("_kb=")
    }
    assert max(kb_vals) < 32, "second round must keep the mod-32 layout"
    both = b1.unionByName(b2)
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(both).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full  # no silently dropped pairs


def test_streaming_dedup_ingest_jsonl(spark, tmp_path):
    """JSONL landing format (one JSON document per line, the common text-
    corpus shape): same rounds, same pairs as the parquet path."""
    import json
    import os

    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    land = str(tmp_path / "landing")
    os.makedirs(land)
    for i, b in enumerate(_batches(docs, "doc_id", 2)):
        with open(os.path.join(land, f"b{i}.jsonl"), "w") as f:
            for r in b.collect():
                f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    # a half-written staging file must NOT be listed by the jsonl glob
    with open(os.path.join(land, "partial.jsonl.tmp"), "w") as f:
        f.write('{"doc_id": 999999, "te')  # truncated mid-write
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    rounds = run_streaming_dedup_ingest(
        cat, land, str(tmp_path / "ckpt"),
        file_format="jsonl", schema="doc_id long, text string",
    )
    assert len(rounds) == 2  # the .tmp file was never a round
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full and full
    assert cat.read("corpus_docs").count() == docs.count()


def test_streaming_loop_auto_compaction(spark, tmp_path):
    """compact_every folds a table back to one dir whenever its staged-
    dir count reaches the threshold (persisted state, restart-proof)
    without changing any values — the long-run maintenance knob a
    continuously-appending corpus needs."""
    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS)
    _landing_files(docs, "doc_id", str(tmp_path / "landing"), n_files=4)
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    rounds = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt"),
        compact_every=2,
    )
    assert len(rounds) == 4
    # compaction ran after rounds 2 and 4: every table folded to one dir
    for t in ("corpus_docs", "corpus_minhash_bands", "corpus_near_dup_pairs"):
        assert len(cat._data_dirs(t)) == 1, t
    assert "_kb" in cat.read("corpus_docs").columns  # layout preserved
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full
    assert cat.read("corpus_docs").count() == docs.count()


def test_streaming_dedup_ingest_csv_and_orc(spark, tmp_path):
    """CSV (header) and ORC landing formats produce the same rounds and
    pairs as the parquet path."""
    import csv as csvmod
    import os

    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }

    # csv landing
    land = str(tmp_path / "csv_landing")
    os.makedirs(land)
    for i, b in enumerate(_batches(docs, "doc_id", 2)):
        with open(os.path.join(land, f"b{i}.csv"), "w", newline="") as f:
            w = csvmod.writer(f)
            w.writerow(["doc_id", "text"])
            for r in b.collect():
                w.writerow([r["doc_id"], r["text"]])
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "csv_lake"))
    rounds = run_streaming_dedup_ingest(
        cat, land, str(tmp_path / "csv_ckpt"),
        file_format="csv", schema="doc_id long, text string",
    )
    assert len(rounds) == 2
    assert {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    } == full

    # orc landing (written per-batch via Spark, one dir per file is fine:
    # binaryFile lists the part files; use one part per batch)
    land2 = str(tmp_path / "orc_landing")
    os.makedirs(land2)
    for i, b in enumerate(_batches(docs, "doc_id", 2)):
        tmp_out = str(tmp_path / f"orc_out{i}")
        b.coalesce(1).write.mode("overwrite").orc(tmp_out)
        part = next(
            p for p in os.listdir(tmp_out) if p.endswith(".orc")
        )
        os.rename(
            os.path.join(tmp_out, part), os.path.join(land2, f"b{i}.orc")
        )
    cat2 = TransactionalCatalog(spark=spark, root=str(tmp_path / "orc_lake"))
    rounds2 = run_streaming_dedup_ingest(
        cat2, land2, str(tmp_path / "orc_ckpt"), file_format="orc",
    )
    assert len(rounds2) == 2
    assert {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat2.read("corpus_near_dup_pairs").collect()
    } == full


def test_streaming_csv_without_schema_rejected(spark, tmp_path):
    """CSV landing without a schema would type every column string
    (doc_id mismatching parquet-ingested rounds) — hard error up front."""
    import pytest

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    with pytest.raises(ValueError, match="requires a schema"):
        run_streaming_dedup_ingest(
            cat, str(tmp_path / "landing"), str(tmp_path / "ckpt"),
            file_format="csv",
        )


def test_vacuum_then_replay_does_not_double_commit(spark, tmp_path):
    """The round-6 hazard: vacuum(retain_versions=1) inside a checkpoint-
    replay window used to forget round load_ids (they lived in the
    version history) and re-commit them on replay. Markers survive
    vacuum, so a checkpoint-lost replay after an aggressive vacuum still
    skips every committed round."""
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS)
    _landing_files(docs, "doc_id", str(tmp_path / "landing"))
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    rounds = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
    )
    assert len(rounds) == 3
    cat.vacuum(retain_versions=1, min_age_seconds=0.0)
    # checkpoint LOST + history vacuumed: every round must still skip
    fresh = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt2")
    )
    assert fresh == []
    assert cat.read("corpus_docs").count() == docs.count()


def test_streaming_replay_guard_is_o1(spark, tmp_path):
    """The per-batch replay guard must not scan the version history
    (O(retained versions) per micro-batch at production retention): with
    markers present, a full drain + replay never calls versions()."""
    import unittest.mock as mock

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS)
    _landing_files(docs, "doc_id", str(tmp_path / "landing"))
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    with mock.patch.object(
        TransactionalCatalog, "versions",
        side_effect=AssertionError("replay guard scanned the history"),
    ):
        rounds = run_streaming_dedup_ingest(
            cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
        )
        assert len(rounds) == 3
        again = run_streaming_dedup_ingest(
            cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
        )
    assert again == []
    assert cat.read("corpus_docs").count() == docs.count()


def test_poison_pill_dead_letters_and_stream_drains(spark, tmp_path):
    """A persistently malformed landed file must not wedge the stream
    forever: after quarantine_after failures of its round, the file
    moves to the quarantine dir with a provenance row and the remaining
    files drain. Re-running afterwards processes nothing new."""
    import json
    import os

    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    land = str(tmp_path / "landing")
    os.makedirs(land)
    for i, b in enumerate(_batches(docs, "doc_id", 2)):
        with open(os.path.join(land, f"b{i}.jsonl"), "w") as f:
            for r in b.collect():
                f.write(
                    json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )
    with open(os.path.join(land, "poison.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n{"doc_id": 2, broken!!\n')

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    kw = dict(
        file_format="jsonl", schema="doc_id long, text string",
        quarantine_after=2,
    )
    runs_failed = 0
    rounds = []
    for _attempt in range(4):  # failure 1, then quarantine-on-failure-2
        try:
            rounds += run_streaming_dedup_ingest(
                cat, land, str(tmp_path / "ckpt"), **kw
            )
            break
        except Exception:
            runs_failed += 1
    assert runs_failed == 1  # first failure retries; second dead-letters
    # (the failing run's committed-round records die with its exception;
    # the COMMITS landed — asserted via the corpus below)
    quarantined = [r for r in rounds if r.get("quarantined")]
    assert len(quarantined) == 1

    qdir = land.rstrip("/") + "_quarantine"
    qfiles = os.listdir(qdir)
    assert len(qfiles) == 1 and qfiles[0].endswith("poison.jsonl")
    assert not os.path.exists(os.path.join(land, "poison.jsonl"))

    prov = cat.read("corpus_docs_file_quarantine").collect()
    assert len(prov) == 1
    assert prov[0]["src_path"].endswith("poison.jsonl")
    assert prov[0]["n_failures"] == 2

    # good files fully ingested, pairs match the good-docs-only corpus
    assert cat.read("corpus_docs").count() == docs.count()
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    stored = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in cat.read("corpus_near_dup_pairs").collect()
    }
    assert stored == full
    # drained: nothing left, and the failure sidecar is clean
    again = run_streaming_dedup_ingest(
        cat, land, str(tmp_path / "ckpt"), **kw
    )
    assert again == []
    poison_state = str(tmp_path / "ckpt") + ".poison.json"
    if os.path.exists(poison_state):
        with open(poison_state) as f:
            assert json.load(f) == {}


def test_losing_first_round_cannot_corrupt_bucket_sidecar(spark, tmp_path):
    """Two concurrent FIRST rounds with different num_buckets: the loser
    of the commit race must not overwrite the winner's bucket sidecar
    (a mismatched modulus makes later rounds prune the WRONG buckets and
    silently drop near-dup pairs). The sidecar is staged with the
    transaction and published only after conflict checks pass."""
    import json

    from gcp_datalake_pipeline_spark.operators.dedup import minhash_lsh_pairs

    root = str(tmp_path / "lake")
    docs = spark.read.parquet(DOCS)
    b1, b2, b3 = _batches(docs, "doc_id")
    winner = TransactionalCatalog(spark=spark, root=root)

    class RacingCatalog(TransactionalCatalog):
        """First round with num_buckets=16 that loses the race to a
        concurrent first round with the DEFAULT 64 buckets."""

        raced = False

        def transaction(self, load_id=None):
            if not RacingCatalog.raced:
                RacingCatalog.raced = True
                corpus.dedup_ingest_batch(winner, b1)  # wins with B=64
            return super().transaction(load_id)

    racing = RacingCatalog(spark=spark, root=root)
    with pytest.raises(ConcurrentWriteError):
        corpus.dedup_ingest_batch(racing, b2, num_buckets=16)
    # the LOSER's sidecar never landed: the winner's modulus stands
    with open(winner._bucket_meta_path("corpus_docs")) as f:
        assert json.load(f)["num_buckets"] == 64
    # retried rounds adopt the winner's modulus and flag every pair
    corpus.dedup_ingest_batch(winner, b2, num_buckets=16)
    corpus.dedup_ingest_batch(winner, b3)
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in winner.read("corpus_near_dup_pairs").collect()
    }
    assert got == full


def test_rounds_log_matches_committed_rounds(spark, tmp_path):
    """Per-round observability: one metrics row per COMMITTED round,
    inside the round's transaction — replays add none, a conflicted
    round's row rolls back with it."""
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS)
    _landing_files(docs, "doc_id", str(tmp_path / "landing"))
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    rounds = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt")
    )
    log = cat.read("corpus_docs_rounds").collect()
    assert len(log) == len(rounds) == 3
    assert {r["load_id"] for r in log} == {r["load_id"] for r in rounds}
    by_lid = {r["load_id"]: r for r in log}
    for rec in rounds:
        row = by_lid[rec["load_id"]]
        assert row["n_pairs"] == rec["n_pairs"]
        assert row["n_docs"] > 0 and row["duration_sec"] > 0
    total_docs = sum(r["n_docs"] for r in log)
    assert total_docs == docs.count()

    # checkpoint-lost replay: every round skips, the log gains NOTHING
    again = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt2")
    )
    assert again == []
    assert cat.read("corpus_docs_rounds").count() == 3


def test_rounds_log_rolls_back_with_conflicted_round(spark, tmp_path):
    """A round that loses the commit race must not leave a metrics row:
    the log appends inside the same transaction."""
    root = str(tmp_path / "lake")
    docs = spark.read.parquet(DOCS)
    b1, b2, b3 = _batches(docs, "doc_id")
    cat1 = TransactionalCatalog(spark=spark, root=root)
    cat2 = TransactionalCatalog(spark=spark, root=root)
    corpus.dedup_ingest_batch(cat1, b1, rounds_table="rlog", load_id="r1")

    class RacingCatalog(TransactionalCatalog):
        raced = False

        def transaction(self, load_id=None):
            if not RacingCatalog.raced:
                RacingCatalog.raced = True
                corpus.dedup_ingest_batch(
                    cat2, b3, rounds_table="rlog", load_id="r3"
                )
            return super().transaction(load_id)

    racing = RacingCatalog(spark=spark, root=root)
    with pytest.raises(ConcurrentWriteError):
        corpus.dedup_ingest_batch(racing, b2, rounds_table="rlog", load_id="r2")
    lids = {r["load_id"] for r in cat1.read("rlog").collect()}
    assert lids == {"r1", "r3"}  # the loser's row rolled back


def test_bisection_quarantines_only_poison_file(spark, tmp_path):
    """VERDICT r7 #2: with max_files_per_trigger > 1, one poison pill
    must not dead-letter its healthy round-mates. On the Nth failure the
    round bisects: each file runs alone as its own content-addressed
    sub-round — 1 poison + 2 healthy files in one trigger end as
    1 quarantined, 2 committed."""
    import json
    import os

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS).select("doc_id", "text").limit(40)
    rows = docs.collect()
    land = str(tmp_path / "landing")
    os.makedirs(land)
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(os.path.join(land, f"good{i}.jsonl"), "w") as f:
            for r in chunk:
                f.write(
                    json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )
    with open(os.path.join(land, "poison.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n{"doc_id": 2, broken!!\n')

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    kw = dict(
        file_format="jsonl", schema="doc_id long, text string",
        quarantine_after=2, max_files_per_trigger=3,
    )
    rounds, runs_failed = [], 0
    for _attempt in range(5):
        try:
            rounds += run_streaming_dedup_ingest(
                cat, land, str(tmp_path / "ckpt"), **kw
            )
            break
        except Exception:
            runs_failed += 1
    # failure 1 retries; failure 2 bisects (healthy files commit, the
    # poison file's FIRST solo probe fails → its own budget, run fails);
    # run 3 resumes the bisection and dead-letters it on solo failure 2
    assert runs_failed == 2
    quarantined = [r for r in rounds if r.get("quarantined")]
    assert len(quarantined) == 1
    assert quarantined[0]["paths"][0].endswith("poison.jsonl")
    # both healthy files landed as sub-rounds during the (failed) run 2;
    # their records rode that run's exception, but the per-round metrics
    # log — written inside each sub-round's transaction — has them
    assert cat.read("corpus_docs_rounds").count() == 2

    # only the poison file left the landing dir
    qdir = land.rstrip("/") + "_quarantine"
    assert sorted(os.listdir(land)) == ["good0.jsonl", "good1.jsonl"]
    qfiles = os.listdir(qdir)
    assert len(qfiles) == 1 and qfiles[0].endswith("poison.jsonl")

    # healthy docs fully committed; provenance names only the poison
    assert cat.read("corpus_docs").count() == len(rows)
    prov = cat.read("corpus_docs_file_quarantine").collect()
    assert len(prov) == 1 and prov[0]["src_path"].endswith("poison.jsonl")

    # drained: replay guard (parent tombstone + sub-round markers) holds
    again = run_streaming_dedup_ingest(
        cat, land, str(tmp_path / "ckpt"), **kw
    )
    assert again == []
    assert cat.read("corpus_docs").count() == len(rows)


def test_bisection_transient_fault_commits_on_retry(
    spark, tmp_path, monkeypatch
):
    """VERDICT r8 #2: a transient fault striking DURING a bisection
    probe must not dead-letter a healthy file. The sub-round consumes
    its own quarantine_after budget (keyed on its content-addressed
    lid): the batch fails with the checkpoint held, and the next
    availableNow pass RESUMES the bisection — committed round-mates
    skip via their markers, the faulted file retries and commits.
    Nothing is ever quarantined."""
    import json
    import os

    from gcp_datalake_pipeline_spark.streaming import corpus as sc
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS).select("doc_id", "text").limit(45)
    rows = docs.collect()
    land = str(tmp_path / "landing")
    os.makedirs(land)
    third = len(rows) // 3
    for i in range(3):
        with open(os.path.join(land, f"f{i}.jsonl"), "w") as f:
            for r in rows[i * third : (i + 1) * third]:
                f.write(
                    json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )
    flaky_ids = {r["doc_id"] for r in rows[2 * third :]}

    # fault injection: every round that touches f2's docs fails until
    # the 4th attempt — two full-round failures trip the bisection, the
    # first SOLO probe of f2 fails once more (transient), then heals
    real = sc.dedup_ingest_batch
    calls = {"n": 0}

    def flaky(catalog, batch, **kwargs):
        ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        if ids & flaky_ids:
            calls["n"] += 1
            if calls["n"] <= 3:
                raise RuntimeError("transient infra fault")
        return real(catalog, batch, **kwargs)

    monkeypatch.setattr(sc, "dedup_ingest_batch", flaky)

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    kw = dict(
        file_format="jsonl", schema="doc_id long, text string",
        quarantine_after=2, max_files_per_trigger=3,
    )
    rounds, errs = [], []
    for _attempt in range(5):
        try:
            rounds += run_streaming_dedup_ingest(
                cat, land, str(tmp_path / "ckpt"), **kw
            )
            break
        except Exception as e:
            errs.append(repr(e)[:300])
    # run 1: full round fails (n=1, retry); run 2: full round fails
    # (n=2 → bisect: f0+f1 commit, f2's solo probe faults → its OWN
    # budget n=1 < 2 → batch fails); run 3: bisection resumes via the
    # sub-round markers and f2 commits
    assert len(errs) == 2, errs
    assert not any(r.get("quarantined") for r in rounds)
    # run 3 returns only the resumed file's record (f0/f1 committed
    # during the failed run 2 and skip via their markers on resume);
    # the metrics log has all three sub-round commits
    assert [os.path.basename(r["paths"][0]) for r in rounds] == ["f2.jsonl"]
    assert cat.read("corpus_docs_rounds").count() == 3

    # nothing quarantined: all files still in the landing dir, no
    # quarantine dir, no provenance table, every doc committed
    assert sorted(os.listdir(land)) == ["f0.jsonl", "f1.jsonl", "f2.jsonl"]
    assert not os.path.exists(land + "_quarantine")
    assert not cat.exists("corpus_docs_file_quarantine")
    assert cat.read("corpus_docs").count() == len(rows)

    # drained: the parent tombstone + sub-round markers hold on replay
    assert run_streaming_dedup_ingest(
        cat, land, str(tmp_path / "ckpt"), **kw
    ) == []
    assert cat.read("corpus_docs").count() == len(rows)


def test_dead_letter_provenance_idempotent_and_collision_proof(
    spark, tmp_path
):
    """VERDICT r7 #3 + ADVICE: the crash-retry path between file move
    and catalog append must not duplicate audit rows, and two same-named
    files from different landing subdirs must not overwrite each other's
    quarantined evidence."""
    import os

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        _dead_letter_files,
    )

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    qdir = str(tmp_path / "q")
    for sub in ("a", "b"):
        os.makedirs(tmp_path / "land" / sub)
        with open(tmp_path / "land" / sub / "f.jsonl", "w") as f:
            f.write("broken\n")
    paths = [
        str(tmp_path / "land" / "a" / "f.jsonl"),
        str(tmp_path / "land" / "b" / "f.jsonl"),
    ]
    err = ValueError("parse error")
    dsts = _dead_letter_files(cat, paths, "lid-1", err, 3, qdir, "fq")
    # same basename, different subdirs -> two DISTINCT quarantine files
    assert len(set(dsts)) == 2
    assert sorted(os.listdir(qdir)) == sorted(os.path.basename(d) for d in dsts)
    assert cat.read("fq").count() == 2
    # crash-retry: files already moved, rows already present -> no dupes
    dsts2 = _dead_letter_files(cat, paths, "lid-1", err, 3, qdir, "fq")
    assert dsts2 == dsts
    assert cat.read("fq").count() == 2
    # a different load_id of the same path IS a new audit row
    _dead_letter_files(cat, paths[:1], "lid-2", err, 3, qdir, "fq")
    assert cat.read("fq").count() == 3


def test_failure_counts_age_out_and_legacy_upgrade(tmp_path):
    """ADVICE: transient infra faults spread over weeks must not
    accumulate to the dead-letter threshold — sidecar entries older than
    the TTL age out; pre-r8 bare-int entries upgrade without going
    instantly stale."""
    import json
    import time

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        _load_failure_counts,
    )

    p = str(tmp_path / "poison.json")
    now = time.time()
    with open(p, "w") as f:
        json.dump(
            {
                "stale": {"n": 2, "last": now - 10 * 86400},
                "fresh": {"n": 1, "last": now - 60},
                "legacy": 2,
            },
            f,
        )
    state = _load_failure_counts(p, ttl_seconds=7 * 86400.0)
    assert "stale" not in state
    assert state["fresh"]["n"] == 1
    assert state["legacy"]["n"] == 2  # upgraded, last=now
    # no TTL -> everything kept
    assert set(_load_failure_counts(p)) == {"stale", "fresh", "legacy"}


def test_prune_audit_tables_retention(spark, tmp_path):
    """VERDICT r7 #6: age-based retention for the append-forever audit
    tables — old rows drop, fresh rows survive, absent tables are
    skipped, non-audit tables are refused."""
    import time

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        prune_audit_tables,
    )

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    now = time.time()
    rounds = spark.createDataFrame(
        [("old", 1, 1, 0.1, now - 10 * 86400), ("new", 2, 2, 0.1, now)],
        "load_id string, n_docs long, n_pairs long, duration_sec double, "
        "committed_at double",
    )
    quar = spark.createDataFrame(
        [
            ("s1", "d1", "l1", "err", 3, now - 10 * 86400),
            ("s2", "d2", "l2", "err", 3, now),
        ],
        "src_path string, quarantined_to string, load_id string, "
        "reason string, n_failures int, quarantined_at double",
    )
    cat.append(rounds, "corpus_docs_rounds")
    cat.append(quar, "corpus_docs_file_quarantine")
    dropped = prune_audit_tables(
        cat,
        ["corpus_docs_rounds", "corpus_docs_file_quarantine", "absent"],
        max_age_seconds=86400.0,
    )
    assert dropped == {
        "corpus_docs_rounds": 1,
        "corpus_docs_file_quarantine": 1,
    }
    assert [r["load_id"] for r in cat.read("corpus_docs_rounds").collect()] == ["new"]
    assert [r["load_id"] for r in cat.read("corpus_docs_file_quarantine").collect()] == ["l2"]
    # no-op when nothing is stale (no rewrite commit)
    v_before = cat._read_manifest()["version"]
    again = prune_audit_tables(
        cat, ["corpus_docs_rounds"], max_age_seconds=86400.0
    )
    assert again == {"corpus_docs_rounds": 0}
    assert cat._read_manifest()["version"] == v_before
    # refuse tables without a recognized time column
    cat.append(spark.createDataFrame([(1,)], "x long"), "not_audit")
    with pytest.raises(ValueError, match="not an audit table"):
        prune_audit_tables(cat, ["not_audit"], 1.0)


def test_member_fetch_bloom_skips_where_ranges_cannot(spark, tmp_path):
    """Bloom composition on the verification read: rounds with
    INTERLEAVED id ranges give every file a [min, max] spanning the
    whole key space, so range stats prune nothing beyond the _kb
    partitions — with `bloom_index=True` the small-candidate IN fetch
    skips the rounds' files that provably hold none of the members;
    without it, every partition file opens. Values identical."""
    docs = spark.read.parquet(DOCS)
    stripes = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    def build(root, bloom):
        cat = TransactionalCatalog(spark=spark, root=root)
        for b in stripes:
            corpus.dedup_ingest_batch(
                cat, b, num_buckets=4, bloom_index=bloom
            )
        return cat

    cat_b = build(str(tmp_path / "bloomed"), True)
    cat_p = build(str(tmp_path / "plain"), False)
    assert cat_b.bloom_index("corpus_docs") is not None
    assert cat_p.bloom_index("corpus_docs") is None

    member_ids = stripes[0].select("doc_id").limit(5)
    fetched_b = corpus._bucket_pruned_members(
        cat_b, "corpus_docs", "doc_id", 4, member_ids
    )
    fetched_p = corpus._bucket_pruned_members(
        cat_p, "corpus_docs", "doc_id", 4, member_ids
    )
    n_bloom = len(fetched_b.inputFiles())
    n_plain = len(fetched_p.inputFiles())
    assert 0 < n_bloom < n_plain, (n_bloom, n_plain)
    member_set = {r["doc_id"] for r in member_ids.collect()}
    assert {r["doc_id"] for r in fetched_b.collect()} >= member_set
    assert {r["doc_id"] for r in fetched_b.select("doc_id").collect()} == {
        r["doc_id"] for r in fetched_p.select("doc_id").collect()
    }
    # large candidate sets fall back to the bounded range path and stay
    # value-correct (no unbounded id collect ever happens)
    many = docs.select("doc_id").limit(300)
    got = {
        r["doc_id"]
        for r in corpus._bucket_pruned_members(
            cat_b, "corpus_docs", "doc_id", 4, many
        ).collect()
    }
    assert got >= {r["doc_id"] for r in many.collect()}
    # round 2+ appends keep maintaining the sidecars automatically
    from gcp_datalake_pipeline_spark import blooms

    for d in cat_b._data_dirs("corpus_docs"):
        files = cat_b._dir_parquet_files(d)
        entries = (blooms.read_dir_blooms(d) or {}).get("files", {})
        assert all(f in entries for f in files), d


def test_streaming_loop_refreshes_materialized_views(
    spark, tmp_path, dedup_lake
):
    """Composition: a materialized view over the corpus docs table
    catches up after every committed streaming round (refresh_views=),
    so a live dashboard reads fresh aggregates without rescanning the
    corpus — and the view equals a full recompute at the end."""
    from gcp_datalake_pipeline_spark.operators.matview import (
        create_materialized_view,
    )
    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_dedup_ingest,
    )

    docs = spark.read.parquet(DOCS)
    paths = _landing_files(docs, "doc_id", str(tmp_path / "landing"))
    # seed round 1 so the view's source table exists, then register the
    # view and stream the remaining files with auto-refresh
    cat = dedup_lake(1)  # round _batches(docs)[0]
    # grouped by the SOURCE's bucket id: the view itself must opt out
    # of its own _kb layout (the names would collide)
    create_materialized_view(
        cat, "docs_by_bucket", "corpus_docs", ["_kb"], {}, "n_docs",
        num_buckets=None,
    )
    import os

    os.remove(paths[0])  # round 1's docs already ingested above
    rounds = run_streaming_dedup_ingest(
        cat, str(tmp_path / "landing"), str(tmp_path / "ckpt"),
        refresh_views=("docs_by_bucket",),
    )
    assert len(rounds) == 2
    got = sorted(
        (r["_kb"], r["n_docs"])
        for r in cat.read("docs_by_bucket").collect()
    )
    full = sorted(
        (r["_kb"], r["n"])
        for r in cat.read("corpus_docs")
        .groupBy("_kb")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got == full
    assert sum(n for _b, n in got) == docs.count()


def test_member_fetch_tolerates_null_member_ids(spark, dedup_lake):
    """A NULL id can never equal a stored id (and hashes to a NULL
    bucket), so NULL members are ignored — not a TypeError from sorting
    a mixed [None, int] IN-list (r10 self-review #2)."""
    docs = spark.read.parquet(DOCS)
    b1, _, _ = _batches(docs, "doc_id")
    cat = dedup_lake(1)  # round b1
    member_ids = b1.select("doc_id").limit(5).unionByName(
        spark.range(1).select(F.lit(None).cast("long").alias("doc_id"))
    )
    pruned = corpus._bucket_pruned_members(
        cat, "corpus_docs", "doc_id", 64, member_ids
    )
    got = {r["doc_id"] for r in pruned.select("doc_id").collect()}
    want = {
        r["doc_id"] for r in member_ids.collect() if r["doc_id"] is not None
    }
    assert got >= want and None not in got
