"""Corpus curation: the canonical LLM training-data cleaning pipeline as
one composable operator — exact dedup, near-dup removal, quality gating —
each step a set-based DataFrame op from this package.

Disposition precedence (first match wins, deterministic):
  exact_dup  — not the min doc_id of an identical-text group
  near_dup   — the higher-id member of a shingle-Jaccard >= threshold pair
               (keep-lowest-id policy; pairwise, not transitive closure, so
               the rule is order-independent and oracle-expressible)
  too_short  — fewer than min_tokens whitespace tokens
  kept       — survives curation

``near_dup_backend``: 'exact' uses the quadratic-but-exact shingle-Jaccard
self-join (the verifiable form); 'lsh' swaps in MinHash+LSH candidates —
same verification arithmetic, near-linear candidate generation for the
100 TB path. Both produce (doc_a < doc_b) pairs, so the disposition rule
is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators import dedup
from gcp_datalake_pipeline_spark.operators.text import TOKEN_SPLIT_RE


def curate_corpus(
    df: DataFrame,
    jaccard_threshold: float = 0.8,
    min_tokens: int = 50,
    near_dup_backend: str = "exact",
) -> DataFrame:
    """Return (doc_id, disposition) for every document."""
    if near_dup_backend == "exact":
        pairs = dedup.jaccard_pairs(df, threshold=jaccard_threshold)
    elif near_dup_backend == "lsh":
        pairs = dedup.minhash_lsh_pairs(df, threshold=jaccard_threshold)
    else:
        raise ValueError(near_dup_backend)

    exact = dedup.exact_dedup(df).select("doc_id", "is_dup")
    near_losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    n_tokens = F.size(F.split(F.col("text"), TOKEN_SPLIT_RE))

    return (
        df.select("doc_id", n_tokens.alias("_nt"))
        .join(exact, "doc_id")
        .join(near_losers.withColumn("_near", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_dup"), F.lit("exact_dup"))
            .when(F.coalesce(F.col("_near"), F.lit(False)), F.lit("near_dup"))
            .when(F.col("_nt") < min_tokens, F.lit("too_short"))
            .otherwise(F.lit("kept"))
            .alias("disposition"),
        )
    )


def curation_oracle_sql(jaccard_threshold: float = 0.8, min_tokens: int = 50) -> str:
    """DuckDB SQL for the 'exact' backend disposition."""
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY LEAD(tok, 2) OVER w IS NOT NULL
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near_losers AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= {jaccard_threshold}
    ),
    base AS (
      SELECT doc_id,
             len(regexp_split_to_array(text, '\\s+')) AS nt,
             doc_id != MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
      FROM documents
    )
    SELECT b.doc_id,
           CASE WHEN b.is_exact_dup THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                WHEN b.nt < {min_tokens} THEN 'too_short'
                ELSE 'kept' END AS disposition
    FROM base b LEFT JOIN near_losers n ON b.doc_id = n.doc_id
    """


def _effective_buckets(
    catalog, table: str, key_cols: list[str], requested: int
) -> int:
    """The bucket count to USE for an existing bucketed table: the
    persisted sidecar's value wins over the caller's argument — hashing
    members with a different modulus than the table was written with
    would prune to the WRONG partitions and silently drop near-dup
    pairs (and appending with it would mix two moduli in one table).
    Without a sidecar (legacy layout), the caller's value is validated
    against the observed ``_kb`` partitions via ``_check_bucket_meta``
    (hard error on provable mismatch)."""
    import json
    import os

    meta_path = getattr(catalog, "_bucket_meta_path", None)
    if meta_path is not None and os.path.exists(meta_path(table)):
        with open(meta_path(table)) as f:
            meta = json.load(f)
        if meta.get("key_cols") == key_cols:
            return int(meta["num_buckets"])
    check = getattr(catalog, "_check_bucket_meta", None)
    if check is not None:
        check(table, requested, key_cols)
    return requested


def _key_bucket(col: str, num_buckets: int):
    """The ingest loop's bucket expression: ``pmod(xxhash64(id), B)`` —
    the same key-hash layout :meth:`~gcp_datalake_pipeline_spark.storage.Catalog.merge_upsert_bucketed`
    uses, so a bucketed corpus table composes with the bucketed MERGE and
    the compactor (which preserves ``_kb`` when bucket metadata exists)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets)).cast("int")


def _bucket_pruned_members(
    catalog,
    table: str,
    id_col: str,
    num_buckets: int,
    member_ids: DataFrame,
    table_id_col: str | None = None,
) -> DataFrame:
    """Read ONLY the ``_kb`` partitions of a bucketed corpus table that can
    hold the given member ids — the candidate-proportional verification
    read. The bucket list is collected on the driver (bounded by
    ``num_buckets``, never by corpus or candidate size) and becomes a
    partition-pruning ``isin`` filter: untouched buckets' files are never
    opened.

    On a stats-capable catalog (``pruned_files`` present) the read also
    carries the members' ``[min, max]`` id range as file-skipping
    predicates (VERDICT r8 #4): a bucket partition grown to many files
    by successive ingest rounds opens only the files whose footer
    min/max can hold a member id — sub-bucket pruning for free on top
    of the partition pruning, with the exact filter re-applied so the
    result is value-identical. The range bound is collected in the SAME
    bounded driver pass as the bucket list (one row: set-of-buckets,
    min, max). ``table_id_col`` names the STORED id column when the
    member-ids DataFrame uses a different (internal) name — same
    values, so the hash layout and the range agree. Returns the member
    rows with ``_kb`` dropped.

    When the candidate set is SMALL (≤256 distinct ids — decided by a
    BOUNDED ``limit(257)`` collect, never by candidate cardinality),
    the read carries the ids as an ``IN`` predicate instead of the
    range: per-value min/max skipping is at least as tight as the
    range, and on a corpus whose docs table carries a bloom index on
    the id column (``dedup_ingest_batch(bloom_index=True)``) the probe
    skips every file that provably holds NONE of the candidates — the
    id-scatter case where footer ranges stop pruning after a few
    ingest rounds."""
    tid = table_id_col or id_col
    row = member_ids.agg(
        F.collect_set(_key_bucket(id_col, num_buckets)).alias("bs"),
        F.min(id_col).alias("mn"),
        F.max(id_col).alias("mx"),
    ).first()
    buckets = sorted(row["bs"])
    if hasattr(catalog, "pruned_files") and buckets:
        # NULL member ids can never equal a stored id (and hash to a NULL
        # bucket), so drop them BEFORE sorting — sorted() on a mixed
        # [None, str] list raises, and the range path's min/max agg
        # ignored NULLs for the same reason
        some_ids = [
            r[0]
            for r in member_ids.select(id_col).distinct().limit(257).collect()
            if r[0] is not None
        ]
        if len(some_ids) <= 256:
            id_preds = [(tid, "in", sorted(some_ids))]
        else:
            id_preds = [(tid, ">=", row["mn"]), (tid, "<=", row["mx"])]
        return catalog.read(
            table, predicates=[("_kb", "in", buckets), *id_preds]
        ).drop("_kb")
    return (
        catalog.read(table).filter(F.col("_kb").isin(buckets)).drop("_kb")
    )


def _conflict_anchor_bands(catalog, bands_table: str, base_rels) -> None:
    """Convert this transaction's append intent on the index table into a
    REPLACE intent anchored at the dir list committed when this round READ
    its snapshot. Two concurrent ingest rounds each dedup against a
    snapshot missing the other's batch — appends alone would let both
    commit and silently never flag pairs BETWEEN the batches. With the
    anchor, the second committer raises
    :class:`~gcp_datalake_pipeline_spark.transactions.ConcurrentWriteError`
    (every round appends the index table, so any concurrent round moves
    it) and the caller retries against the fresh index — the same
    retry-from-read remedy the transactional catalog's replace writes use.
    No-op on catalogs without intent tracking (plain catalogs have no
    transactions to conflict)."""
    intents = getattr(catalog, "_intents", None)
    if intents is None or bands_table not in intents:
        return
    intent = intents[bands_table]
    if intent["mode"] != "append":
        return
    intent["mode"] = "replace"
    intent["added"] = list(base_rels or []) + list(intent["added"])
    intent["base"] = base_rels


def _check_band_index(existing_bands: DataFrame, bands_table: str) -> None:
    """Refuse a stored band index whose ``band_hash`` is not the md5 hex
    string :func:`~gcp_datalake_pipeline_spark.operators.dedup.minhash_bands`
    writes. An older index stored 64-bit integer band hashes; the probe
    union would silently widen them to strings that never match, and
    every candidate against the older corpus would be lost. Reads the
    schema only (no job)."""
    dtype = dict(existing_bands.dtypes).get("band_hash")
    if dtype != "string":
        raise ValueError(
            f"band index table {bands_table!r} stores band_hash as "
            f"{dtype}, not the md5 hex string this engine writes; drop "
            f"{bands_table!r} and the next round rebuilds it from the "
            "stored docs"
        )


def dedup_ingest_batch(
    catalog,
    batch: DataFrame,
    docs_table: str = "corpus_docs",
    bands_table: str = "corpus_minhash_bands",
    pairs_table: str = "corpus_near_dup_pairs",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    num_buckets: int = 64,
    load_id: str | None = None,
    rounds_table: str | None = None,
    bloom_index: bool = False,
) -> DataFrame:
    """One round of the production corpus-dedup loop: flag the incoming
    batch's near-dups against everything ingested so far, then append the
    batch's documents, its LSH band-index rows, and the flagged pairs to
    the catalog — all in ONE transaction when the catalog is
    transactional (a crash leaves either the whole round or none of it).

    The existing corpus is NEVER re-banded or re-paired: the stored band
    index (:func:`~gcp_datalake_pipeline_spark.operators.dedup.minhash_bands`,
    append-only) is probed by the new batch's bands, and exact
    verification reads only candidate members' texts. Per round the work
    — compute AND I/O — is O(batch + candidates), independent of corpus
    size: the docs table is stored hash-partitioned on
    ``_kb = pmod(xxhash64(doc_id), num_buckets)``, and the verification
    read is partition-pruned to the candidate members' buckets
    (:func:`_bucket_pruned_members`), so a round against a 100 TB corpus
    opens only the handful of buckets its candidates live in, never the
    full table. (A docs table created before bucketing — no ``_kb``
    column — falls back to the full-scan read, same values.)

    Concurrency: rounds against one corpus must be serialized — each
    dedups against the snapshot it read, so two concurrent rounds would
    miss pairs between their batches. On a transactional catalog this is
    ENFORCED, not assumed: the commit is conflict-anchored on the band
    index (:func:`_conflict_anchor_bands`), so a concurrent round raises
    ``ConcurrentWriteError`` and the caller retries against the fresh
    index instead of silently losing pairs.

    ``rounds_table``: when set, one observability row — (load_id,
    n_docs, n_pairs, duration_sec, committed_at) — is appended INSIDE
    the round's transaction, so the log states exactly the committed
    rounds: a replayed batch never re-logs (skipped before the round), a
    conflicted round's row rolls back with it. This is how a LIVE
    stream's per-round metrics stay visible (the streaming runner
    returns records only for availableNow drains).

    A docs table without a band index (populated by another path, or
    the index was dropped) rebuilds the index from the stored docs in
    this round. A band index whose ``band_hash`` is not the md5 hex
    string is refused (:func:`_check_band_index`).

    Returns the batch's near-dup pairs (doc_a, doc_b, jaccard), also
    appended to ``pairs_table``.
    """
    import time as _time

    from gcp_datalake_pipeline_spark.operators.dedup import (
        incremental_near_dups,
        minhash_bands,
    )

    t0 = _time.time()

    committed_rels = getattr(catalog, "_committed_rels", None)
    # Conflict anchor captured BEFORE the snapshot reads: a commit landing
    # between anchor and read makes this round fail conservatively (retry)
    # rather than miss the concurrent batch's pairs.
    base_bands = committed_rels(bands_table) if committed_rels else None
    has_docs = catalog.exists(docs_table)
    bucketed = True  # fresh tables adopt the bucketed layout
    fetch_texts = None
    if has_docs:
        stored = catalog.read(docs_table)
        bucketed = "_kb" in stored.columns
        existing = stored.drop("_kb")
        if bucketed:
            num_buckets = _effective_buckets(
                catalog, docs_table, ["doc_id"], num_buckets
            )

            def fetch_texts(member_ids, _b=batch, _nb=num_buckets):
                return _bucket_pruned_members(
                    catalog, docs_table, "doc_id", _nb, member_ids
                ).unionByName(_b)

    else:
        existing = batch.sparkSession.createDataFrame([], batch.schema)
    # Bands gated on their own existence. A rebuilt index is persisted
    # with this round's rows, so later rounds probe the whole corpus.
    rebuilt_bands = None
    if has_docs and catalog.exists(bands_table):
        existing_bands = catalog.read(bands_table)
        _check_band_index(existing_bands, bands_table)
    elif has_docs:
        existing_bands = rebuilt_bands = minhash_bands(
            existing, num_perm, bands
        ).localCheckpoint(eager=True)
    else:
        existing_bands = None
    pairs = incremental_near_dups(
        existing,
        batch,
        threshold=threshold,
        num_perm=num_perm,
        bands=bands,
        existing_bands=existing_bands,
        fetch_texts=fetch_texts,
    ).localCheckpoint(eager=True)  # compute BEFORE the appends change state
    new_bands = minhash_bands(batch, num_perm, bands)
    if rebuilt_bands is not None:
        new_bands = rebuilt_bands.unionByName(new_bands)
    batch_out = (
        batch.withColumn("_kb", _key_bucket("doc_id", num_buckets))
        if bucketed
        else batch
    )
    doc_parts = ["_kb"] if bucketed else None

    lid = load_id or f"dedup-ingest-{docs_table}"

    def _writes():
        catalog.append(batch_out, docs_table, partition_cols=doc_parts)
        catalog.append(new_bands, bands_table)
        catalog.append(pairs, pairs_table)
        if rounds_table:
            now = _time.time()
            rec = batch.sparkSession.createDataFrame(
                [
                    (
                        lid,
                        batch.count(),
                        pairs.count(),
                        float(now - t0),
                        float(now),
                    )
                ],
                "load_id string, n_docs long, n_pairs long, "
                "duration_sec double, committed_at double",
            )
            catalog.append(rec, rounds_table)
        _conflict_anchor_bands(catalog, bands_table, base_bands)

    write_meta = (
        bucketed and not has_docs and hasattr(catalog, "_write_bucket_meta")
    )
    txn = getattr(catalog, "transaction", None)
    if txn is not None:
        # load_id names the commit in the version history — replay guards
        # (streaming foreachBatch) key idempotence on it. The sidecar
        # write inside the transaction STAGES on a transactional catalog
        # and publishes under the commit flock after conflict checks: a
        # round that loses the first-commit race can never overwrite the
        # winner's modulus with its own (which would make later rounds
        # prune the wrong buckets and silently drop pairs).
        with txn(lid):
            _writes()
            if write_meta:
                catalog._write_bucket_meta(docs_table, num_buckets, ["doc_id"])
    else:
        if write_meta:
            # plain catalog (no transactions, no concurrent rounds):
            # sidecar before the writes so compact() preserves _kb
            catalog._write_bucket_meta(docs_table, num_buckets, ["doc_id"])
        _writes()
    if bloom_index:
        _ensure_corpus_bloom(catalog, docs_table, "doc_id")
    return pairs


def _ensure_corpus_bloom(catalog, table: str, id_col: str) -> None:
    """Opt-in bloom index on a corpus table's id column, configured
    AFTER the round's commit (set_bloom_index is its own metadata
    commit and refuses inside a transaction). First call backfills the
    just-committed dirs; every later round's append maintains the
    sidecars automatically through the staged-write path, and the
    member fetch's small-candidate ``IN`` reads bloom-skip the files
    id ranges cannot. No-op on catalogs without bloom support."""
    setter = getattr(catalog, "set_bloom_index", None)
    if setter is None:
        return
    if catalog.bloom_index(table) is None:
        setter(table, [id_col])


def embedding_ingest_batch(
    catalog,
    batch: DataFrame,
    vectors_table: str = "corpus_embeddings",
    buckets_table: str = "corpus_embedding_buckets",
    pairs_table: str = "corpus_embedding_near_dup_pairs",
    threshold: float = 0.3,
    n_planes: int = 6,
    probe_radius: int = 2,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    backend: str = "arrow",
    num_buckets: int = 64,
    load_id: str | None = None,
    rounds_table: str | None = None,
    bloom_index: bool = False,
) -> DataFrame:
    """The embedding twin of :func:`dedup_ingest_batch`: flag the incoming
    batch's embedding near-dups against everything ingested so far, then
    append the batch's vectors, its hyperplane-LSH bucket-index rows, and
    the flagged pairs — one atomic commit per round on a transactional
    catalog, conflict-anchored on the bucket index so concurrent rounds
    raise instead of silently missing cross-batch pairs.

    Vectors are stored hash-partitioned on ``pmod(xxhash64(vec_id), B)``
    and exact-cosine verification fetches candidate members through a
    partition-pruned read — per-round I/O is O(batch + candidates), not
    corpus size. Returns (vec_a, vec_b, cosine_sim), also appended to
    ``pairs_table``. ``rounds_table``: per-round observability row inside
    the same commit — see :func:`dedup_ingest_batch`.
    """
    import time as _time

    from gcp_datalake_pipeline_spark.operators.similarity import (
        embedding_buckets,
        incremental_embedding_near_dups,
    )

    t0 = _time.time()

    committed_rels = getattr(catalog, "_committed_rels", None)
    base_buckets = committed_rels(buckets_table) if committed_rels else None
    has_vecs = catalog.exists(vectors_table)
    bucketed = True
    fetch_vectors = None
    if has_vecs:
        stored = catalog.read(vectors_table)
        bucketed = "_kb" in stored.columns
        existing = stored.drop("_kb")
        if bucketed:
            num_buckets = _effective_buckets(
                catalog, vectors_table, [id_col], num_buckets
            )

            def fetch_vectors(member_ids, _b=batch, _nb=num_buckets):
                return _bucket_pruned_members(
                    catalog, vectors_table, "vid", _nb, member_ids,
                    table_id_col=id_col,
                ).unionByName(_b)

    else:
        existing = batch.sparkSession.createDataFrame([], batch.schema)
    existing_buckets = (
        catalog.read(buckets_table)
        if has_vecs and catalog.exists(buckets_table)
        else None
    )
    pairs = incremental_embedding_near_dups(
        existing,
        batch,
        threshold=threshold,
        n_planes=n_planes,
        probe_radius=probe_radius,
        dim=dim,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        backend=backend,
        existing_buckets=existing_buckets,
        fetch_vectors=fetch_vectors,
    ).localCheckpoint(eager=True)
    new_buckets = embedding_buckets(batch, n_planes, dim, seed, id_col, vec_col)
    batch_out = (
        batch.withColumn("_kb", _key_bucket(id_col, num_buckets))
        if bucketed
        else batch
    )
    vec_parts = ["_kb"] if bucketed else None

    lid = load_id or f"embedding-ingest-{vectors_table}"

    def _writes():
        catalog.append(batch_out, vectors_table, partition_cols=vec_parts)
        catalog.append(new_buckets, buckets_table)
        catalog.append(pairs, pairs_table)
        if rounds_table:
            now = _time.time()
            rec = batch.sparkSession.createDataFrame(
                [
                    (
                        lid,
                        batch.count(),
                        pairs.count(),
                        float(now - t0),
                        float(now),
                    )
                ],
                "load_id string, n_docs long, n_pairs long, "
                "duration_sec double, committed_at double",
            )
            catalog.append(rec, rounds_table)
        _conflict_anchor_bands(catalog, buckets_table, base_buckets)

    write_meta = (
        bucketed and not has_vecs and hasattr(catalog, "_write_bucket_meta")
    )
    txn = getattr(catalog, "transaction", None)
    if txn is not None:
        # sidecar staged with the commit — see dedup_ingest_batch
        with txn(lid):
            _writes()
            if write_meta:
                catalog._write_bucket_meta(
                    vectors_table, num_buckets, [id_col]
                )
    else:
        if write_meta:
            catalog._write_bucket_meta(vectors_table, num_buckets, [id_col])
        _writes()
    if bloom_index:
        _ensure_corpus_bloom(catalog, vectors_table, id_col)
    return pairs
