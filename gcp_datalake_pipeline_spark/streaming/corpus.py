"""Streaming corpus dedup-ingest: the LLM-training-data loop wired to
Structured Streaming (SURVEY.md §2.9 trigger/foreachBatch pattern, same
shape as :mod:`gcp_datalake_pipeline_spark.streaming.ingest`).

Newly landed document (or embedding) files stream through
:func:`~gcp_datalake_pipeline_spark.operators.corpus.dedup_ingest_batch`
/ :func:`~gcp_datalake_pipeline_spark.operators.corpus.embedding_ingest_batch`
one micro-batch per round: flag the batch's near-dups against the stored
band/bucket index, then commit docs + index + pairs atomically. At 100 TB
this IS the production corpus pipeline — data arrives continuously, each
round's work is O(batch + candidates) (bucket-pruned verification reads),
and the corpus is never re-deduped.

Exactly-once across replays: the file-source checkpoint advances only
after ``foreachBatch`` returns, so a crash between the round's commit and
the checkpoint write replays the batch. Each round's transactional commit
is named by a hash of the batch's file identities (path + mtime +
length, per loop namespace); a replayed batch finds its load_id's
committed-load marker (``TransactionalCatalog.has_load_id`` — one O(1)
file-existence check per batch, maintained at commit) and skips —
committed-or-absent, never doubled — while an overwritten file (new
mtime/length) is a NEW round. The markers survive ``vacuum``, so
snapshot retention never shrinks the replay horizon.

A concurrent external ingest round conflicts at commit
(ConcurrentWriteError via the index-table anchor), failing the micro-batch
WITHOUT advancing the checkpoint: the stream restarts the batch against
the fresh index — the retry-from-read remedy, automated.

Poison pills dead-letter instead of wedging the stream: fail-the-batch-
and-retry is right for transient faults, but a PERSISTENTLY malformed
landed file would otherwise be retried forever (the checkpoint can never
advance past it — at production scale, an outage needing manual file
surgery). After ``quarantine_after`` failures of the same
content-addressed round, a single-file round's file moves to a
quarantine directory with an idempotent provenance row in the catalog
(``*_quarantine`` table — the raw-file analog of
:mod:`gcp_datalake_pipeline_spark.operators.quarantine`'s row-level
split); a multi-file round is BISECTED file-by-file so one poison pill
never dead-letters its healthy round-mates — and the stream proceeds.
Commit conflicts never count toward the threshold — they are the
designed concurrency retry, not data faults — and failure counts age
out after ``failure_ttl_seconds`` so transient infra faults spread over
weeks never accumulate to the threshold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from gcp_datalake_pipeline_spark.operators.corpus import (
    dedup_ingest_batch,
    embedding_ingest_batch,
)


def _local_path(uri: str) -> str:
    """binaryFile emits file URIs (scheme + percent-encoding). Strip ONLY
    a leading file: scheme and unquote — a blanket replace('file:', '')
    mangled any path containing that substring and left %20-style
    escapes undecoded."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme == "file":
        return unquote(parsed.path)
    return uri


_FORMATS = {
    # file_format -> (glob, reader). The jsonl glob is EXACT suffixes
    # ({json,jsonl}), never *.json* — that matched .jsonl.tmp staging
    # files, ingesting a half-written file and then double-ingesting it
    # under a new load_id after the rename. The jsonl reader is FAILFAST:
    # in PERMISSIVE mode a malformed line becomes an all-null row that
    # would be committed into the corpus silently; failing the batch
    # instead leaves the checkpoint unadvanced and retries — the same
    # hard-fail contract a truncated parquet file gets for free.
    "parquet": ("*.parquet", lambda spark, paths, schema: (
        spark.read.schema(schema) if schema else spark.read
    ).parquet(*paths)),
    "orc": ("*.orc", lambda spark, paths, schema: (
        spark.read.schema(schema) if schema else spark.read
    ).orc(*paths)),
    "jsonl": ("*.{json,jsonl}", lambda spark, paths, schema: (
        spark.read.schema(schema) if schema else spark.read
    ).option("mode", "FAILFAST").json(list(paths))),
    "csv": ("*.csv", lambda spark, paths, schema: (
        spark.read.schema(schema) if schema else spark.read
    ).options(header="true", mode="FAILFAST").csv(list(paths))),
}


def _load_failure_counts(path: str, ttl_seconds: float | None = None) -> dict:
    """Per-round failure state ``{lid: {"n": int, "last": ts}}``.
    Entries whose last failure is older than ``ttl_seconds`` age out —
    transient infra faults spread over days must not accumulate toward
    the dead-letter threshold (legacy bare-int entries are upgraded with
    last=now, i.e. never instantly stale)."""
    try:
        with open(path) as f:
            raw = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}
    now = time.time()
    state = {}
    for lid, v in raw.items():
        if isinstance(v, dict):
            entry = {"n": int(v.get("n", 0)), "last": float(v.get("last", now))}
        else:  # pre-r8 sidecar: bare count
            entry = {"n": int(v), "last": now}
        if ttl_seconds is not None and now - entry["last"] > ttl_seconds:
            continue
        state[lid] = entry
    return state


def _save_failure_counts(path: str, state: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def _dead_letter_files(
    catalog,
    paths: list[str],
    lid: str,
    error: Exception,
    n_failures: int,
    quarantine_dir: str,
    quarantine_table: str,
) -> list[str]:
    """Move poisoned files out of the landing directory and record
    provenance in the catalog (queryable, like the row-level quarantine
    tables). Returns the destination paths.

    Destination names carry a hash of the FULL source path, so two
    same-named files from different landing subdirectories can never
    silently overwrite each other's quarantined evidence (and the name
    is deterministic, so a crash-retry re-targets the same file).

    The provenance append is IDEMPOTENT on (load_id, src_path): a crash
    between the move and the append re-records on retry, and a retry
    that finds the row already present appends nothing — the audit
    table never holds duplicates. The existence probe collects only
    this load_id's rows (bounded by the round's file count)."""
    os.makedirs(quarantine_dir, exist_ok=True)
    moved = []
    for p in paths:
        tag = hashlib.md5(p.encode()).hexdigest()[:8]
        dst = os.path.join(
            quarantine_dir, f"{lid}-{tag}-{os.path.basename(p)}"
        )
        if os.path.exists(p):
            shutil.move(p, dst)
        moved.append((p, dst))
    already: set[str] = set()
    if catalog.exists(quarantine_table):
        from pyspark.sql import functions as F

        already = {
            r["src_path"]
            for r in catalog.read(quarantine_table)
            .where(F.col("load_id") == lid)
            .select("src_path")
            .collect()
        }
    rows = [
        (p, dst, lid, repr(error)[:500], n_failures, float(time.time()))
        for p, dst in moved
        if p not in already
    ]
    if rows:
        rec = catalog.spark.createDataFrame(
            rows,
            "src_path string, quarantined_to string, load_id string, "
            "reason string, n_failures int, quarantined_at double",
        )
        catalog.append(rec, quarantine_table)
    return [dst for _p, dst in moved]


def _run_streaming_rounds(
    catalog,
    landing_dir: str,
    checkpoint_dir: str,
    round_fn,
    available_now: bool,
    max_files_per_trigger: int,
    lid_prefix: str,
    file_format: str = "parquet",
    schema=None,
    compact_every: int | None = None,
    tables: tuple[str, ...] = (),
    quarantine_after: int | None = 3,
    quarantine_dir: str | None = None,
    quarantine_table: str = "corpus_file_quarantine",
    count_key: str = "n_pairs",
    never_quarantine: tuple = (),
    failure_ttl_seconds: float = 7 * 86400.0,
    refresh_views: tuple[str, ...] = (),
):
    """Shared trigger/foreachBatch runner: list newly landed files of the
    loop's format (binaryFile metadata only — content is re-read columnar
    per round), run ``round_fn(batch_df, load_id)`` once per micro-batch,
    skip batches whose load_id is already committed.

    The load_id hashes each file's (path, modificationTime, length) under
    a per-loop ``lid_prefix`` namespace: a checkpoint replay (same
    listing-log entries) reproduces it, a file OVERWRITTEN with new
    content gets a new id (mtime/length change) and is re-ingested, and
    the text and embedding loops sharing one catalog can never skip each
    other's batches.

    ``file_format``: "parquet" (default), "orc", "jsonl" (one JSON
    document per line — the common text-corpus landing format) or "csv"
    (with header). jsonl/csv read FAILFAST (a malformed line fails the
    batch without advancing the checkpoint instead of committing silent
    nulls); pass ``schema`` to pin column types instead of per-file
    inference, strongly recommended for jsonl/csv at scale (inference
    re-reads every file).

    ``compact_every``: whenever a table's staged-dir list reaches this
    many dirs after a committed round, fold it back into one dir
    (``catalog.compact``) — a continuously-appending loop otherwise grows
    one staged dir per round per table (the classic small-files/
    plan-growth problem; flat at 20 rounds in measurement, unbounded over
    a corpus's lifetime). The trigger is the PERSISTED dir count, not a
    per-run round counter, so frequently-restarted drains (cron-driven
    availableNow) still compact on cadence. Best-effort: a compaction
    that loses a conflict race to a concurrent writer is skipped, never
    fails the stream; the bucketed docs table keeps its ``_kb`` layout
    through the rewrite (sidecar metadata).

    ``quarantine_after``: dead-letter threshold. A failing round (parse
    error, corrupt file) fails its batch WITHOUT advancing the
    checkpoint — the right call for transient faults — but a
    persistently bad file would be retried forever. Failures are counted
    per content-addressed round id in a small sidecar next to the
    checkpoint (restart-proof; entries older than
    ``failure_ttl_seconds`` — default 7 days — age out, so transient
    infra faults spread over weeks never accumulate to the threshold).
    On the Nth failure a SINGLE-file round's file moves to
    ``quarantine_dir`` (default ``<landing>_quarantine`` — OUTSIDE the
    landing dir, so the source never lists them) with a provenance row
    appended to ``quarantine_table``; a MULTI-file round is BISECTED
    instead: each file runs ``round_fn`` alone as its own
    content-addressed sub-round — healthy files commit for real, and a
    failing sub-round consumes its OWN ``quarantine_after`` budget
    (keyed on the sub-round's lid) before dead-lettering, so a
    transient fault striking during a probe never quarantines a healthy
    file: the batch fails, the checkpoint holds, and the next pass
    RESUMES the bisection (already-committed sub-rounds skip via their
    markers — detected from the markers themselves, so the resume
    survives checkpoint and sidecar loss). Only files that fail N solo
    probes dead-letter (one poison pill never quarantines its
    round-mates), a fully-healthy round (threshold tripped by transient
    faults) loses nothing, and a parent-round tombstone commit keeps
    the replay guard exact. Then the stream proceeds. ``None`` disables
    (retry forever — the pre-round-7 behavior). ConcurrentWriteError
    never counts: a commit conflict is the designed concurrency retry,
    not a data fault.

    Returns the committed-round records (availableNow mode, after the
    drain) — or, with ``available_now=False``, the live StreamingQuery
    handle so the caller can awaitTermination()/stop() it (per-round
    records are neither returned nor accumulated for an unbounded query —
    a weeks-long stream must not grow driver state per batch).
    Quarantined rounds appear in the returned records as
    ``{"load_id", "paths", "quarantined": True}``.
    """
    spark = catalog.spark
    rounds: list[dict] = []
    if file_format not in _FORMATS:
        raise ValueError(
            f"unknown file_format {file_format!r}; use one of "
            f"{sorted(_FORMATS)}"
        )
    if file_format == "csv" and schema is None:
        # CSV without a schema reads EVERY column as string (no
        # inference), so doc_id would land as string in a corpus whose
        # parquet rounds committed it as long: schema-mismatched appends
        # and differently-hashed bucket keys. jsonl is exempt — JSON
        # values are self-typed, so inference lands the right types.
        raise ValueError(
            "file_format='csv' requires a schema (e.g. "
            "\"doc_id long, text string\"); headerless typing would land "
            "every column as string and mismatch parquet-ingested rounds"
        )
    glob, reader = _FORMATS[file_format]

    from gcp_datalake_pipeline_spark.transactions import ConcurrentWriteError

    poison_path = checkpoint_dir.rstrip("/") + ".poison.json"
    qdir = quarantine_dir or landing_dir.rstrip("/") + "_quarantine"

    def _clear_failures(lid: str) -> None:
        # drop a round's failure count once it is committed/quarantined;
        # the sidecar only ever holds in-flight failing rounds (bounded)
        if not os.path.exists(poison_path):
            return
        state = _load_failure_counts(poison_path, failure_ttl_seconds)
        if lid in state:
            state.pop(lid)
        _save_failure_counts(poison_path, state)

    def _bump_failures(lid: str) -> int:
        state = _load_failure_counts(poison_path, failure_ttl_seconds)
        entry = state.get(lid, {"n": 0, "last": 0.0})
        entry = {"n": entry["n"] + 1, "last": time.time()}
        state[lid] = entry
        _save_failure_counts(poison_path, state)
        return entry["n"]

    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path STRING, modificationTime TIMESTAMP, length BIGINT, "
            "content BINARY"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(landing_dir)
        .select("path", "modificationTime", "length")
    )

    def _sub_lid(triple) -> str:
        # the SAME content-addressed id the file would have had as a
        # 1-file round, so a bisected sub-round's marker and a future
        # 1-file replay of the same file agree
        p, m, n = triple
        return (
            f"{lid_prefix}-"
            + hashlib.md5(f"{p}@{m}#{n}".encode()).hexdigest()[:12]
        )

    def handle_batch(batch_df, batch_id):
        files = sorted(
            (r["path"], str(r["modificationTime"]), r["length"])
            for r in batch_df.collect()
        )
        if not files:
            return
        paths = [_local_path(p) for p, _m, _n in files]
        digest = hashlib.md5(
            ";".join(f"{p}@{m}#{n}" for p, m, n in files).encode()
        ).hexdigest()[:12]
        lid = f"{lid_prefix}-{digest}"
        # Replay guard: one O(1) marker lookup per batch (the markers are
        # maintained at commit and survive vacuum, so neither a long
        # version history nor snapshot retention affects the guard);
        # catalogs without markers fall back to the version-history scan.
        has_lid = getattr(catalog, "has_load_id", None)
        if has_lid is not None:
            if has_lid(lid):
                _clear_failures(lid)
                return  # replayed batch: round already committed
        else:
            versions = getattr(catalog, "versions", None)
            if versions is not None and any(
                v.get("load_id") == lid for v in versions()
            ):
                _clear_failures(lid)
                return  # replayed batch: round already committed

        def _bisect():
            # Each file runs round_fn ALONE as its own content-addressed
            # sub-round: healthy files commit for real (exactly-once via
            # their own markers on crash-replay), only files that fail
            # quarantine_after SOLO probes dead-letter — a transient
            # fault striking during a probe consumes the sub-round's own
            # retry budget instead of dead-lettering a healthy file
            # (VERDICT r8 #2). A parent-round tombstone commit then
            # marks the original load_id so a checkpoint replay skips
            # the round instead of re-reading its now-moved files.
            for triple in files:
                local = _local_path(triple[0])
                slid = _sub_lid(triple)
                if has_lid is not None and has_lid(slid):
                    _clear_failures(slid)
                    continue  # committed by a prior (interrupted) pass
                try:
                    sub_pairs = round_fn(reader(spark, [local], schema), slid)
                except ConcurrentWriteError:
                    raise
                except Exception as fe:
                    if isinstance(fe, never_quarantine) or not quarantine_after:
                        raise
                    sn = _bump_failures(slid)
                    if sn < quarantine_after:
                        # batch fails, checkpoint holds; the next pass
                        # resumes the bisection (committed sub-rounds
                        # skip via their markers) and retries this file
                        raise
                    _dead_letter_files(
                        catalog, [local], slid, fe, sn, qdir,
                        quarantine_table,
                    )
                    _clear_failures(slid)
                    if available_now:
                        rounds.append(
                            {
                                "load_id": slid,
                                "paths": [local],
                                "quarantined": True,
                            }
                        )
                    continue
                _clear_failures(slid)
                if available_now:
                    rounds.append(
                        {
                            "load_id": slid,
                            "paths": [local],
                            count_key: sub_pairs.count(),
                        }
                    )
            _clear_failures(lid)
            txn = getattr(catalog, "transaction", None)
            if txn is not None:
                # empty commit = the parent round's marker (replay guard)
                with txn(lid):
                    pass

        if (
            len(files) > 1
            and has_lid is not None
            and any(has_lid(_sub_lid(t)) for t in files)
        ):
            # A prior bisection of this round partially committed (a
            # crash, or a transient sub-round fault that failed the
            # batch mid-bisection). Running round_fn over the FULL file
            # list now could succeed — the fault was transient — and
            # re-commit the already-committed files under the parent
            # lid. Resume the bisection instead; the guard is
            # marker-based, so it survives checkpoint AND sidecar loss.
            _bisect()
            return
        try:
            pairs = round_fn(reader(spark, paths, schema), lid)
        except ConcurrentWriteError:
            raise  # designed retry path — never counts toward poisoning
        except Exception as e:
            if not quarantine_after or isinstance(e, never_quarantine):
                # never_quarantine: environmental faults (e.g. the index
                # a loop feeds does not exist yet) — operator errors, not
                # poison files; retry forever rather than dead-letter
                # healthy data
                raise
            n = _bump_failures(lid)
            if n < quarantine_after:
                raise  # batch fails, checkpoint holds, next run retries
            if len(files) == 1:
                # Nth failure, single-file round: dead-letter it and let
                # the stream move on
                _dead_letter_files(
                    catalog, paths, lid, e, n, qdir, quarantine_table
                )
                _clear_failures(lid)
                if available_now:
                    rounds.append(
                        {"load_id": lid, "paths": paths, "quarantined": True}
                    )
                return
            # Nth failure, multi-file round: BISECT. Quarantining the
            # whole round would dead-letter healthy files alongside one
            # poison pill (data loss at max_files_per_trigger > 1), and
            # a transient infra fault that tripped the threshold would
            # dead-letter a fully healthy round.
            _bisect()
            return
        _clear_failures(lid)  # a transient fault that recovered
        if available_now:
            rounds.append(
                {"load_id": lid, "paths": paths, count_key: pairs.count()}
            )
        compact = getattr(catalog, "compact", None)
        if compact_every and compact is not None:
            for table in tables:
                if (
                    not catalog.exists(table)
                    or len(catalog._data_dirs(table)) < compact_every
                ):
                    continue
                try:
                    compact(table)
                except ConcurrentWriteError:
                    pass  # a concurrent append won; next window retries
        if refresh_views:
            # post-commit maintenance like compaction: materialized
            # views over the loop's tables catch up after every round
            # (O(round's changes) each — the CDF-driven refresh), so a
            # live dashboard reads fresh aggregates without rescanning
            # the corpus. Best-effort: a lost refresh race retries next
            # round; the watermark protocol makes retries exact.
            from gcp_datalake_pipeline_spark.operators.matview import (
                refresh_materialized_view,
            )

            for view in refresh_views:
                try:
                    refresh_materialized_view(catalog, view)
                except (ConcurrentWriteError, FileNotFoundError):
                    pass

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return rounds
    return writer.start()


def run_streaming_dedup_ingest(
    catalog,
    landing_dir: str,
    checkpoint_dir: str,
    docs_table: str = "corpus_docs",
    bands_table: str = "corpus_minhash_bands",
    pairs_table: str = "corpus_near_dup_pairs",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    num_buckets: int = 64,
    file_format: str = "parquet",
    schema=None,
    compact_every: int | None = None,
    quarantine_after: int | None = 3,
    quarantine_dir: str | None = None,
    quarantine_table: str | None = None,
    rounds_table: str | None = None,
    bloom_index: bool = False,
    refresh_views: tuple[str, ...] = (),
):
    """Run text dedup-ingest rounds over newly landed document files
    (``*.parquet`` by default; ``file_format="jsonl"`` for
    one-JSON-document-per-line corpora — pass ``schema`` like
    ``"doc_id long, text string"`` to skip per-file inference). Returns
    one record per round actually committed this run: ``{"load_id",
    "paths", "n_pairs"}`` (replayed/already-committed batches are
    skipped and not listed; dead-lettered rounds appear with
    ``"quarantined": True`` — see ``quarantine_after`` on the runner);
    with ``available_now=False``, returns the live StreamingQuery
    instead.

    Observability: every committed round also appends one metrics row —
    (load_id, n_docs, n_pairs, duration_sec, committed_at) — to
    ``rounds_table`` (default ``{docs_table}_rounds``; pass ``""`` to
    disable) INSIDE the round's transaction, so a LIVE stream's
    progress is queryable (replays and conflicted rounds never log)."""
    rtable = (
        f"{docs_table}_rounds" if rounds_table is None else rounds_table
    )

    def round_fn(batch, lid):
        return dedup_ingest_batch(
            catalog,
            batch,
            docs_table=docs_table,
            bands_table=bands_table,
            pairs_table=pairs_table,
            threshold=threshold,
            num_perm=num_perm,
            bands=bands,
            num_buckets=num_buckets,
            load_id=lid,
            rounds_table=rtable or None,
            bloom_index=bloom_index,
        )

    return _run_streaming_rounds(
        catalog, landing_dir, checkpoint_dir, round_fn,
        available_now, max_files_per_trigger, "stream-dedup",
        file_format=file_format, schema=schema,
        compact_every=compact_every,
        tables=tuple(
            t
            for t in (docs_table, bands_table, pairs_table, rtable)
            if t
        ),
        quarantine_after=quarantine_after,
        quarantine_dir=quarantine_dir,
        quarantine_table=quarantine_table or f"{docs_table}_file_quarantine",
        refresh_views=refresh_views,
    )


def run_streaming_embedding_ingest(
    catalog,
    landing_dir: str,
    checkpoint_dir: str,
    vectors_table: str = "corpus_embeddings",
    buckets_table: str = "corpus_embedding_buckets",
    pairs_table: str = "corpus_embedding_near_dup_pairs",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    threshold: float = 0.3,
    n_planes: int = 6,
    probe_radius: int = 2,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    backend: str = "arrow",
    num_buckets: int = 64,
    file_format: str = "parquet",
    schema=None,
    compact_every: int | None = None,
    quarantine_after: int | None = 3,
    quarantine_dir: str | None = None,
    quarantine_table: str | None = None,
    rounds_table: str | None = None,
):
    """The embedding twin: newly landed vector files (parquet or jsonl,
    like the text loop) run one
    atomic embedding-near-dup round per micro-batch (new batch probes the
    stored hyperplane-LSH bucket index; vectors + buckets + pairs commit
    together). Same replay/conflict semantics, return contract, and
    per-round metrics log (default ``{vectors_table}_rounds``) as the
    text loop (own load_id namespace, so both loops can share a
    catalog)."""
    rtable = (
        f"{vectors_table}_rounds" if rounds_table is None else rounds_table
    )

    def round_fn(batch, lid):
        return embedding_ingest_batch(
            catalog,
            batch,
            vectors_table=vectors_table,
            buckets_table=buckets_table,
            pairs_table=pairs_table,
            threshold=threshold,
            n_planes=n_planes,
            probe_radius=probe_radius,
            dim=dim,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            backend=backend,
            num_buckets=num_buckets,
            load_id=lid,
            rounds_table=rtable or None,
        )

    return _run_streaming_rounds(
        catalog, landing_dir, checkpoint_dir, round_fn,
        available_now, max_files_per_trigger, "stream-embdedup",
        file_format=file_format, schema=schema,
        compact_every=compact_every,
        tables=tuple(
            t
            for t in (vectors_table, buckets_table, pairs_table, rtable)
            if t
        ),
        quarantine_after=quarantine_after,
        quarantine_dir=quarantine_dir,
        quarantine_table=quarantine_table
        or f"{vectors_table}_file_quarantine",
    )


def run_streaming_index_extend(
    catalog,
    landing_dir: str,
    checkpoint_dir: str,
    index_table: str = "ann_ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    file_format: str = "parquet",
    schema=None,
    compact_every: int | None = None,
    quarantine_after: int | None = 3,
    quarantine_dir: str | None = None,
    quarantine_table: str | None = None,
    rounds_table: str | None = None,
):
    """Streaming IVF index maintenance: newly landed embedding files
    extend the PERSISTED index
    (:func:`~gcp_datalake_pipeline_spark.operators.ann_index.extend_ivf_index`)
    one micro-batch per round — assignment against the frozen centroids,
    cells + vid map appended in one commit. This closes the production
    serving pipeline: embeddings land continuously, the index absorbs
    them incrementally (never a rebuild), and queries stay
    partition-pruned to their probed cells throughout.

    Same contracts as the corpus loops: exactly-once across checkpoint
    replays AND checkpoint loss (content-addressed round ids against the
    committed-load markers), poison files dead-letter after
    ``quarantine_after`` failures, ``compact_every`` folds the
    append-grown cells/map/log tables on cadence (handled by
    ``extend_ivf_index`` itself so the cid layout survives), and each
    committed round logs one metrics row (default
    ``{index_table}_rounds``; ``""`` disables). The index must already
    exist (``build_ivf_index``) — streaming into a non-existent index
    fails the batch rather than training centroids on whichever file
    happens to land first.

    availableNow records: ``{"load_id", "paths", "n_vectors"}``.
    """
    from gcp_datalake_pipeline_spark.operators.ann_index import (
        extend_ivf_index,
    )

    rtable = (
        f"{index_table}_rounds" if rounds_table is None else rounds_table
    )

    def round_fn(batch, lid):
        if not catalog.exists(f"{index_table}_centroids"):
            raise FileNotFoundError(
                f"index {index_table!r} does not exist; run "
                "build_ivf_index first — the streaming loop extends, "
                "it never trains"
            )
        extend_ivf_index(
            catalog,
            batch,
            index_table=index_table,
            id_col=id_col,
            vec_col=vec_col,
            compact_every=compact_every,
            load_id=lid,
            rounds_table=rtable or None,
        )
        # the runner counts this for the availableNow record
        return batch.select(id_col)

    return _run_streaming_rounds(
        catalog, landing_dir, checkpoint_dir, round_fn,
        available_now, max_files_per_trigger, f"stream-ivf-{index_table}",
        file_format=file_format, schema=schema,
        compact_every=None,  # extend_ivf_index compacts (cid layout)
        tables=(),
        quarantine_after=quarantine_after,
        quarantine_dir=quarantine_dir,
        quarantine_table=quarantine_table
        or f"{index_table}_file_quarantine",
        count_key="n_vectors",
        # a missing index is an operator error, not a poison file:
        # healthy embedding batches must never be dead-lettered for it
        never_quarantine=(FileNotFoundError,),
    )


def prune_audit_tables(
    catalog,
    tables: list[str],
    max_age_seconds: float,
    now: float | None = None,
) -> dict[str, int]:
    """Age-based retention for the loops' append-forever audit tables
    (``*_file_quarantine`` provenance and ``*_rounds`` metrics) — the
    vacuum analog for observability data: rows older than
    ``max_age_seconds`` are dropped by rewriting the table (one
    transactional overwrite per table; a no-op when nothing is stale,
    so cron-driven invocations are cheap). The time column is detected
    per table (``quarantined_at`` for quarantine provenance,
    ``committed_at`` for round metrics). Returns ``{table: rows_dropped}``
    for tables that existed. Quarantined FILES are untouched — only
    their audit rows expire; delete the quarantine directory's contents
    separately once triaged."""
    from pyspark.sql import functions as F

    cutoff = (time.time() if now is None else now) - max_age_seconds
    out: dict[str, int] = {}
    for table in tables:
        if not catalog.exists(table):
            continue
        df = catalog.read(table)
        tcol = next(
            (c for c in ("quarantined_at", "committed_at") if c in df.columns),
            None,
        )
        if tcol is None:
            raise ValueError(
                f"table {table!r} has no quarantined_at/committed_at "
                "column; not an audit table"
            )
        keep = df.where(F.col(tcol) >= F.lit(cutoff))
        n_before = df.count()
        n_after = keep.count()
        if n_after < n_before:
            txn = getattr(catalog, "transaction", None)
            if txn is not None:
                with txn(f"prune-{table}-{int(cutoff)}"):
                    catalog.overwrite(keep, table)
            else:
                catalog.overwrite(keep, table)
        out[table] = n_before - n_after
    return out
