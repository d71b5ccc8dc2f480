"""Deduplication operators: exact, shingle-Jaccard, MinHash+LSH, SimHash.

Set-based DataFrame plans, except the MinHash and SimHash per-document
kernels, which run as Arrow/numpy ``mapInPandas`` passes. Near-dup
detection uses 3-word shingles (standard for document dedup: shingle sets
are sparse, so candidate joins stay selective even when the token
vocabulary is tiny). MinHash/LSH is the 100 TB path — candidate
generation is linear in corpus size x bands; the exact shingle-Jaccard
self-join is its verifier.

MinHash and SimHash hash every shingle with ONE hash, the 60-bit md5
prefix (:func:`_hash60`), which DuckDB rebuilds nibble by nibble
(:data:`_HASH60_CTE`). So the code path every caller runs — the
registry queries, the dedup ingest loop and the streaming loop — is the
one the DuckDB oracles check value for value.
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators.text import TOKEN_SPLIT_RE
from gcp_datalake_pipeline_spark.parallelism import ensure_scan_parallelism

SHINGLE_N = 3

# Python twin of the engine-wide whitespace tokenizer. re.ASCII pins
# Python's \s to [ \t\n\r\f\x0B] — exactly Java's non-UNICODE_CLASS \s —
# so the Arrow kernels shingle byte-identically to F.split(text, '\s+').
_PY_TOKEN_SPLIT = None


def _py_tokenizer():
    global _PY_TOKEN_SPLIT
    if _PY_TOKEN_SPLIT is None:
        import re

        _PY_TOKEN_SPLIT = re.compile(r"\s+", re.ASCII)
    return _PY_TOKEN_SPLIT.split


def _py_shingles(toks: list, n: int = SHINGLE_N) -> set:
    """Distinct n-word shingles of a token list (set; order-free)."""
    if len(toks) < n:
        return set()
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


def _hash60(s: str) -> int:
    """The near-dup shingle hash: the first 15 hex digits of md5 as a
    60-bit int. It fits a signed BIGINT in both engines, and DuckDB
    rebuilds it nibble by nibble (:data:`_HASH60_CTE`)."""
    return int(md5(s.encode()).hexdigest()[:15], 16)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by full text: canonical id = min doc_id per identical
    text. Output: (doc_id, canonical_id, is_dup).

    Scale: one shuffle on a text hash. We group on md5(text) rather than
    the raw text so 100 TB of document bodies never ride the shuffle."""
    key = F.md5(F.col("text"))
    w = Window.partitionBy(key)
    return df.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
    ).withColumn("is_dup", F.col("doc_id") != F.col("canonical_id"))


def shingle_array(text, n: int = SHINGLE_N):
    """Distinct n-word shingles of a text column as an array<string> —
    a narrow expression, no explode/window/shuffle.

    Built by zipping the token array against its own 1- and 2-shifted
    slices: each zip_with evaluates its operand arrays once per ROW.
    (An element_at(i+j)-style indexing formulation is quadratic after
    Catalyst inlines the split() per element — measured 70x slower.)
    Tail positions without n successors yield NULL (zip_with pads) and are
    filtered. Empty/short texts give an empty array.
    """
    toks = F.split(
        text if isinstance(text, F.Column) else F.col(text), TOKEN_SPLIT_RE
    )
    out = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks), F.lit(1)))
        out = F.zip_with(out, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.array_distinct(F.filter(out, lambda x: x.isNotNull()))


def doc_shingles(df: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct n-word shingles per document: (doc_id, shingle).

    The shingle set is built as a narrow array expression per row and only
    then exploded for the relational joins — no window shuffle. Matches the
    lead-window construction in the DuckDB oracle SQL exactly.

    Shingling is the compute-DENSE scan stage shared by jaccard / minhash /
    simhash, so the scan spread lives HERE (not at the table loader, where
    it would tax light consumers): a tiny local input is round-robined
    across the machine before the per-row split+hash work; a cluster-scale
    input already plans enough splits and passes through unchanged."""
    df = ensure_scan_parallelism(df)
    return df.select(
        "doc_id", F.explode(shingle_array(F.col("text"), n)).alias("shingle")
    )


def _pair_members(pairs: DataFrame) -> DataFrame:
    """Distinct doc_ids appearing in a candidate pair list."""
    return (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def _member_shingles(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """The corpus shingle set SEMI-JOINED down to candidate-pair members —
    the verifier's only touch of document text. Split out (and separately
    plan-contract-tested) because :func:`_pair_jaccard` materializes its
    result, which hides the LeftSemi from the final plan."""
    return shingles.join(_pair_members(pairs), "doc_id", "semi")


def _pair_jaccard(
    shingles: DataFrame,
    pairs: DataFrame | None,
    threshold: float,
    pairs_materialized: bool = False,
    members_restricted: bool = False,
) -> DataFrame:
    """Shared tail: exact Jaccard over shingle sets, optionally restricted
    to a candidate pair set. Output: (doc_a, doc_b, jaccard >= threshold).

    Candidate mode never touches non-candidate documents: the pair list
    (bounded — near-linear LSH output) is materialized once so its true
    size is visible to AQE and its generator plan isn't re-evaluated per
    join, and the corpus-scale shingle set is SEMI-JOINED down to pair
    members before any intersection work — then MATERIALIZED once, so the
    three consumers (sizes and both intersection arms) read the bounded
    member-shingle set instead of each re-running the shingle explode over
    the corpus (one text scan per verification, not four). At 100 TB the
    verifier's joins therefore scale with the candidate set, not the
    corpus. ``pairs_materialized=True`` promises the caller already
    checkpointed ``pairs`` (skips a redundant second materialization);
    ``members_restricted=True`` promises ``shingles`` is already
    member-only (the caller semi-joined the DOCUMENT table down before
    shingling — see :func:`minhash_lsh_pairs` — so the member semi-join
    here would be a no-op and is skipped)."""
    if pairs is None:
        sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        a, b = shingles.alias("a"), shingles.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        if not pairs_materialized:
            pairs = pairs.localCheckpoint(eager=True)
        sh = (
            shingles
            if members_restricted
            else _member_shingles(shingles, pairs)
        ).localCheckpoint(eager=True)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        ta = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        tb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            pairs.join(ta, "doc_a")
            .join(tb, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded to 4.
    Scale: the shingle equi-join only pairs documents sharing a shingle —
    selective because shingle space is sparse. Still quadratic in the worst
    case; minhash_lsh_pairs is the linear-ish scale path, this is its
    ground-truth verifier.
    """
    return _pair_jaccard(doc_shingles(df), None, threshold)


def jaccard_pairs_oracle_sql(threshold: float = 0.8) -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= {threshold}
    """


_SHINGLE_CTE = """
    toks AS (
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
    )"""


_HASH60_CTE = """
    hv AS (SELECT doc_id, shingle, md5(shingle) AS hx FROM sh),
    pos AS (SELECT unnest(range(1, 16)) AS i),
    hvals AS (
      SELECT doc_id, shingle,
             SUM((strpos('0123456789abcdef', substr(hx, CAST(i AS INT), 1)) - 1)
                 * (1::BIGINT << CAST(4 * (15 - i) AS INT))) AS h
      FROM hv CROSS JOIN pos GROUP BY doc_id, shingle
    )"""


def _lsh_candidate_ctes(num_perm: int, bands: int) -> str:
    """DuckDB CTE block shared by the MinHash+LSH oracles, after
    :data:`_HASH60_CTE`: the permutation constants, per-document
    signature elements (``sigel``), the band index (``bandhash``: md5 of
    the comma-joined band slice), band-collision candidates (``cand``)
    and their exact shingle ``sizes``/``inter`` counts."""
    rows_per_band = num_perm // bands
    param_rows = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(minhash_perm_params(num_perm))
    )
    return f"""
    params(i, a, b) AS (VALUES {param_rows}),
    sigel AS (
      SELECT doc_id, p.i AS seed,
             MIN((p.a * (h % {MINHASH_P}) + p.b) % {MINHASH_P}) AS mh
      FROM hvals CROSS JOIN params p GROUP BY doc_id, p.i
    ),
    bandhash AS (
      SELECT doc_id, CAST(seed // {rows_per_band} AS INT) AS band_id,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS band_hash
      FROM sigel GROUP BY doc_id, seed // {rows_per_band}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandhash a JOIN bandhash b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )"""


def minhash_lsh_oracle_sql(
    num_perm: int = 32, bands: int = 8, threshold: float = 0.8
) -> str:
    """DuckDB oracle reproducing :func:`minhash_lsh_pairs`
    VALUE-FOR-VALUE: same 60-bit md5-derived base hash (rebuilt
    nibble-by-nibble), same (a*h+b) mod P permutation constants, md5 of
    the comma-joined band slice, join on (band_id, band_hash), candidates
    verified with exact Jaccard."""
    return f"""
    WITH {_SHINGLE_CTE},
    {_HASH60_CTE},{_lsh_candidate_ctes(num_perm, bands)}
    SELECT doc_a, doc_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= {threshold}
    """


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime): (P-1)^2 + P < 2^63


def minhash_perm_params(num_perm: int = 32, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations
    h_i(x) = (a_i * x + b_i) mod P — shared with the DuckDB oracle."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
        for _ in range(num_perm)
    ]


def _minhash_sigs_py(num_perm: int):
    """Per-document MinHash signature kernel shared by
    :func:`minhash_signatures` and :func:`minhash_bands`: token list ->
    numpy sig vector (or None when the document has no shingles)."""
    import numpy as np

    params = minhash_perm_params(num_perm)
    A = np.array([a for a, _ in params], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in params], dtype=np.uint64)[:, None]
    P = np.uint64(MINHASH_P)

    def sig_of(toks: list):
        sh = _py_shingles(toks)
        if not sh:
            return None
        hs = np.fromiter(
            (_hash60(s) % MINHASH_P for s in sh),
            dtype=np.uint64,
            count=len(sh),
        )
        return ((A * hs[None, :] + B) % P).min(axis=1)

    return sig_of


def minhash_signatures(df: DataFrame, num_perm: int = 32) -> DataFrame:
    """MinHash signatures over shingle sets. Output: (doc_id, sig:
    array<bigint>), sig[i] = min over shingles of h_i(shingle).

    Permutations use universal hashing over ONE base hash per shingle:
    h_i(x) = (a_i * (base(x) mod P) + b_i) mod P, P = 2^31-1 — 32
    multiply-mods per shingle instead of 32 full hash computations
    (measured 3-4x faster than hashing per seed at sf0.1). The base hash
    is the 60-bit md5 prefix (:func:`_hash60`) that DuckDB rebuilds
    nibble-by-nibble, so the whole MinHash+LSH pipeline is value-level
    oracle-checked (:func:`minhash_lsh_oracle_sql`).

    Arrow/numpy kernel: tokenize, shingle and md5 run in C (re, hashlib)
    and the permutation mins are one vectorized numpy reduction per
    document (guide §4.2). Zero shuffles. Documents with no shingles
    (under 3 tokens, empty or NULL text) yield no row."""
    import numpy as np
    import pandas as pd

    def compute(it):
        split = _py_tokenizer()
        sig_of = _minhash_sigs_py(num_perm)
        for pdf in it:
            ids, sigs = [], []
            for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
                sig = sig_of(split(txt)) if txt is not None else None
                if sig is None:
                    continue
                ids.append(did)
                sigs.append([int(x) for x in sig])
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype=np.int64),
                    "sig": pd.Series(sigs, dtype=object),
                }
            )

    return ensure_scan_parallelism(df.select("doc_id", "text")).mapInPandas(
        compute, "doc_id long, sig array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH banding candidate generation, verified with exact
    shingle Jaccard. Output: (doc_a, doc_b, jaccard) — the LSH-accelerated
    equivalent of :func:`jaccard_pairs` (recall < 1 by design; with 8 bands
    of 4 rows, P[candidate] ~ 1-(1-j^4)^8, >99% at j=0.8). Value-level
    oracle: :func:`minhash_lsh_oracle_sql`.

    Scale: the only pair-producing join is on (band_id, band_hash) buckets;
    bucket collisions require 4 simultaneous minhash matches, so random
    pairs almost never collide and candidate count stays near-linear.

    Verification shingling is CANDIDATE-proportional end to end (r13
    optimization): the candidate pair list is materialized first and the
    DOCUMENT table is semi-joined down to pair members BEFORE the shingle
    explode, so the corpus is tokenized once (for banding), not twice —
    previously the verifier re-shingled every document and semi-joined
    the exploded result (the filter ran above the expensive Generate;
    guide §2.3: project/filter before the heavy work).
    """
    # Materialize the band index ONCE before the self-join: both join
    # sides otherwise re-run the whole signature pipeline (corpus
    # tokenize + shingle + hash per side — the kernel is opaque to
    # Spark's common-subexpression reuse). The index is 8 small rows
    # per document, bounded at any scale.
    band = minhash_bands(df, num_perm, bands).localCheckpoint(eager=True)
    a, b = band.alias("a"), band.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    member_docs = df.join(_pair_members(candidates), "doc_id", "semi")
    return _pair_jaccard(
        doc_shingles(member_docs),
        candidates,
        threshold,
        pairs_materialized=True,
        members_restricted=True,
    )


def minhash_bands(
    df: DataFrame, num_perm: int = 32, bands: int = 8
) -> DataFrame:
    """The LSH band INDEX of a corpus: (doc_id, band_id, band_hash), one
    row per document per band, ``band_hash`` the md5 hex of the band's
    comma-joined signature slice. This is the table a production
    pipeline PERSISTS (e.g. ``catalog.append`` per ingest batch): new
    batches probe it instead of re-banding the whole corpus — see
    :func:`incremental_near_dups`.

    Signature and band hashing are fused into ONE per-row Arrow pass
    (the :func:`minhash_signatures` kernel plus one md5 per band)."""
    import numpy as np
    import pandas as pd

    rows_per_band = num_perm // bands

    def compute(it):
        split = _py_tokenizer()
        sig_of = _minhash_sigs_py(num_perm)
        for pdf in it:
            ids, bids, bhs = [], [], []
            for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
                sig = sig_of(split(txt)) if txt is not None else None
                if sig is None:
                    continue
                for bi in range(bands):
                    s = ",".join(
                        str(int(x))
                        for x in sig[bi * rows_per_band : (bi + 1) * rows_per_band]
                    )
                    ids.append(did)
                    bids.append(bi)
                    bhs.append(md5(s.encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype=np.int64),
                    "band_id": np.array(bids, dtype=np.int32),
                    "band_hash": bhs,
                }
            )

    return ensure_scan_parallelism(df.select("doc_id", "text")).mapInPandas(
        compute, "doc_id long, band_id int, band_hash string"
    )


def near_dup_clusters_lsh(
    df: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_iter: int = 15,
    method: str = "label_prop",
) -> DataFrame:
    """LSH near-dup clustering, DUPLICATION-COLLAPSED — the skew-safe
    100 TB path (r13 skew drill). The naive pipeline's band self-join
    is quadratic in the hottest band bucket: a corpus where one text
    owns 50% of the rows (boilerplate pages, license headers — the
    NORM in web data) puts every copy in the same bucket of every
    band, so candidates blow up as ``bands * D^2 / 2`` and one join
    partition stragglers the stage. Identical texts carry zero new
    information for banding, so:

    1. collapse to one REPRESENTATIVE per distinct text (min doc_id,
       grouped on md5(text) so document bodies never ride the
       shuffle — same stance as :func:`exact_dedup`);
    2. band + candidate-join + exact-Jaccard-verify over the
       representatives only (bucket size is now bounded by DISTINCT
       near-identical texts, not copies);
    3. cluster the representative graph (:func:`near_dup_clusters`);
    4. attach every copy to its representative's cluster with ONE
       linear join.

    The labels are IDENTICAL to clustering the full LSH pair graph:
    identical texts collide on every band (same signature), so each
    copy is an edge away from its representative, and the component's
    minimum doc_id is always a representative (it is the minimum of
    its own text group by construction) — pinned against the
    uncollapsed pipeline in tests. Output: (doc_id, cluster_id,
    is_canonical), linear in the corpus."""
    key = F.md5(F.col("text")).alias("_th")
    reps = df.select(key, "doc_id").groupBy("_th").agg(
        F.min("doc_id").alias("_rep")
    )
    rep_docs = df.join(
        reps.select(F.col("_rep").alias("doc_id")), "doc_id", "left_semi"
    )
    rep_pairs = minhash_lsh_pairs(rep_docs, num_perm, bands, threshold)
    rep_clusters = near_dup_clusters(
        rep_docs, rep_pairs, max_iter, method=method
    )
    membership = df.select("doc_id", key).join(reps, "_th").drop("_th")
    return (
        membership.join(
            rep_clusters.select(
                F.col("doc_id").alias("_rep"), "cluster_id"
            ),
            "_rep",
        )
        .select("doc_id", "cluster_id")
        .withColumn(
            "is_canonical", F.col("cluster_id") == F.col("doc_id")
        )
    )


def near_dup_clusters_lsh_oracle_sql(
    num_perm: int = 32, bands: int = 8, threshold: float = 0.8
) -> str:
    """DuckDB oracle for :func:`near_dup_clusters_lsh`: transitive
    closure over the FULL md5-LSH pair graph (the collapse is an
    equivalence-preserving optimization, so the uncollapsed closure is
    the semantic ground truth)."""
    return f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {_HASH60_CTE},{_lsh_candidate_ctes(num_perm, bands)},
    jp AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= {threshold}
      UNION
      -- identical texts are duplicates BY DEFINITION (the collapse's
      -- contract), including degenerate texts too short to shingle
      SELECT a.doc_id, b.doc_id
      FROM documents a JOIN documents b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jp
      UNION SELECT doc_b, doc_a FROM jp
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """


def incremental_near_dups(
    existing: DataFrame,
    new: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    existing_bands: DataFrame | None = None,
    fetch_texts=None,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against an already-deduped corpus —
    the production dedup shape at 100 TB: the existing corpus is never
    re-paired against itself; only the new batch's bands probe the stored
    band index (pass ``existing_bands`` to skip re-banding the corpus —
    that is the whole point of persisting :func:`minhash_bands`; it is
    recomputed from ``existing`` only when not supplied).

    Candidates = (new x existing) ∪ (new x new) band collisions; exact
    shingle-Jaccard verification then touches candidate members only
    (the semi-join contract of :func:`_pair_jaccard`). Output:
    (doc_a, doc_b, jaccard), doc_a < doc_b — identical values to running
    :func:`minhash_lsh_pairs` on the full corpus and keeping pairs with
    at least one new member.

    ``fetch_texts`` closes the remaining I/O gap at corpus scale: without
    it, verification COMPUTE is candidate-proportional but the plan still
    SCANS the whole ``existing`` table to find member texts. Pass a
    callable ``(member_ids: DataFrame[doc_id]) -> DataFrame[doc_id, text]``
    that fetches candidate members' documents directly (e.g. a
    partition-pruned read of a doc_id-bucketed store — see
    :func:`~gcp_datalake_pipeline_spark.operators.corpus.dedup_ingest_batch`)
    and the round's verification I/O becomes candidate-proportional too:
    only the members' buckets are opened, never the full corpus. The
    member-id list is materialized (bounded — LSH candidate output)
    before the fetch, so the fetcher may safely collect bucket ids.
    """
    if existing_bands is None:
        existing_bands = minhash_bands(existing, num_perm, bands)
    # materialized: the probe union AND the join's b side both consume
    # the new batch's bands — unmaterialized, the signature kernel would
    # run twice over the batch (opaque to plan-level reuse)
    new_bands = minhash_bands(new, num_perm, bands).localCheckpoint(eager=True)
    probe = existing_bands.unionByName(new_bands).alias("a")
    cand = (
        probe.join(
            new_bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if fetch_texts is not None:
        docs = fetch_texts(_pair_members(cand))
    else:
        # Semi-join the document tables down to candidate members BEFORE
        # shingling (r13): verification COMPUTE is candidate-proportional
        # even without a fetch_texts bucket fetcher — only the scan of the
        # corpus remains corpus-sized.
        docs = existing.unionByName(new).join(
            _pair_members(cand), "doc_id", "semi"
        )
    shingles = doc_shingles(docs)
    return _pair_jaccard(
        shingles,
        cand,
        threshold,
        pairs_materialized=True,
        members_restricted=True,
    )


CHUNK_TOKENS = 10


def doc_chunks(df: DataFrame, chunk_tokens: int = CHUNK_TOKENS) -> DataFrame:
    """Non-overlapping ``chunk_tokens``-token chunks per document — the
    'line' unit for cross-document boilerplate removal (the corpus has no
    newlines; fixed-token chunks are the segmentation analog of C4's
    line-level dedup). Output: (doc_id, chunk_id, chunk_text).

    Shape note: posexplode + groupBy (codegen'd, partial-agg before the
    shuffle) rather than a transform(sequence...) lambda over the token
    array — Catalyst's project-collapsing would inline the split() into
    every chunk slice (the HOF trap documented on shingle_array), making
    chunking quadratic in document length.
    """
    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), TOKEN_SPLIT_RE)).alias(
            "pos", "tok"
        ),
    )
    return (
        toks.groupBy(
            "doc_id",
            F.floor(F.col("pos") / chunk_tokens).cast("long").alias("chunk_id"),
        )
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("chunk_text")
        )
    )


def chunk_boilerplate_report(
    df: DataFrame, chunk_tokens: int = CHUNK_TOKENS, min_docs: int = 2
) -> DataFrame:
    """Cross-document chunk-level dedup report: per document, how many of
    its chunks are corpus boilerplate (appear in >= min_docs distinct
    docs). Output: (doc_id, n_chunks, n_boilerplate, kept_ratio).

    Scale: the global chunk-frequency groupBy and the flag join both carry
    md5(chunk) — 16 bytes per chunk on the shuffle, never the text (the
    exact_dedup trick). This is the pretraining-corpus 'remove duplicated
    lines' pass; see strip_boilerplate_chunks for the rewrite."""
    chunks = doc_chunks(df, chunk_tokens).withColumn(
        "h", F.md5("chunk_text")
    )
    counts = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    boiler = (F.col("dfreq") >= min_docs).cast("int")
    return (
        chunks.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(boiler).alias("n_boilerplate"),
            F.round(
                1.0 - F.sum(boiler).cast("double") / F.count(F.lit(1)), 4
            ).alias("kept_ratio"),
        )
    )


def strip_boilerplate_chunks(
    df: DataFrame, chunk_tokens: int = CHUNK_TOKENS, min_docs: int = 2
) -> DataFrame:
    """Rewrite each document with its boilerplate chunks removed (chunk
    order preserved). Output: (doc_id, text) — one row per INPUT document:
    documents made entirely of boilerplate come back with empty text (the
    aggregation is left-joined back to the full doc_id set, so no row is
    silently lost). Downstream length filters (see operators/corpus.py)
    then drop the empties, mirroring real curation stacks."""
    chunks = doc_chunks(df, chunk_tokens).withColumn("h", F.md5("chunk_text"))
    counts = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("dfreq"))
    kept = chunks.join(counts, "h").filter(F.col("dfreq") < min_docs)
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
        ).alias("text")
    )
    # All-boilerplate docs have zero kept chunks; restore them with empty
    # text so the output is keyed 1:1 with the input corpus.
    return (
        df.select("doc_id")
        .distinct()
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )


def chunk_boilerplate_oracle_sql(
    chunk_tokens: int = CHUNK_TOKENS, min_docs: int = 2
) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(text, '\\s+'), 1) AS pos
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, (pos - 1) // {chunk_tokens} AS chunk_id,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM toks GROUP BY doc_id, (pos - 1) // {chunk_tokens}
    ),
    counts AS (
      SELECT md5(chunk_text) AS h, COUNT(DISTINCT doc_id) AS dfreq
      FROM chunks GROUP BY md5(chunk_text)
    ),
    flagged AS (
      SELECT c.doc_id,
             CASE WHEN dfreq >= {min_docs} THEN 1 ELSE 0 END AS boiler
      FROM chunks c JOIN counts ON md5(c.chunk_text) = counts.h
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(boiler) AS BIGINT) AS n_boilerplate,
           ROUND(1.0 - SUM(boiler) * 1.0 / COUNT(*), 4) AS kept_ratio
    FROM flagged GROUP BY doc_id
    """


def near_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    max_iter: int = 15,
    on_unconverged: str = "raise",
    method: str = "label_prop",
) -> DataFrame:
    """Connected components over a near-dup pair set: every document gets a
    ``cluster_id`` (the min doc_id reachable through pair edges; singletons
    cluster with themselves) and ``is_canonical`` (the keeper). This is the
    step that turns PAIRS into the keep/drop decision a curation pipeline
    actually executes.

    Algorithm: iterative min-label propagation — each round, every node
    takes the min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup clusters are shallow — pairs and
    small chains — so a handful of rounds at any scale; the loop exits
    early on a converged round). The driver-side loop is the sanctioned
    iterative-algorithm exception: each iteration is a set-based join +
    groupBy, and the only driver values are the per-round change counts.

    Scale: edges shuffle on node id; labels are (id, label) longs.
    ``method="pointer_doubling"`` adds a label-of-label lookup to each
    round (one extra join on the label key), so labels jump to their
    label's label and components converge in O(log diameter) rounds
    instead of O(diameter) — the right mode when chains can be long;
    plain ``"label_prop"`` (default) does one join less per round, which
    wins on the shallow pair-and-small-chain graphs dedup produces.

    If a component's diameter exceeds what ``max_iter`` rounds can cover,
    the labels would be WRONG (multiple is_canonical rows per real
    cluster), so exhausting the loop with changes still pending raises
    RuntimeError by default; pass ``on_unconverged="warn"`` to log and
    return the partial labels instead.
    """
    if on_unconverged not in ("raise", "warn"):
        raise ValueError("on_unconverged must be 'raise' or 'warn'")
    if method not in ("label_prop", "pointer_doubling"):
        raise ValueError("method must be 'label_prop' or 'pointer_doubling'")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Materialize the edge list ONCE: `pairs` is typically an expensive
    # candidate generator (shingle self-join, LSH bucket join) and the
    # loop would otherwise re-evaluate it from scratch every round. The
    # pair list is bounded (near-dup output, not corpus-sized).
    edges = edges.localCheckpoint(eager=True)
    # Propagate over the edge SUBGRAPH only: a node with no edges can
    # never change its label, so the (at 100 TB, overwhelming) singleton
    # majority stays out of every per-round join and rides back in via
    # one left join at the end.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    cached = None  # the materialized frame behind `labels`, for unpersist
    for it in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("dlabel")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlabel").alias("nmin"))
            .select(F.col("src").alias("doc_id"), "nmin")
        )
        # the OLD label rides along as _prev so the per-round
        # convergence count is a projection of the materialized frame,
        # not a second join of old-vs-new label tables (one join and
        # its shuffle removed per round)
        candidate = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_prev"),
        )
        if method == "pointer_doubling":
            # label-of-label jump: L(v) <- min(L(v), L(L(v))). L(v) is a
            # node in v's component, so its label is too — safe to adopt.
            ll = labels.select(
                F.col("doc_id").alias("label"), F.col("label").alias("_ll")
            )
            candidate = candidate.join(ll, "label", "left").select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("label"),
                "_prev",
            )
        # cache() alone leaves the LOGICAL plan growing ~3 joins deeper
        # per round, so Catalyst re-analysis cost climbs superlinearly on
        # long-running graphs. localCheckpoint (eager) truncates lineage
        # at a bounded cadence: every round in pointer-doubling mode (it
        # converges in <= O(log diameter) rounds, so the per-round
        # materialization is cheap insurance), every 5th round in plain
        # label propagation (chains can run tens of rounds).
        if method == "pointer_doubling" or (it + 1) % 5 == 0:
            new_labels = candidate.localCheckpoint(eager=True)
        else:
            new_labels = candidate.cache()
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        if cached is not None:
            cached.unpersist()
        cached = new_labels
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    else:
        msg = (
            f"near_dup_clusters did not converge in {max_iter} iterations "
            f"({changed} labels still changing); a component's diameter "
            "exceeds max_iter — raise max_iter or use pointer-doubling."
        )
        if on_unconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return (
        df.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("cluster_id") == F.col("doc_id"))
    )


def near_dup_clusters_oracle_sql(threshold: float = 0.8) -> str:
    """DuckDB oracle for near_dup_clusters over jaccard_pairs(threshold):
    recursive-CTE transitive closure, component label = min reachable id."""
    return f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= {threshold}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jp
      UNION SELECT doc_b, doc_a FROM jp
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """


SIMHASH_BITS = 60


def simhash(df: DataFrame) -> DataFrame:
    """SimHash document fingerprints from hashed shingles.

    For each bit position, sum +1/-1 votes across the doc's shingles; the
    fingerprint sets bits with a positive vote. Output: (doc_id, simhash).
    Shingles hash to the 60-bit md5 prefix (:func:`_hash60`), so the
    fingerprint has :data:`SIMHASH_BITS` bits, fits a signed BIGINT, and
    DuckDB rebuilds it value for value (:func:`simhash_pairs_oracle_sql`).

    Arrow/numpy kernel: tokenize/shingle/md5 run in C (re, hashlib) and
    the per-bit vote matrix is ONE vectorized numpy reduction per
    document (guide §4.2: hand whole batches to vectorized native code).
    Zero shuffles. Documents with no shingles (under 3 tokens, empty or
    NULL text) yield no row."""
    import numpy as np
    import pandas as pd

    def compute(it):
        split = _py_tokenizer()
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        for pdf in it:
            ids, fps = [], []
            for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
                sh = _py_shingles(split(txt)) if txt is not None else set()
                if not sh:
                    continue
                hs = np.fromiter(
                    (_hash60(s) for s in sh), dtype=np.uint64, count=len(sh)
                )
                cnt = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                fp = (
                    (2 * cnt > len(sh)).astype(np.uint64) << shifts
                ).sum()
                ids.append(did)
                fps.append(np.int64(fp))
            yield pd.DataFrame(
                {
                    "doc_id": np.array(ids, dtype=np.int64),
                    "simhash": np.array(fps, dtype=np.int64),
                }
            )

    return ensure_scan_parallelism(df.select("doc_id", "text")).mapInPandas(
        compute, "doc_id long, simhash long"
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 4 equal-width
    bit chunks (pigeonhole: any pair differing in <= 3 of the 4 chunks
    collides on at least one exact chunk; max_hamming spread across >= 4
    chunks can miss — accepted approximation, documented recall tradeoff).

    Chunk width is 15 bits (a quarter of the 60-bit fingerprint).
    Output: (doc_a, doc_b, hamming).
    """
    width = SIMHASH_BITS // 4
    mask = (1 << width) - 1
    # materialized: the chunk self-join below consumes the fingerprints
    # twice, and unmaterialized both sides re-run the whole simhash
    # kernel (corpus tokenize+shingle+hash — opaque to plan-level
    # reuse). One long per document, bounded at any scale.
    sh = simhash(df).localCheckpoint(eager=True)
    chunk = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_id")
    chunks = sh.select("doc_id", "simhash", chunk).select(
        "doc_id",
        "simhash",
        "chunk_id",
        F.expr(f"shiftright(simhash, chunk_id * {width}) & {mask}").alias(
            "chunk_val"
        ),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


_SIMHASH_CTE = """
    bits AS (SELECT unnest(range(0, 60)) AS bit),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN ((h >> CAST(bit AS INT)) & 1) = 1
                      THEN 1 ELSE -1 END) AS v
      FROM hvals CROSS JOIN bits GROUP BY doc_id, bit
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(bit AS INT))
                      ELSE 0::BIGINT END) AS simhash
      FROM votes GROUP BY doc_id
    )"""


def simhash_pairs_oracle_sql(max_hamming: int = 12) -> str:
    """DuckDB oracle reproducing :func:`simhash_near_pairs`
    VALUE-FOR-VALUE: the 60-bit hash is rebuilt nibble-by-nibble from the
    md5 hex (strpos against the hex alphabet), then identical vote
    (:data:`_SIMHASH_CTE`) / 15-bit-chunk blocking arithmetic on
    BIGINTs."""
    return f"""
    WITH {_SHINGLE_CTE},
    {_HASH60_CTE},{_SIMHASH_CTE},
    cs AS (SELECT unnest(range(0, 4)) AS c),
    chunks AS (
      SELECT doc_id, simhash, c,
             (simhash >> CAST(c * 15 AS INT)) & 32767 AS chunk_val
      FROM fp CROSS JOIN cs
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# -- exact repeated-span (substring) dedup ------------------------------------
#
# MinHash/SimHash find near-duplicate DOCUMENTS; the other famous
# contamination mode is verbatim repeated SUBSTRINGS scattered across
# otherwise-distinct documents (boilerplate, licenses, templates —
# Lee et al., "Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499). The paper builds a corpus-wide suffix
# array; the Spark-native formulation is the standard scalable variant:
# every w-token sliding window becomes a (doc, pos, span) row, and a
# span seen more than once is a verbatim duplicate of length >= w.
# Cost: one explode (~tokens x rows) + one shuffle on the span (or its
# 64-bit hash at scale — shuffle bytes drop ~10x and a false collision
# only ever removes a span, never corrupts one).


def span_occurrences(
    df: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every ``window``-token sliding span per document:
    ``(id_col, pos, span)`` with 1-based token positions. Documents
    shorter than ``window`` tokens contribute nothing."""
    df = ensure_scan_parallelism(df)
    w = int(window)
    # CASE guard, not greatest(): sequence(1, 0) steps BACKWARDS in
    # Spark ([1, 0]) and slice(start=0) raises — short docs must yield
    # an empty span array
    spans = F.expr(
        f"CASE WHEN size(_toks) >= {w} THEN "
        f"transform(sequence(1, size(_toks) - {w} + 1), "
        f"i -> struct(i AS pos, array_join(slice(_toks, i, {w}), ' ') "
        f"AS span)) ELSE array() END"
    )
    return (
        df.select(
            id_col,
            F.split(F.col(text_col), TOKEN_SPLIT_RE).alias("_toks"),
        )
        .select(id_col, F.explode(spans).alias("_s"))
        .select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.span"))
    )


def find_repeated_spans(
    df: DataFrame,
    window: int = 10,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_spans: bool = False,
) -> DataFrame:
    """Verbatim ``window``-token spans occurring at least
    ``min_occurrences`` times corpus-wide: ``(span, n_docs, n_occ)``
    (``span_hash`` instead when ``hash_spans`` — the 100 TB shape: the
    shuffle carries 8-byte keys, not w-token strings)."""
    occ = span_occurrences(df, window, text_col, id_col)
    key = (
        F.xxhash64("span").alias("span_hash")
        if hash_spans
        else F.col("span")
    )
    return (
        occ.groupBy(key)
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_occ") >= min_occurrences)
    )


def strip_repeated_spans(
    df: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every NON-CANONICAL occurrence of a corpus-duplicated
    ``window``-token span (the paper's dedup step): per duplicated
    span, the occurrence at the smallest ``(doc, pos)`` stays; every
    other occurrence's token positions are masked and the document's
    text is rebuilt from the surviving tokens. Overlapping masked
    spans union naturally (positions are masked, not substrings).
    Returns the input frame with ``text_col`` rewritten (documents
    with nothing masked pass through byte-identical).

    Scale: duplicated-occurrence rows (not the corpus) drive every
    join; the mask explode is w x duplicate occurrences; the rebuild
    is one groupBy over affected docs' tokens only — untouched
    documents never shuffle their tokens."""
    occ = span_occurrences(df, window, text_col, id_col)
    w = Window.partitionBy("span")
    ranked = occ.withColumn(
        "_n", F.count(F.lit(1)).over(w)
    ).withColumn(
        "_first",
        F.min(F.struct(F.col(id_col), F.col("pos"))).over(w),
    )
    doomed = ranked.where(
        (F.col("_n") > 1)
        & ~(
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("pos") == F.col("_first.pos"))
        )
    ).select(id_col, "pos")
    masked = doomed.select(
        id_col,
        F.explode(
            F.sequence(
                F.col("pos"), F.col("pos") + F.lit(int(window) - 1)
            )
        ).alias("tokpos"),
    ).dropDuplicates([id_col, "tokpos"])
    affected = masked.select(id_col).distinct()
    toks = (
        df.join(affected, on=id_col, how="left_semi")
        .select(
            id_col,
            F.posexplode(
                F.split(F.col(text_col), TOKEN_SPLIT_RE)
            ).alias("_p0", "tok"),
        )
        .withColumn("tokpos", F.col("_p0") + 1)
    )
    rebuilt = (
        toks.join(masked, on=[id_col, "tokpos"], how="left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tokpos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("_new_text")
        )
    )
    out = df.join(rebuilt, on=id_col, how="left")
    return out.withColumn(
        text_col, F.coalesce("_new_text", F.col(text_col))
    ).drop("_new_text")
