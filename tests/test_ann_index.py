"""Persisted IVF index: value parity with the recompute path, frozen-
centroid incremental extension, and the partition-pruned probe scan."""

import shutil

import pytest
from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.operators import ann_index, similarity
from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

EMB = "/root/testdata/sf0.001/embeddings.parquet"
QIDS = [3, 57, 111]


@pytest.fixture(scope="module")
def _full_builds(spark, tmp_path_factory):
    """``pq_m -> (root, centroids)``: one ``build_ivf_index`` over the
    whole corpus per index kind, built on first use and shared by the
    module's tests through ``built_index``."""
    builds = {}

    def get(pq_m):
        if pq_m not in builds:
            root = str(tmp_path_factory.mktemp("ann_full") / "lake")
            cat = TransactionalCatalog(spark=spark, root=root)
            emb = spark.read.parquet(EMB)
            builds[pq_m] = (
                root, ann_index.build_ivf_index(cat, emb, pq_m=pq_m)
            )
        return builds[pq_m]

    return get


@pytest.fixture()
def built_index(spark, _full_builds, tmp_path):
    """``built_index(pq_m=None) -> (catalog, centroids)``: a fresh
    transactional catalog in the state ``build_ivf_index(catalog, emb,
    pq_m=pq_m)`` leaves an empty one in, and the centroids it returned.
    The catalog is a copy of the shared build; its manifest holds only
    paths relative to the root, so the copy is the same catalog."""

    def make(pq_m=None):
        root, cents = _full_builds(pq_m)
        lake = str(tmp_path / "lake")
        shutil.copytree(root, lake)
        return TransactionalCatalog(spark=spark, root=lake), cents

    return make


def _rows(df):
    return {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in df.collect()
    }


def test_index_query_matches_recompute_path(spark, built_index):
    """ivf_index_topk over the persisted index == ivf_topk given the same
    centroids — the persisted path changes WHERE assignment lives, never
    the values (which is why it shares the kmeans gate's oracle)."""
    emb = spark.read.parquet(EMB)
    cat, cents = built_index()
    got = _rows(ann_index.ivf_index_topk(cat, QIDS, k=5))
    want = _rows(
        similarity.ivf_topk(emb, QIDS, k=5, centroids=cents)
    )
    assert got == want and got


def test_probe_scan_is_partition_pruned(built_index):
    """The candidate scan must carry PartitionFilters on cid (probed
    cells only) — the on-disk nprobe/nlist contract."""
    cat, _ = built_index()
    out = ann_index.ivf_index_topk(cat, QIDS, k=5, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    cand_scans = [l for l in scans if "PartitionFilters: [cid" in l]
    assert cand_scans, plan
    # the pruning list is at most |queries| * nprobe cells, never all 16
    pf = cand_scans[0].split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    n_cells = pf.count(",") + 1
    assert n_cells <= len(QIDS) * 4


def test_extend_index_matches_full_build_under_frozen_centroids(
    spark, tmp_path
):
    """Build on the first half, extend with the second: queries must
    equal ivf_topk over the FULL corpus with the index's (half-trained)
    centroids — extension assigns against frozen centroids and rewrites
    nothing."""
    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    cents = ann_index.build_ivf_index(cat, first)
    n_dirs_before = len(cat._data_dirs("ann_ivf_cells"))
    ann_index.extend_ivf_index(cat, rest)
    # append-only: one new staged dir, stored data untouched
    assert len(cat._data_dirs("ann_ivf_cells")) == n_dirs_before + 1
    assert cat.read("ann_ivf_cells").count() == emb.count()
    got = _rows(ann_index.ivf_index_topk(cat, QIDS, k=5))
    want = _rows(similarity.ivf_topk(emb, QIDS, k=5, centroids=cents))
    assert got == want and got


def test_registry_query_matches_kmeans_gate(spark):
    """The registry entry (process-cached index in tmp) must produce the
    same rows as ann_ivf_kmeans_topk — they share one oracle."""
    from gcp_datalake_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    got = _rows(QUERIES["ann_ivf_index_topk"].fn(spark, sf))
    want = _rows(QUERIES["ann_ivf_kmeans_topk"].fn(spark, sf))
    assert got == want and got


def test_external_query_vectors(spark, built_index):
    """Serving shape: external (query_id, vector) pairs probe the index
    without touching any corpus data outside the probed cells. A query
    vector equal to a stored vector must rank that vector first with
    cosine 1.0."""
    import pytest

    emb = spark.read.parquet(EMB)
    cat, _ = built_index()
    stored = {r["vec_id"]: list(r["embedding"]) for r in emb.limit(50).collect()}
    qv = [(9001, stored[3]), (9002, stored[17])]
    out = ann_index.ivf_index_topk(cat, query_vectors=qv, k=3)
    rows = {r["query_id"]: [] for r in out.collect()}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        rows[r["query_id"]].append((r["neighbor_id"], r["cosine_sim"]))
    assert rows[9001][0] == (3, 1.0)
    assert rows[9002][0] == (17, 1.0)
    with pytest.raises(ValueError, match="exactly one"):
        ann_index.ivf_index_topk(cat, query_ids=[1], query_vectors=qv)
    with pytest.raises(ValueError, match="exactly one"):
        ann_index.ivf_index_topk(cat)


def test_self_query_vector_fetch_is_partition_pruned(built_index):
    """Round-7 contract: self-query vectors come through the bucketed vid
    map (PartitionFilters on _kb) and the queries' own cells
    (PartitionFilters on cid) — never a vid-IN scan over every cid
    partition's footers."""
    cat, _ = built_index()

    map_df = ann_index._query_cid_map(cat, "ann_ivf", QIDS)
    map_plan = map_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_kb" in map_plan, map_plan

    vec_df = ann_index._self_query_vectors(cat, "ann_ivf", QIDS)
    vec_plan = vec_df._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in vec_plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("PartitionFilters: [cid" in l for l in scans), vec_plan
    # and the fetched vectors are exactly the queries' own rows
    got = {r["vid"] for r in vec_df.collect()}
    assert got == set(QIDS)


def test_legacy_index_without_map_falls_back(spark, built_index):
    """An index persisted before the vid map existed must still answer
    self-queries (pushed-down vid filter over the cells) with identical
    values."""
    import json
    import os

    emb = spark.read.parquet(EMB)
    cat, cents = built_index()
    want = _rows(ann_index.ivf_index_topk(cat, QIDS, k=5))
    # simulate a pre-round-7 index: surgically drop the map table
    mpath = os.path.join(cat.root, "_MANIFEST.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["tables"]["ann_ivf_vid_map"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    legacy = TransactionalCatalog(spark=spark, root=cat.root)
    assert not legacy.exists("ann_ivf_vid_map")
    got = _rows(ann_index.ivf_index_topk(legacy, QIDS, k=5))
    assert got == want and got
    # extending a legacy index must not create a PARTIAL map
    ann_index.extend_ivf_index(legacy, emb.limit(0))
    assert not legacy.exists("ann_ivf_vid_map")


def test_extend_auto_compaction_preserves_layouts_and_values(
    spark, tmp_path
):
    """compact_every folds the extend-grown cells and map dir lists back
    to one dir each; the cid/_kb layouts survive, the probe scan stays
    partition-pruned, and values equal the recompute path over the full
    corpus with the frozen centroids."""
    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    parts = [
        emb.filter(
            (F.col("vec_id") >= i * n // 4)
            & (F.col("vec_id") < (i + 1) * n // 4)
        )
        for i in range(4)
    ]
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    cents = ann_index.build_ivf_index(cat, parts[0])
    for b in parts[1:]:
        ann_index.extend_ivf_index(cat, b, compact_every=2)
    assert len(cat._data_dirs("ann_ivf_cells")) == 1
    assert len(cat._data_dirs("ann_ivf_vid_map")) == 1
    out = ann_index.ivf_index_topk(cat, QIDS, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    cand = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "PartitionFilters: [cid" in l
    ]
    assert cand, plan
    want = _rows(similarity.ivf_topk(emb, QIDS, k=5, centroids=cents))
    assert _rows(out) == want and want


def test_streaming_index_extend_exactly_once(spark, tmp_path):
    """Streaming IVF maintenance: landed embedding files extend the
    persisted index one round per file; queries equal ivf_topk over the
    full corpus with the frozen centroids; replays on the same AND a
    lost checkpoint extend nothing (content-addressed rounds vs the
    committed-load markers); each committed round logs a metrics row."""
    import os

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_index_extend,
    )

    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)
    land = str(tmp_path / "landing")
    os.makedirs(land)
    for i, cut in enumerate([(n // 2, 3 * n // 4), (3 * n // 4, n)]):
        rest.filter(
            (F.col("vec_id") >= cut[0]) & (F.col("vec_id") < cut[1])
        ).toPandas().to_parquet(os.path.join(land, f"b{i}.parquet"), index=False)

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    cents = ann_index.build_ivf_index(cat, first)
    rounds = run_streaming_index_extend(
        cat, land, str(tmp_path / "ckpt")
    )
    assert len(rounds) == 2
    assert sum(r["n_vectors"] for r in rounds) == rest.count()
    assert cat.read("ann_ivf_cells").count() == emb.count()

    got = _rows(ann_index.ivf_index_topk(cat, QIDS, k=5))
    want = _rows(similarity.ivf_topk(emb, QIDS, k=5, centroids=cents))
    assert got == want and got

    # metrics log: one row per committed round, none on replay
    log = cat.read("ann_ivf_rounds").collect()
    assert {r["load_id"] for r in log} == {r["load_id"] for r in rounds}
    assert run_streaming_index_extend(cat, land, str(tmp_path / "ckpt")) == []
    assert run_streaming_index_extend(cat, land, str(tmp_path / "ckpt2")) == []
    assert cat.read("ann_ivf_cells").count() == emb.count()
    assert cat.read("ann_ivf_rounds").count() == 2


def test_stream_extend_missing_index_never_quarantines(spark, tmp_path):
    """A missing index is an operator error, not a poison file: the
    stream must fail (retry forever) rather than dead-letter healthy
    embedding batches after N attempts."""
    import os

    import pytest

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_index_extend,
    )

    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    land = str(tmp_path / "landing")
    os.makedirs(land)
    emb.filter(F.col("vec_id") >= n - 50).toPandas().to_parquet(
        os.path.join(land, "b0.parquet"), index=False
    )
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    for _ in range(3):  # would cross quarantine_after=2 if it counted
        with pytest.raises(Exception):
            run_streaming_index_extend(
                cat, land, str(tmp_path / "ckpt"), quarantine_after=2
            )
    assert os.path.exists(os.path.join(land, "b0.parquet"))
    assert not os.path.exists(land + "_quarantine")
    assert not cat.exists("ann_ivf_file_quarantine")
    # and once the index exists, the same landing drains cleanly
    ann_index.build_ivf_index(cat, emb.filter(F.col("vec_id") < n - 50))
    rounds = run_streaming_index_extend(cat, land, str(tmp_path / "ckpt"))
    assert len(rounds) == 1 and rounds[0]["n_vectors"] == 50


def test_df_input_serving_matches_list_path(spark, built_index):
    """VERDICT r7 #4: ivf_index_topk_df (bulk DataFrame-input serving)
    must be value-identical to the driver-list path, with NO driver-side
    collect of query vectors — centroid ranking runs as an Arrow
    pandas_udf over the query DataFrame against the broadcast centroid
    matrix, and the cells scan stays partition-pruned."""
    emb = spark.read.parquet(EMB)
    cat, _ = built_index()

    # external-query parity: same vectors through both input shapes
    qvecs = [
        (int(r["vec_id"]) + 10_000, [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id").isin(QIDS)).collect()
    ]
    qdf = spark.createDataFrame(
        qvecs, "query_id long, qv array<double>"
    )
    want = _rows(ann_index.ivf_index_topk(cat, query_vectors=qvecs, k=5))
    got_df = ann_index.ivf_index_topk_df(cat, qdf, k=5)
    assert _rows(got_df) == want and want

    # self-query parity (exclude_self): equals the list self-query path
    self_q = emb.filter(F.col("vec_id").isin(QIDS))
    got_self = ann_index.ivf_index_topk_df(
        cat, self_q, k=5, id_col="vec_id", vec_col="embedding",
        exclude_self=True,
    )
    assert _rows(got_self) == _rows(ann_index.ivf_index_topk(cat, QIDS, k=5))

    # plan contracts: query vectors flow through ArrowEvalPython (the
    # pandas_udf), and the candidate scan is cid-partition-pruned
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    cand_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "PartitionFilters: [cid" in l
    ]
    assert cand_scans, plan

    # prune_cells=False: no bounded collect, full cells scan, same values
    got_nop = ann_index.ivf_index_topk_df(cat, qdf, k=5, prune_cells=False)
    assert _rows(got_nop) == want


def test_remove_ids_absent_from_all_query_paths(spark, built_index):
    """VERDICT r8 #1(a): after remove_ids, a removed id appears in NO
    query path — ivf_index_topk (self-query + candidate), the bulk
    ivf_index_topk_df twin, and the self-query vector fetch — while the
    untouched ids' results equal ivf_topk over the corpus WITHOUT the
    removed vectors under the same frozen centroids (the delete is an
    anti-join, never a rescore)."""
    emb = spark.read.parquet(EMB)
    cat, cents = built_index()

    # victims: a served neighbor (so the absence assert has teeth) and a
    # query id (so the self-query exclusion is exercised too)
    before = ann_index.ivf_index_topk(cat, QIDS, k=5)
    victim = next(
        int(r["neighbor_id"])
        for r in before.orderBy("query_id", "rank").collect()
        if int(r["neighbor_id"]) not in QIDS
    )
    removed = [victim, QIDS[0]]
    ann_index.remove_ids(cat, removed)
    assert cat.read("ann_ivf_tombstones").count() == 2

    live = [q for q in QIDS if q not in removed]
    got = _rows(ann_index.ivf_index_topk(cat, live, k=5))
    assert got and not {r[1] for r in got} & set(removed)
    keep = emb.filter(~F.col("vec_id").isin(removed))
    want = _rows(similarity.ivf_topk(keep, live, k=5, centroids=cents))
    assert got == want

    # a removed id no longer resolves as a self-query (vector is gone
    # for serving purposes): no rows, rather than stale neighbors
    assert ann_index.ivf_index_topk(cat, [QIDS[0]], k=5).count() == 0
    assert (
        ann_index._self_query_vectors(cat, "ann_ivf", removed).count() == 0
    )

    # bulk DataFrame path honors the same tombstones
    got_df = _rows(
        ann_index.ivf_index_topk_df(
            cat,
            emb.filter(F.col("vec_id").isin(live)),
            k=5,
            id_col="vec_id",
            vec_col="embedding",
            exclude_self=True,
        )
    )
    assert got_df == want

    # and an EXTERNAL query equal to the removed vector must not see it
    vvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == victim).first()["embedding"]
    ]
    ext = _rows(
        ann_index.ivf_index_topk(cat, query_vectors=[(9001, vvec)], k=5)
    )
    assert ext and victim not in {r[1] for r in ext}


def test_compact_index_drops_rows_preserves_layouts(spark, built_index):
    """VERDICT r8 #1(b): compact_index physically drops the tombstoned
    rows from the cells AND the vid map, preserves the cid partitioning,
    the map's _kb layout + bucket-meta sidecar (both plan contracts
    still hold after the rewrite), clears the tombstone table, and a
    second compaction is a no-op rather than a full rewrite."""
    import os

    emb = spark.read.parquet(EMB)
    n_total = emb.count()
    cat, cents = built_index()
    removed = [7, 42]
    ann_index.remove_ids(cat, removed)

    assert ann_index.compact_index(cat) == {
        "dropped": len(removed), "tombstones_cleared": len(removed),
    }
    assert cat.read("ann_ivf_cells").count() == n_total - len(removed)
    assert cat.read("ann_ivf_vid_map").count() == n_total - len(removed)
    assert cat.read("ann_ivf_tombstones").count() == 0
    assert ann_index.compact_index(cat) == {
        "dropped": 0, "tombstones_cleared": 0,
    }

    # bucket-meta sidecar survived the map overwrite, so self-queries
    # keep resolving through the persisted modulus
    assert os.path.exists(cat._bucket_meta_path("ann_ivf_vid_map"))

    live = [q for q in QIDS if q not in removed]
    out = ann_index.ivf_index_topk(cat, live, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "FileScan parquet" in l and "PartitionFilters: [cid" in l
        for l in plan.splitlines()
    ), plan
    map_plan = (
        ann_index._query_cid_map(cat, "ann_ivf", live)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [_kb" in map_plan, map_plan

    keep = emb.filter(~F.col("vec_id").isin(removed))
    want = _rows(similarity.ivf_topk(keep, live, k=5, centroids=cents))
    assert _rows(out) == want and want


def test_tombstone_shadows_reextended_id_until_compaction(spark, built_index):
    """VERDICT r8 #1(c): the documented id-reuse caveat — a tombstone
    shadows ALL rows of its vid, including ones appended AFTER the
    removal, until compact_index folds it; after compaction a
    re-extended id serves normally with its new vector."""
    emb = spark.read.parquet(EMB)
    cat, _ = built_index()
    x = 3
    new_vec = [
        -float(v) for v in emb.filter(F.col("vec_id") == x).first()["embedding"]
    ]
    ann_index.remove_ids(cat, [x])
    batch = spark.createDataFrame(
        [(x, new_vec)], "vec_id long, embedding array<double>"
    )
    ann_index.extend_ivf_index(cat, batch)

    # shadowed: the re-appended row is invisible on every path
    probe = _rows(
        ann_index.ivf_index_topk(cat, query_vectors=[(9001, new_vec)], k=5)
    )
    assert probe and x not in {r[1] for r in probe}
    assert ann_index.ivf_index_topk(cat, [x], k=5).count() == 0

    # compaction drops BOTH rows of x (the stale build row and the
    # shadowed re-append) and clears the tombstones
    assert ann_index.compact_index(cat) == {
        "dropped": 2, "tombstones_cleared": 1,
    }

    # now a reused id extends and serves like any other vector
    ann_index.extend_ivf_index(cat, batch)
    after = sorted(
        ann_index.ivf_index_topk(
            cat, query_vectors=[(9001, new_vec)], k=3
        ).collect(),
        key=lambda r: r["rank"],
    )
    assert after[0]["neighbor_id"] == x and after[0]["cosine_sim"] == 1.0


# -- persisted IVF-PQ (codes + ADC serving) --------------------------------


def _adc_rows(df):
    return {
        (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
        for r in df.collect()
    }


def test_pq_index_full_probe_equals_pq_topk(spark, built_index):
    """With nprobe == nlist the coarse pruning is a no-op, so ADC serving
    over the PERSISTED codes must equal the recompute pq_topk exactly
    (same first-16 codebook contract, same integer micro-unit sums) —
    on BOTH the driver-list and the bulk DataFrame paths."""
    emb = spark.read.parquet(EMB)
    cat, _ = built_index(pq_m=8)
    want = _adc_rows(similarity.pq_topk(emb, QIDS, k=5, m=8))
    got = _adc_rows(ann_index.ivf_index_pq_topk(cat, QIDS, k=5, nprobe=16))
    assert got == want and got
    q = emb.filter(F.col("vec_id").isin(QIDS))
    got_df = _adc_rows(
        ann_index.ivf_index_pq_topk_df(
            cat, q, k=5, nprobe=16, id_col="vec_id", vec_col="embedding",
            exclude_self=True,
        )
    )
    assert got_df == want


def test_pq_serving_never_reads_the_vector_column(built_index):
    """The ADC candidate scan must project (vid, cid, codes) only —
    parquet column pruning keeps the fat vector column on disk
    (ReadSchema excludes v) — and stay partition-pruned to the probed
    cells. This IS the IVF-PQ I/O contract: ~pq_m bytes per candidate."""
    cat, _ = built_index(pq_m=8)
    out = ann_index.ivf_index_pq_topk(cat, QIDS, k=5, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    cand = [l for l in scans if "codes" in l]
    assert cand, plan
    for line in cand:
        schema = line.split("ReadSchema: ", 1)[1]
        assert "codes" in schema
        assert "v:array" not in schema, line
        assert "PartitionFilters: [cid" in line or "cid IN" in line, line


def test_pq_extend_encodes_with_frozen_codebook(spark, tmp_path):
    """Build on the first half (which holds the vid<16 codebook seeds),
    extend with the second: the extension must encode against the FROZEN
    persisted codebook, so full-probe ADC over the grown index equals
    pq_topk over the full corpus (whose codebook is the same seeds)."""
    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    ann_index.build_ivf_index(cat, first, pq_m=8)
    ann_index.extend_ivf_index(cat, rest)
    assert cat.read("ann_ivf_cells").count() == emb.count()
    got = _adc_rows(ann_index.ivf_index_pq_topk(cat, QIDS, k=5, nprobe=16))
    want = _adc_rows(similarity.pq_topk(emb, QIDS, k=5, m=8))
    assert got == want and got


def test_pq_tombstones_and_compaction_preserve_codes(spark, built_index):
    """The delete lifecycle composes with PQ storage: a removed id
    vanishes from ADC rankings on both paths, compact_index physically
    drops its rows while preserving the codes column, the codebook
    table, and the served values."""
    emb = spark.read.parquet(EMB)
    cat, _ = built_index(pq_m=8)
    base = ann_index.ivf_index_pq_topk(cat, QIDS, k=5).collect()
    victim = int(base[0]["neighbor_id"])
    ann_index.remove_ids(cat, [victim])
    after = ann_index.ivf_index_pq_topk(cat, QIDS, k=5)
    assert victim not in {
        r["neighbor_id"] for r in after.collect()
    }
    after_rows = _adc_rows(after)
    q = emb.filter(F.col("vec_id").isin(QIDS))
    assert victim not in {
        r["neighbor_id"]
        for r in ann_index.ivf_index_pq_topk_df(
            cat, q, k=5, id_col="vec_id", vec_col="embedding",
            exclude_self=True,
        ).collect()
    }
    assert ann_index.compact_index(cat) == {
        "dropped": 1, "tombstones_cleared": 1,
    }
    assert "codes" in cat.read("ann_ivf_cells").columns
    assert cat.exists("ann_ivf_pq_codebook")
    assert _adc_rows(ann_index.ivf_index_pq_topk(cat, QIDS, k=5)) == after_rows


def test_pq_index_requires_codebook(spark, built_index):
    """A flat (no-PQ) index refuses ADC serving with a clear error —
    never a silent wrong answer."""
    import pytest

    emb = spark.read.parquet(EMB)
    cat, _ = built_index()
    with pytest.raises(ValueError, match="no PQ codebook"):
        ann_index.ivf_index_pq_topk(cat, QIDS, k=5)
    with pytest.raises(ValueError, match="no PQ codebook"):
        ann_index.ivf_index_pq_topk_df(
            cat, emb.limit(1), id_col="vec_id", vec_col="embedding"
        )


def test_pq_rerank_recovers_exact_ranking(spark, built_index):
    """Full probe + a shortlist covering the corpus makes the refine
    step EXACT: rerank output == ivf_topk full-probe (exact cosine)
    over the index's own centroids — on the list path AND the bulk
    DataFrame path. Tombstones compose: a removed id stays absent
    from the refined ranking."""
    emb = spark.read.parquet(EMB)
    n = emb.count()
    cat, cents = built_index(pq_m=8)
    want = _rows(
        similarity.ivf_topk(emb, QIDS, k=5, nprobe=16, centroids=cents)
    )
    got = _rows(
        ann_index.ivf_index_pq_topk(cat, QIDS, k=5, nprobe=16, rerank=n)
    )
    assert got == want and got
    q = emb.filter(F.col("vec_id").isin(QIDS))
    got_df = _rows(
        ann_index.ivf_index_pq_topk_df(
            cat, q, k=5, nprobe=16, rerank=n, id_col="vec_id",
            vec_col="embedding", exclude_self=True,
        )
    )
    assert got_df == want

    # the refine scan stays partition-pruned: both FileScans (codes +
    # vectors) carry cid PartitionFilters at default nprobe
    out = ann_index.ivf_index_pq_topk(cat, QIDS, k=5, nprobe=4, rerank=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pruned = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "PartitionFilters: [cid" in l
    ]
    assert len(pruned) >= 2, plan

    victim = int(next(iter(_rows(out)))[1])
    ann_index.remove_ids(cat, [victim])
    refined = ann_index.ivf_index_pq_topk(cat, QIDS, k=5, rerank=20)
    assert victim not in {r["neighbor_id"] for r in refined.collect()}


def test_residual_pq_extend_and_lifecycle(spark, tmp_path):
    """Residual PQ (by_residual): the codebook persists its residual
    flag; extends encode new batches as residuals against the FROZEN
    centroids+codebook (pinned by a driver-side numpy re-encode of the
    extension batch); rerank composes (full probe + corpus shortlist
    recovers the exact IVF ranking); tombstones compose."""
    import numpy as np

    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    cents_df = ann_index.build_ivf_index(
        cat, first, pq_m=8, pq_residual=True
    )
    cb, residual = ann_index._pq_codebook(cat, "ann_ivf")
    assert residual is True and cb.shape == (8, 16, 8)
    ann_index.extend_ivf_index(cat, rest)

    # frozen-codebook contract: stored codes of the extension equal a
    # driver-side re-encode (residual vs the frozen centroids)
    cents = ann_index._cents_dict(cents_df.collect())
    cids = sorted(cents)
    C = np.array([cents[c] for c in cids], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    stored = {
        int(r["vid"]): (int(r["cid"]), list(r["codes"]))
        for r in cat.read("ann_ivf_cells")
        .filter(F.col("vid") >= n // 2)
        .collect()
    }
    sample = rest.orderBy("vec_id").limit(40).collect()
    V = np.array([r["embedding"] for r in sample], dtype=np.float64)
    idx = np.argmax(
        np.round((V / np.linalg.norm(V, axis=1, keepdims=True)) @ Cn.T, 6),
        axis=1,
    )
    codes = ann_index._pq_dists_np(V - C[idx], cb).argmin(axis=2)
    for row, ci, code in zip(sample, idx, codes):
        got_cid, got_codes = stored[int(row["vec_id"])]
        assert got_cid == cids[int(ci)]
        assert got_codes == [int(x) for x in code]

    # rerank over a residual index recovers the exact ranking
    want = _rows(
        similarity.ivf_topk(emb, QIDS, k=5, nprobe=16, centroids=cents_df)
    )
    got = _rows(
        ann_index.ivf_index_pq_topk(
            cat, QIDS, k=5, nprobe=16, rerank=emb.count()
        )
    )
    assert got == want and got

    # tombstones compose with residual ADC
    base = ann_index.ivf_index_pq_topk(cat, QIDS, k=3).collect()
    victim = int(base[0]["neighbor_id"])
    ann_index.remove_ids(cat, [victim])
    assert victim not in {
        r["neighbor_id"]
        for r in ann_index.ivf_index_pq_topk(cat, QIDS, k=3).collect()
    }


def test_streaming_extend_composes_with_pq(spark, tmp_path):
    """The streaming index-maintenance loop over a PQ-coded index
    encodes each landed batch against the FROZEN codebook: after the
    drain, full-probe ADC equals pq_topk over the full corpus."""
    import os

    from gcp_datalake_pipeline_spark.streaming.corpus import (
        run_streaming_index_extend,
    )

    emb = spark.read.parquet(EMB)
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)
    land = str(tmp_path / "landing")
    os.makedirs(land)
    rest.toPandas().to_parquet(os.path.join(land, "b0.parquet"), index=False)

    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    ann_index.build_ivf_index(cat, first, pq_m=8)
    rounds = run_streaming_index_extend(cat, land, str(tmp_path / "ckpt"))
    assert len(rounds) == 1
    assert "codes" in cat.read("ann_ivf_cells").columns
    got = _adc_rows(ann_index.ivf_index_pq_topk(cat, QIDS, k=5, nprobe=16))
    want = _adc_rows(similarity.pq_topk(emb, QIDS, k=5, m=8))
    assert got == want and got


def test_ann_cache_root_sweeps_stale_fingerprints(tmp_path):
    """The registry's machine-cached index roots (r9 verdict #1): a
    regenerated embeddings file supersedes its old fingerprint root,
    which is swept on the next cache miss — while same-family roots for
    OTHER sf dirs, other families' roots for the SAME data, and the new
    root itself all survive. Legacy-format roots of the family are
    swept too."""
    import os
    import shutil
    import tempfile

    from gcp_datalake_pipeline_spark.plans.data_queries import (
        _ann_cached_root,
    )

    sf1 = tmp_path / "sf1"
    sf2 = tmp_path / "sf2"
    for d in (sf1, sf2):
        d.mkdir()
        (d / "embeddings.parquet").write_bytes(b"v1")

    r1 = _ann_cached_root(str(sf1), "ivf")
    os.makedirs(r1)
    other_sf = _ann_cached_root(str(sf2), "ivf")
    os.makedirs(other_sf)
    other_family = _ann_cached_root(str(sf1), "ivf_rm")
    os.makedirs(other_family)
    legacy = os.path.join(
        tempfile.gettempdir(), "spark_graft_ann_ivf_0123456789"
    )
    os.makedirs(legacy, exist_ok=True)

    # regenerate sf1's embeddings (new size => new fingerprint)
    (sf1 / "embeddings.parquet").write_bytes(b"v2-regenerated")
    r2 = _ann_cached_root(str(sf1), "ivf")
    assert r2 != r1
    assert not os.path.isdir(r1), "superseded root must be swept"
    assert not os.path.isdir(legacy), "legacy-format root must be swept"
    assert os.path.isdir(other_sf), "other sf dir's root must survive"
    assert os.path.isdir(other_family), "other family's root must survive"
    os.makedirs(r2)

    # steady state: an existing root is returned untouched, no sweep ran
    assert _ann_cached_root(str(sf1), "ivf") == r2
    assert os.path.isdir(r2) and os.path.isdir(other_sf)
    shutil.rmtree(other_sf, ignore_errors=True)
    shutil.rmtree(other_family, ignore_errors=True)
    shutil.rmtree(r2, ignore_errors=True)


def test_pending_tombstones_and_compact_report(built_index):
    """pending_tombstones counts DISTINCT not-yet-folded vids (a
    duplicated tombstone from a lost race counts once); compact_index
    reports both the reclaimed rows and the cleared tombstones, and the
    pending number returns to zero."""
    cat, _ = built_index()
    assert ann_index.pending_tombstones(cat) == 0  # no-deletes fast path

    ann_index.remove_ids(cat, [3, 57])
    ann_index.remove_ids(cat, [57, 111])  # 57 duplicated across appends
    assert ann_index.pending_tombstones(cat) == 3
    # the stats layer still counts the shadowed vids — exactly the gap
    # pending_tombstones exists to surface
    assert cat.count_rows("ann_ivf_cells") == 500

    out = ann_index.compact_index(cat)
    assert out == {"dropped": 3, "tombstones_cleared": 3}
    assert ann_index.pending_tombstones(cat) == 0
    assert cat.count_rows("ann_ivf_cells") == 497
    # idempotent: a second compaction is a reported no-op
    assert ann_index.compact_index(cat) == {
        "dropped": 0, "tombstones_cleared": 0,
    }


# -- re-centering a drifted index (r12) --------------------------------------


def _drifted_lake(spark, tmp_path, pq=False):
    """Deterministic drift fixture: build on clusters A (40 pts ~e1),
    B (6 pts ~e2), D (20 pts ~e3) with one seed vid per cluster
    (nlist=3), then extend with cluster C (30 pts ~(e1+e2)/sqrt2) whose
    members straddle the frozen A/B boundary 15/15."""
    rows = []
    rows.append((0, [1.0, 0.0, 0.0, 0.0]))          # seed cell 0 (A)
    rows.append((1, [0.0, 1.0, 0.0, 0.0]))          # seed cell 1 (B)
    rows.append((2, [0.0, 0.0, 1.0, 0.0]))          # seed cell 2 (D)
    vid = 3
    for i in range(39):
        rows.append((vid, [1.0, 1e-4 * i, 0.0, 0.0])); vid += 1   # A
    for i in range(5):
        rows.append((vid, [1e-4 * i, 1.0, 0.0, 0.0])); vid += 1   # B
    for i in range(19):
        rows.append((vid, [0.0, 0.0, 1.0, 1e-4 * i])); vid += 1   # D
    base = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    crows = []
    for i in range(30):
        s = 0.01 if i % 2 == 0 else -0.01
        crows.append((100 + i, [0.7071 + s, 0.7071 - s, 0.0, 0.0]))
    drift = spark.createDataFrame(
        crows, "vec_id long, embedding array<double>"
    )
    cat = TransactionalCatalog(spark=spark, root=str(tmp_path / "lake"))
    kw = dict(nlist=3, n_iter=2)
    if pq:
        kw.update(pq_m=4, pq_ksub=3, pq_residual=True)
    ann_index.build_ivf_index(cat, base, **kw)
    ann_index.extend_ivf_index(cat, drift)
    return cat


def _c_recall(cat, k=20):
    """How many of query vid 100's top-k are fellow C members
    (cosine > 0.9) under nprobe=1 — tie-order-independent."""
    out = ann_index.ivf_index_topk(cat, [100], k=k, nprobe=1)
    return sum(1 for r in out.collect() if r["cosine_sim"] > 0.9)


def test_recluster_index_recovers_recall_and_bounds_the_rewrite(
    spark, tmp_path
):
    """After drift, fixed-nprobe recall is degraded (C straddles two
    stale cells); recluster_index re-centers and reassigns ONLY the
    moved cells — recall recovers, the unmoved cell's centroid is
    byte-identical, its cid partition's files are inode-identical
    (hardlink carry), and the probe plan stays partition-pruned."""
    import os

    cat = _drifted_lake(spark, tmp_path)
    before = _c_recall(cat)
    assert before <= 15, f"drift fixture lost its degradation: {before}"
    d2_before = None
    for d in cat._data_dirs("ann_ivf_cells"):
        p = os.path.join(d, "cid=2")
        if os.path.isdir(p):
            d2_before = sorted(
                os.stat(os.path.join(p, f)).st_ino
                for f in os.listdir(p) if f.endswith(".parquet")
            )
    c2_before = {
        r["cid"]: r["cv"]
        for r in cat.read("ann_ivf_centroids").collect()
    }[2]

    out = ann_index.recluster_index(cat, n_iter=2, move_threshold=0.05)
    assert 2 not in out["moved_cells"] and out["moved_cells"]
    assert out["reassigned"] > 0

    after = _c_recall(cat)
    assert after == 20, f"recall did not recover: {after}"
    # all of C now serves from ONE cell
    cids = {
        r["cid"]
        for r in cat.read("ann_ivf_cells")
        .where(F.col("vid") >= 100)
        .select("cid")
        .distinct()
        .collect()
    }
    assert len(cids) == 1
    # unmoved cell: centroid byte-identical, partition carried by inode
    c2_after = {
        r["cid"]: r["cv"]
        for r in cat.read("ann_ivf_centroids").collect()
    }[2]
    assert c2_after == c2_before
    d2_after = None
    for d in cat._data_dirs("ann_ivf_cells"):
        p = os.path.join(d, "cid=2")
        if os.path.isdir(p):
            d2_after = sorted(
                os.stat(os.path.join(p, f)).st_ino
                for f in os.listdir(p) if f.endswith(".parquet")
            )
    assert d2_before and d2_after == d2_before
    # the probe contract survives re-centering
    plan = (
        ann_index.ivf_index_topk(cat, [100], k=5, nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    assert re.search(r"PartitionFilters: \[[^]]*cid#", plan), plan
    # D members still serve from their untouched cell
    outd = ann_index.ivf_index_topk(cat, [2], k=3, nprobe=1)
    assert all(r["cosine_sim"] > 0.9 for r in outd.collect())


def test_recluster_index_is_tombstone_aware_and_noop_without_drift(
    spark, tmp_path
):
    cat = _drifted_lake(spark, tmp_path)
    ann_index.remove_ids(cat, [101], index_table="ann_ivf")
    out = ann_index.recluster_index(cat, n_iter=2, move_threshold=0.05)
    assert out["reassigned"] > 0
    # the tombstoned vid's moved-cell row was not re-added
    assert (
        cat.read("ann_ivf_cells").where(F.col("vid") == 101).count() == 0
    )
    # and it still never appears in results
    got = {
        r["neighbor_id"]
        for r in ann_index.ivf_index_topk(cat, [100], k=20, nprobe=1)
        .collect()
    }
    assert 101 not in got and got
    # a second re-centering finds nothing left to move
    again = ann_index.recluster_index(cat, n_iter=2, move_threshold=0.05)
    assert again["moved_cells"] == [] and again["reassigned"] == 0
    assert again["max_move"] <= 0.05


def test_recluster_pq_residual_index_reencodes_moved_cells(
    spark, tmp_path
):
    """On a PQ-residual index the codes are relative to the encoding
    centroid: moved cells' vectors re-encode against their NEW cell
    (ADC serving stays consistent), unmoved cells keep their codes."""
    cat = _drifted_lake(spark, tmp_path, pq=True)
    codes2_before = sorted(
        (r["vid"], tuple(r["codes"]))
        for r in cat.read("ann_ivf_cells")
        .where(F.col("cid") == 2)
        .select("vid", "codes")
        .collect()
    )
    out = ann_index.recluster_index(cat, n_iter=2, move_threshold=0.05)
    assert out["reassigned"] > 0
    codes2_after = sorted(
        (r["vid"], tuple(r["codes"]))
        for r in cat.read("ann_ivf_cells")
        .where(F.col("cid") == 2)
        .select("vid", "codes")
        .collect()
    )
    assert codes2_after == codes2_before
    # ADC serving still answers over the re-centered index
    adc = ann_index.ivf_index_pq_topk(cat, [100], k=5, nprobe=1)
    assert adc.count() == 5
