"""Physical-plan contracts: the plan shapes the 100 TB stance depends on
must survive refactors. These assert on executedPlan strings — cheap, no
data materialized (explain only)."""

import os

import pytest

from gcp_datalake_pipeline_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume"],
)
def test_filters_reach_parquet_scan(spark, name):
    """Predicates must push into the scan (PushedFilters non-empty)."""
    plan = _plan(spark, name)
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan.replace("PushedFilters: [],", "X")


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_local_supplier_volume", "q10_top_returning_customers"]
)
def test_dim_joins_broadcast(spark, name):
    """Dimension joins must be broadcast, never shuffle both sides."""
    assert "BroadcastHashJoin" in _plan(spark, name)


def test_topk_prunes_before_exchange(spark):
    """Per-group top-k must use partial WindowGroupLimit (only k rows per
    partition reach the shuffle)."""
    plan = _plan(spark, "ann_topk")
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_q1_scan_prunes_columns(spark):
    """The q1 scan must read only referenced lineitem columns (ReadSchema
    pruned), not the full 16-column row."""
    plan = _plan(spark, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_no_accidental_cartesian_products(spark):
    """Only deliberate broadcast nested loops (tiny query/centroid sides in
    the ANN family, scalar-count crossJoins) may appear; a plain
    CartesianProduct anywhere is a regression.

    Plan-building all 165 registry queries is driver-side work that
    mostly waits on py4j — a thread pool overlaps it (the builders use
    per-query scratch roots, so concurrent building is safe); this was
    the single slowest test in the suite (150s serial)."""
    from concurrent.futures import ThreadPoolExecutor

    def check(name):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(check, list(QUERIES)))


def test_surrogate_assignment_not_single_partition(spark):
    plan = _plan(spark, "etl_dim_surrogate_assignment")
    assert "SinglePartition" not in plan


def test_gapfill_is_single_exchange_no_global_spine(spark):
    """gapfill: ONE hash exchange on the key, total — the lead() spine and
    the LOCF window share the same partitioning; never a global sequence
    (SinglePartition) and never a spine⋈df join."""
    import datetime

    from gcp_datalake_pipeline_spark.operators.temporal import gapfill

    df = spark.createDataFrame(
        [
            ("a", datetime.datetime(2024, 1, 1), 1.0, 2.0),
            ("a", datetime.datetime(2024, 1, 4), 2.0, 3.0),
        ],
        "k string, day timestamp, v double, l double",
    )
    out = gapfill(df, "k", "day", "1 day", ["v"], locf_cols=["l"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan


def test_scd2_apply_is_one_join_no_python(spark):
    """scd2_apply: exactly one join (the full-outer on the business key)
    per batch, no per-row Python path, no single-partition funnel."""
    import datetime
    import re

    from gcp_datalake_pipeline_spark.operators.scd import scd2_apply

    cur = spark.createDataFrame(
        [("k1", "a", datetime.datetime(2024, 1, 1), None, True)],
        "k string, v string, valid_from timestamp, valid_to timestamp,"
        " is_current boolean",
    )
    upd = spark.createDataFrame([("k1", "b")], "k string, v string")
    h = scd2_apply(cur, upd, ["k"], ["v"], datetime.datetime(2024, 2, 1))
    plan = h._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct",
        plan,
    )
    assert len(joins) == 1, joins
    assert "FullOuter" in plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


@pytest.mark.parametrize("name", ["ann_ivf_topk", "ann_ivf_kmeans_topk"])
def test_ivf_assignment_never_shuffles_corpus_joins(spark, name):
    """IVF cell assignment is a fold over the broadcast packed-centroid
    list: every join in the plan must be broadcast-side (the old
    crossJoin + vid-window formulation shuffled corpus x nlist rows,
    each carrying the full vector, per Lloyd step)."""
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the only SinglePartition exchanges are the nlist-row centroid packs
    assert "WindowGroupLimit" in plan or "Window" in plan  # final top-k only


def test_chunking_has_no_aggregation_exchange(spark):
    """doc_chunking is pure row-local work (split/arithmetic/explode/
    slice): no hash-partitioning exchange may appear — at 100 TB it must
    run entirely in the scan stage. (The tiny-local-input spread is a
    round-robin exchange and only fires below the session's parallelism.)"""
    plan = _plan(spark, "doc_chunking")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_per_source_cap_windows_stay_partitioned(spark):
    """Both window phases of the salted domain cap partition on their
    keys — never a SinglePartition exchange (the skew-safety claim)."""
    plan = _plan(spark, "per_source_cap")
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Window") >= 2  # salted phase + exact phase


def test_minhash_verifier_semi_joins_candidates(spark):
    """The exact-Jaccard verification of LSH candidates must semi-join
    the corpus shingle set down to pair members (candidate-proportional
    verification, never corpus-scale joins against a small pair list).
    The member-shingle set is then materialized ONCE, so the final plan's
    three consumers (sizes + both intersection arms) read the checkpoint
    instead of re-running the shingle explode over the corpus: the final
    plan must contain NO corpus FileScan and no re-derived semi-join —
    all text I/O happened exactly once, in the materialization step."""
    from gcp_datalake_pipeline_spark.operators.dedup import (
        _member_shingles,
        doc_shingles,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    pre = _member_shingles(doc_shingles(docs), pairs)
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in pre_plan  # the candidate-proportional semi-join

    plan = _plan(spark, "dedup_minhash_lsh")
    assert "ExistingRDD" in plan  # verification reads the materialization
    assert "FileScan" not in plan  # ...and never the corpus again


def test_embedding_lsh_verification_broadcasts_candidates(spark):
    """The checkpointed candidate list's true (small) size must drive
    broadcast joins in verification — zero SortMergeJoins in the whole
    plan means the corpus is never shuffled to verify candidates."""
    plan = _plan(spark, "embedding_near_dup_lsh")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q21_single_orderkey_exchange(spark):
    """The window formulation must keep all three per-order statistics on
    ONE l_orderkey exchange (plus the (orderkey,suppkey) pre-agg and the
    tiny s_name final agg) — never the agg+self-join's extra reshuffle."""
    plan = _plan(spark, "q21_sole_latest_shipper")
    assert plan.count("Exchange hashpartitioning") <= 3


def test_scratch_catalog_queries_reuse_and_register_cleanup(spark):
    """VERDICT r8 #3: the self-materializing registry queries
    (etl_pruned_scan, etl_merge_upsert_atomic) must not leak one
    tempdir per invocation across bench/verify sweeps — repeated runs
    reuse ONE per-process scratch dir (warm reruns skip
    re-materialization) and the dir is registered for atexit removal."""
    import os

    from gcp_datalake_pipeline_spark.plans import etl_queries

    for name, prefix in (
        ("etl_pruned_scan", "etl_pruned_scan_"),
        ("etl_merge_upsert_atomic", "etl_merge_atomic_"),
    ):
        first = QUERIES[name].fn(spark, SF_DIR).collect()
        keys = [k for k in etl_queries._SCRATCH if k.startswith(prefix)]
        assert len(keys) == 1, etl_queries._SCRATCH
        root = etl_queries._SCRATCH[keys[0]]
        mtime = os.path.getmtime(os.path.join(root, "_MANIFEST.json"))
        again = QUERIES[name].fn(spark, SF_DIR).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, first))
        # same dir, and the warm rerun committed nothing new
        assert etl_queries._SCRATCH[keys[0]] == root
        assert os.path.getmtime(
            os.path.join(root, "_MANIFEST.json")
        ) == mtime


def test_scratch_root_is_cached_and_removed_at_exit(monkeypatch, tmp_path):
    """The _scratch_root mechanism itself: one mkdtemp + one atexit
    registration per key per process; invoking the registered callback
    removes the dir."""
    import os

    from gcp_datalake_pipeline_spark.plans import etl_queries

    registered = []
    monkeypatch.setattr(
        "atexit.register",
        lambda fn, *a, **kw: registered.append((fn, a, kw)),
    )
    monkeypatch.setattr(etl_queries, "_SCRATCH", {})
    d1 = etl_queries._scratch_root("scratch_test_key")
    d2 = etl_queries._scratch_root("scratch_test_key")
    assert d1 == d2 and os.path.isdir(d1)
    assert len(registered) == 1
    fn, a, kw = registered[0]
    fn(*a, **kw)
    assert not os.path.exists(d1)


@pytest.mark.parametrize("name", ["doc_text_stats", "doc_lang_id"])
def test_text_stats_langid_zero_shuffle(spark, name):
    """r13 optimization pin: per-document text stats and stopword-vote
    language ID are NARROW per-row folds — no aggregation shuffle, no
    window, no join survives in the plan. (ensure_scan_parallelism may
    add one round-robin exchange on tiny local inputs; no
    hash/range-partitioned exchange is allowed.)"""
    plan = _plan(spark, name)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


# --------------------------------------------------------------------------
# Build layer: load_table resolves each file's schema once per file
# version, so a warm query build starts no Spark job.
# --------------------------------------------------------------------------

TABLES = sorted(
    f.removesuffix(".parquet") for f in os.listdir(SF_DIR) if f.endswith(".parquet")
)
TPCH_HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority",
    "q4_priority_with_late_items", "q5_local_supplier_volume",
    "q10_top_returning_customers", "q14_red_part_revenue_share",
    "q18_large_volume_customers", "q19_disjunctive_revenue",
]


def _jobs_started(spark, fn):
    """(fn's result, Spark jobs fn started), by job-id delta."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - j0


def test_load_table_second_read_starts_no_job(spark):
    from gcp_datalake_pipeline_spark.plans.queries import load_table

    first = load_table(spark, SF_DIR, "lineitem")
    again, jobs = _jobs_started(
        spark, lambda: load_table(spark, SF_DIR, "lineitem")
    )
    assert jobs == 0
    assert again.schema == first.schema


def test_load_table_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with other columns is a new file
    version: its new schema is returned, never the memoised one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_datalake_pipeline_spark.plans.queries import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_load_table_memoised_dtypes_match_fresh_inference(spark, monkeypatch):
    from gcp_datalake_pipeline_spark.plans import queries

    memoised = {}
    for name in TABLES:
        queries.load_table(spark, SF_DIR, name)
        df, jobs = _jobs_started(
            spark, lambda: queries.load_table(spark, SF_DIR, name)
        )
        assert jobs == 0, name
        memoised[name] = df.dtypes
    monkeypatch.setattr(queries, "_SCHEMAS", {})
    for name in TABLES:
        fresh, jobs = _jobs_started(
            spark, lambda: queries.load_table(spark, SF_DIR, name)
        )
        assert jobs >= 1, name  # really inferred again
        assert fresh.dtypes == memoised[name], name


def test_load_table_timestamp_nanos_vintage(spark, tmp_path):
    """events.parquet written as TIMESTAMP(NANOS): the memoised second read
    keeps the exact nanosecond ``ts_ns`` and the same types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_datalake_pipeline_spark.plans.queries import load_table

    nanos = [1_700_000_000_123_456_789, 1_700_000_060_000_000_001]
    pq.write_table(
        pa.table({
            "user_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }),
        str(tmp_path / "events.parquet"),
    )
    assert (
        pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type
        == pa.timestamp("ns")
    )

    def ts_ns(df):
        return [r.ts_ns for r in df.orderBy("user_id").collect()]

    first = load_table(spark, str(tmp_path), "events")
    again, jobs = _jobs_started(
        spark, lambda: load_table(spark, str(tmp_path), "events")
    )
    assert jobs == 0
    assert again.dtypes == first.dtypes
    assert dict(first.dtypes)["ts"] == "timestamp"
    assert dict(first.dtypes)["ts_ns"] == "bigint"
    assert ts_ns(again) == ts_ns(first) == nanos


@pytest.mark.parametrize("name", TPCH_HEADLINE)
def test_warm_tpch_build_starts_no_job(spark, name):
    """The build layer of a warm TPC-H headline query is Spark-job free:
    its only eager work was parquet schema inference."""
    QUERIES[name].fn(spark, SF_DIR)
    _, jobs = _jobs_started(spark, lambda: QUERIES[name].fn(spark, SF_DIR))
    assert jobs == 0
