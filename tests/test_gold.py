"""Gold current-state views + idempotent ingest mode."""

from gcp_datalake_pipeline_spark.pipelines.gold import (
    latest_revision_tecnica,
    vehicle_current_state,
)
from gcp_datalake_pipeline_spark.pipelines.runner import ingest

FIXTURES = "tests/fixtures/*.csv"


def test_latest_revision_after_rerun(ingested):
    catalog, _ = ingested  # first run
    ingest(catalog, FIXTURES)  # history doubles
    assert catalog.read("revision_tecnica").count() == 6
    latest = latest_revision_tecnica(catalog)
    # exactly one current row per vehicle, the latest insertion
    assert latest.count() == 3
    per_vehicle = {r["vehicle_id"]: r["revision_id"] for r in latest.collect()}
    max_ids = {
        r["vehicle_id"]: r["mx"]
        for r in catalog.read("revision_tecnica")
        .groupBy("vehicle_id")
        .agg({"revision_id": "max"})
        .withColumnRenamed("max(revision_id)", "mx")
        .collect()
    }
    assert per_vehicle == max_ids


def test_vehicle_current_state(ingested):
    catalog, _ = ingested
    state = {r["registration_plate"]: r for r in vehicle_current_state(catalog).collect()}
    assert set(state) == {"AAAA11", "BBBB22", "DDDD44"}
    assert state["AAAA11"]["carrier_name"] == "EMPRESA UNO RENOMBRADA"
    assert state["AAAA11"]["soap_expires"] is not None
    assert state["BBBB22"]["soap_expires"] is None


def test_idempotent_ingest_skips_processed(catalog):
    r1 = ingest(catalog, FIXTURES, idempotent=True)
    assert all("skipped" not in v for v in r1.values())
    n_hist = catalog.read("revision_tecnica").count()

    r2 = ingest(catalog, FIXTURES, idempotent=True)
    assert all(v.get("skipped") for v in r2.values())
    assert catalog.read("revision_tecnica").count() == n_hist  # no replay dup

    # default mode still replays (reference parity)
    ingest(catalog, FIXTURES)
    assert catalog.read("revision_tecnica").count() == n_hist * 2


def test_compact_table(ingested):
    import glob as g

    catalog, _ = ingested  # first run
    ingest(catalog, FIXTURES)
    from gcp_datalake_pipeline_spark.storage import compact_table

    before = catalog.read("revision_tecnica").count()
    n_files_before = len(g.glob(catalog.path("revision_tecnica") + "/**/*.parquet", recursive=True))
    compact_table(catalog, "revision_tecnica", target_files=1,
                  partition_cols=["load_date"])
    assert catalog.read("revision_tecnica").count() == before
    n_files_after = len(g.glob(catalog.path("revision_tecnica") + "/**/*.parquet", recursive=True))
    assert n_files_after <= n_files_before
