"""Golden end-to-end fixture tests for the three ETL pipelines
(SURVEY.md §5.2-5.3 + FIXTURES.md §4)."""

import datetime

from pyspark.sql import functions as F

from gcp_datalake_pipeline_spark.pipelines.conductor import process_conductores
from gcp_datalake_pipeline_spark.pipelines.empresa import (
    empresa_with_type,
    process_empresas,
)
from gcp_datalake_pipeline_spark.pipelines.runner import ingest
from gcp_datalake_pipeline_spark.pipelines.vehiculo import process_vehiculos
from gcp_datalake_pipeline_spark.sources.router import plan_batch, route

EMPRESAS = "tests/fixtures/empresas_20251001.csv"
CONDUCTORES = "tests/fixtures/conductores_20251001.csv"
VEHICULOS = "tests/fixtures/vehiculos_20251001.csv"


def test_router():
    assert route("landing/empresas_20251001.csv") == "empresa"
    assert route("CONDUCTORES_x.CSV") == "conductor"
    assert route("empresa_conductor.csv") == "empresa"  # first match wins
    assert route("vehiculos.txt") is None
    assert route("otros.csv") is None
    steps = plan_batch(["c_conductor.csv", "v_vehiculo.csv", "e_empresa.csv"])
    assert [s[0] for s in steps] == ["empresa", "vehiculo", "conductor"]


def test_empresa_pipeline(catalog):
    counters = process_empresas(catalog, EMPRESAS)
    assert counters == {"rowCount": 6, "processedCount": 4, "errorCount": 2}

    empresa = catalog.read("empresa")
    assert empresa.count() == 3  # last-wins upsert collapses dup carrier_bp
    rows = {r["carrier_bp"]: r for r in empresa.collect()}
    assert rows["1111111"]["carrier_name"] == "EMPRESA UNO RENOMBRADA"
    assert rows["2222222"]["carrier_rut"] == "22222222-2"  # dots stripped
    assert rows["5555555"]["carrier_rut"] == "11111112-K"

    tipo = {r["carrier_type"] for r in catalog.read("tipo_empresa").collect()}
    assert tipo == {"TIPO 1", "TIPO 2"}  # '  TIPO   1 ' normalized

    q = {r["carrier_bp"]: r["error_reason"]
         for r in catalog.read("quarantine_empresa").collect()}
    assert q == {"3333333": "invalid_rut", "4444444": "missing_carrier_name"}

    flagship = empresa_with_type(catalog)
    assert flagship.count() == 3

    # Idempotency: re-run — same entity counts, ids stable.
    ids_before = {r["carrier_bp"]: r["carrier_id"] for r in empresa.collect()}
    process_empresas(catalog, EMPRESAS)
    empresa2 = catalog.read("empresa")
    assert empresa2.count() == 3
    ids_after = {r["carrier_bp"]: r["carrier_id"] for r in empresa2.collect()}
    assert ids_before == ids_after

    # SCD2 history maintained alongside the current-state dim: first run
    # opened one version per carrier; the unchanged re-run was a no-op
    # (no rows closed, no new versions).
    hist = catalog.read("empresa_history")
    assert hist.count() == 3
    assert all(r["is_current"] and r["valid_to"] is None for r in hist.collect())


def test_empresa_history_version_chain(catalog, spark, tmp_path):
    """A changed carrier_name across two loads produces a closed + open
    version pair in empresa_history (VERDICT r03 item 2)."""
    import shutil

    src = "tests/fixtures/empresas_20251001.csv"
    renamed = tmp_path / "empresas_20251002.csv"
    shutil.copyfile(src, renamed)
    text = renamed.read_text(encoding="utf-8-sig")
    renamed.write_text(
        text.replace("EMPRESA UNO RENOMBRADA", "EMPRESA UNO V3"), encoding="utf-8"
    )

    process_empresas(catalog, src)
    process_empresas(catalog, str(renamed))

    hist = catalog.read("empresa_history")
    chain = sorted(
        hist.filter(hist.carrier_bp == "1111111").collect(),
        key=lambda r: r["valid_from"],
    )
    assert [r["carrier_name"] for r in chain] == [
        "EMPRESA UNO RENOMBRADA",
        "EMPRESA UNO V3",
    ]
    assert [r["is_current"] for r in chain] == [False, True]
    assert chain[0]["valid_to"] == chain[1]["valid_from"]
    # untouched carriers keep a single open version
    others = hist.filter(hist.carrier_bp != "1111111")
    assert others.count() == 2
    assert all(r["is_current"] for r in others.collect())


def test_full_batch(ingested):
    catalog, results = ingested
    by_proc = {v["processor"]: v for v in results.values()}
    assert by_proc["empresa"]["errorCount"] == 2
    assert by_proc["vehiculo"] == {
        "processor": "vehiculo", "rowCount": 5, "processedCount": 3, "errorCount": 2,
    }
    assert by_proc["conductor"] == {
        "processor": "conductor", "rowCount": 7, "processedCount": 4, "errorCount": 3,
    }

    # --- vehiculo entity typing/nulls ---
    v = {r["registration_plate"]: r for r in catalog.read("vehiculo").collect()}
    assert set(v) == {"AAAA11", "BBBB22", "DDDD44"}
    assert v["AAAA11"]["year_of_manufacture"] == 2020
    assert v["AAAA11"]["peso"] == 12000.5
    assert v["AAAA11"]["gps"] is True
    assert v["AAAA11"]["instalacion_cortina"] == datetime.date(2021, 1, 15)
    assert v["BBBB22"]["year_of_manufacture"] is None  # 0 -> NULL collapse
    assert v["BBBB22"]["gps"] is False
    assert v["DDDD44"]["peso"] == 950.5  # '950.5kg' leading-float parse
    assert v["DDDD44"]["odometer_km"] is None  # 'abc' -> NULL
    assert v["DDDD44"]["gps"] is True  # 'verdadero'

    # composite-key modelo: MODEL 1 exists under two brands
    modelo = catalog.read("vehiculo_modelo")
    assert modelo.filter(F.col("vehicle_model") == "MODEL 1").count() == 2
    assert catalog.read("vehiculo_marca").count() == 3

    # children
    assert catalog.read("revision_tecnica").count() == 3  # unconditional/row
    rt = {r["vehicle_id"]: r for r in catalog.read("revision_tecnica").collect()}
    aaaa = v["AAAA11"]["vehicle_id"]
    assert rt[aaaa]["emissions_crt_status"] is True
    assert rt[aaaa]["identification_status"] is False  # Rechazada
    assert rt[aaaa]["visual_status"] is False  # No Aplica
    assert catalog.read("permiso_circulacion").count() == 1
    soap = catalog.read("soap").collect()[0]
    assert soap["numero_poliza"] == 123456789
    cav = catalog.read("certificado_anotaciones_vigentes").collect()[0]
    assert cav["propietario_rut"] == "11111111-1"
    assert cav["propietario_fecha_adquisicion"] == datetime.date(2020, 1, 10)
    assert cav["fecha_emision"] == datetime.date(2025, 2, 15)

    vq = {r["registration_plate"]: r["error_reason"]
          for r in catalog.read("quarantine_vehiculo").collect()}
    assert vq == {None: "missing_registration_plate", "CCCC33": "unknown_carrier_bp"}

    # --- conductor ---
    c = {r["conductor_rut"]: r for r in catalog.read("conductor").collect()}
    assert set(c) == {"12345678-5", "11111111-1", "11111112-K", "22222222-2"}
    assert c["12345678-5"]["birth_date"] == datetime.date(1978, 11, 9)
    assert c["11111111-1"]["birth_date"] == datetime.date(1980, 11, 9)  # D-M-Y
    assert c["11111112-K"]["birth_date"] == datetime.date(1990, 5, 1)  # D/M/Y

    cq = sorted(r["error_reason"] for r in catalog.read("quarantine_conductor").collect())
    assert cq == ["invalid_rut", "malformed_hoja_de_vida_data", "unknown_carrier_bp"]

    # hoja_vida only for the row with certificado
    hv = catalog.read("hoja_vida").collect()
    assert len(hv) == 1 and hv[0]["folio"] == "F-001"
    assert hv[0]["fecha_emision"] == datetime.date(2025, 6, 24)  # time dropped

    # H6: two arrays union
    restr = {(r["restriccion"], r["fecha_anotacion"])
             for r in catalog.read("hoja_vida_restriccion").collect()}
    assert restr == {
        ("LENTES", datetime.date(2020, 2, 1)),
        ("6 MESES", datetime.date(2021, 3, 2)),
    }
    infr = catalog.read("hoja_vida_infraccion").collect()
    assert len(infr) == 1 and infr[0]["proceso"] == "P-9"
    assert infr[0]["fecha_denuncia"] == datetime.date(2019, 4, 5)

    # H8: licencia requires BOTH payloads -> only JUAN's row
    lic = catalog.read("licencia").collect()
    assert len(lic) == 1 and lic[0]["codigo"] == "COD-77"
    assert lic[0]["fecha_de_control"] == datetime.date(2027, 10, 10)

    # H9: clase bridge
    clases = {r["clase"] for r in catalog.read("clase_licencia").collect()}
    assert clases == {"A2", "B"}
    assert catalog.read("licencia_clase").count() == 2

    assert catalog.read("ingestion_manifest").count() == 3


def test_rerun_historization_and_frozen_carrier(ingested):
    """Re-run grows history tables but not entities; vehiculo carrier_id is
    frozen on update (U3, `services/vehiculo.ts:209`)."""
    catalog, _ = ingested  # first run
    v1 = {r["registration_plate"]: r for r in catalog.read("vehiculo").collect()}
    rt1 = catalog.read("revision_tecnica").count()
    hv1 = catalog.read("hoja_vida").count()

    # Second run: history doubles, entities stay put.
    ingest(catalog, "tests/fixtures/*.csv")
    assert catalog.read("vehiculo").count() == 3
    assert catalog.read("revision_tecnica").count() == rt1 * 2
    assert catalog.read("hoja_vida").count() == hv1 * 2
    assert catalog.read("licencia").count() == 2
    assert catalog.read("licencia_clase").count() == 4
    # dims did not grow
    assert catalog.read("vehiculo_modelo").count() == 3
    assert catalog.read("clase_licencia").count() == 2

    v2 = {r["registration_plate"]: r for r in catalog.read("vehiculo").collect()}
    for plate in v1:
        assert v1[plate]["vehicle_id"] == v2[plate]["vehicle_id"]
        assert v1[plate]["carrier_id"] == v2[plate]["carrier_id"]
        # date_updated bumped on matched rows
        assert v2[plate]["date_updated"] >= v1[plate]["date_updated"]
        assert v2[plate]["date_created"] == v1[plate]["date_created"]


def test_conductor_before_empresa_all_rejected(catalog):
    """Ordering/FK test (SURVEY.md §5.3): conductores with no empresa table
    loaded -> every row quarantined with unknown_carrier_bp (or earlier rule)."""
    counters = process_conductores(catalog, CONDUCTORES)
    assert counters["processedCount"] == 0
    assert counters["errorCount"] == 7
    assert not catalog.exists("conductor") or catalog.read("conductor").count() == 0
