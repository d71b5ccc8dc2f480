import copy
import shutil
import tempfile

import pytest

from gcp_datalake_pipeline_spark.session import get_spark
from gcp_datalake_pipeline_spark.storage import Catalog

FIXTURES = "tests/fixtures"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def catalog(spark):
    root = tempfile.mkdtemp(prefix="engine_catalog_")
    yield Catalog(spark, root)
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def _fixture_batch(spark):
    """One ingest of the fixture CSVs into an empty plain catalog, run
    once per session: it is ~240 Spark jobs, and the tests that start
    from it take a copy (``ingested``)."""
    from gcp_datalake_pipeline_spark.pipelines.runner import ingest

    root = tempfile.mkdtemp(prefix="engine_batch_")
    results = ingest(Catalog(spark, root), f"{FIXTURES}/*.csv")
    yield root, results
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def ingested(spark, _fixture_batch, tmp_path):
    """``(catalog, results)``: a fresh plain catalog in the state
    ``ingest(catalog, "tests/fixtures/*.csv")`` leaves an empty one in,
    and that ingest's per-file counters. The catalog is a copy of the
    session's shared batch; a plain catalog holds only paths relative to
    its root, so the copy is the same catalog."""
    root, results = _fixture_batch
    lake = str(tmp_path / "lake")
    shutil.copytree(root, lake)
    return Catalog(spark, lake), copy.deepcopy(results)
