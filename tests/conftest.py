import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ontology_loader_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ontology-loader-spark-tests", master="local[4]",
                  extra_confs={"spark.sql.shuffle.partitions": "8",
                               "spark.ui.enabled": "false"})
    yield s
    s.stop()


@pytest.fixture
def job_count(spark):
    """``job_count(fn)``: call ``fn`` and return the Spark jobs it started."""
    sc = spark.sparkContext

    def count(fn):
        group = f"job-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def check_store_read(spark, job_count):
    """``check_store_read(store, table)``: the store's read of ``table``
    starts no Spark job and returns the schema Spark infers from the
    same version directory, nullability included."""

    def check(store, table):
        vdir = store.root / table / f"v_{store.current_version(table)}"
        assert job_count(lambda: store.read(spark, table)) == 0
        assert store.read(spark, table).schema == spark.read.parquet(str(vdir)).schema

    return check
