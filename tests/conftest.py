import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dexspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dexspark-tests",
        master=os.environ.get("DEXSPARK_TEST_MASTER", "local[4]"),
        shuffle_partitions=4,
        extra_conf={"spark.sql.sources.partitionOverwriteMode": "dynamic"},
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_warehouse(tmp_path):
    return str(tmp_path)


@pytest.fixture()
def footer_schemas_ok(spark):
    """Check that every data file a LakeTable has written reads, under
    its footer-derived schema, exactly as Spark's schema inference
    would read it."""
    from dexspark.lake import _footer_schema

    def check(table):
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(table.root, "data"))
            for f in fs
            if f.endswith(".parquet")
        ]
        assert files
        for f in files:
            assert _footer_schema(f) == spark.read.parquet(f).schema, f

    return check
