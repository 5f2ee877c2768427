import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The reference implementation's test corpus (its tests/test_cases
# directory): a checkout named 'reference' next to this repository unless
# XMLSCHEMA_TEST_CASES names another location.  Tests over the corpus fail
# when it is absent; they are never skipped.
REFERENCE_CASES = os.environ.get(
    "XMLSCHEMA_TEST_CASES",
    os.path.join(os.path.dirname(ROOT), "reference", "tests", "test_cases"),
)

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("xmlschema-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
