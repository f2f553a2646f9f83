from __future__ import annotations

import os
import shutil
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)

from dynamic_partitioner_spark import get_spark  # noqa: E402

SCRATCH = os.path.join(REPO, ".scratch/tests")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmp_out(request):
    path = f"{SCRATCH}/{request.node.name}"
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def purchase_df(spark):
    """F1 `purchase` fixture (FIXTURES.md): 6 rows, 3 distinct dates —
    reference golden layout: exactly 3 partitions (3/1/2 rows)."""
    rows = [(1, "Douglas", "2009-01-02"), (2, "David", "2009-01-01"),
            (3, "Hugh", "2009-01-01"), (4, "Walter", "2009-01-03"),
            (5, "Frank", "2009-01-03"), (6, "Serena", "2009-01-01")]
    return spark.createDataFrame(
        rows, "id long, first_name string, purchase_date string")


@pytest.fixture(scope="session")
def sales_df(spark):
    """F2 `sales` fixture: product/buyer/price — config validation cases."""
    rows = [("widget", "alice", 1024.0), ("gadget", "bob", 3.5),
            ("widget", "carol", 1024.0)]
    return spark.createDataFrame(rows, "product string, buyer string, price double")
