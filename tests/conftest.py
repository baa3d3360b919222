from __future__ import annotations

import pytest

from cfht2caom2_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def pinned_rdds(spark):
    """A callable returning the ids of the RDDs that hold blocks in
    executor storage (checkpointed or cached)."""
    jsc = spark.sparkContext._jsc.sc()
    return lambda: {r.id() for r in jsc.getRDDStorageInfo()}
