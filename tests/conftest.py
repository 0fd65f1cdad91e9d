from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark import (
        get_spark,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        prune_stale_warehouse,
    )

    # Startup hygiene: a SIGKILLed predecessor's token-suffixed warehouse
    # dirs otherwise survive the whole session (the atexit cleanup never
    # ran for it, and the in-write age-prune only fires per table family).
    prune_stale_warehouse()
    # Small local session for tests: fewer cores/partitions than the bench
    # config so the suite stays fast on tiny data.
    spark = get_spark(
        app_name="fabric-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark
