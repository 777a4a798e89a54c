from __future__ import annotations

import pytest

from logstash_filter_geoip_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def lpm_key_udf(spark):
    """The enrich index-leg key UDF over an EMPTY dim: its (ip_hi, ip_lo) are
    the parsed v6 key as that leg sees it, its dim_idx always null."""
    import numpy as np

    from logstash_filter_geoip_spark.functions.ipkeys import ipv6_key_lpm_udf
    empty = {k: np.array([], np.int64)
             for k in ("start_hi", "start_lo", "end_hi", "end_lo")}
    return ipv6_key_lpm_udf(spark.sparkContext.broadcast(empty))
