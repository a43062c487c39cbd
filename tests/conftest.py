import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ehdc_llpg_address_matching_spark.session import get_spark
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def ivf_route(spark, monkeypatch):
    """Send cand_vector down its IVF route and make that route exact:
    broadcast off (autoBroadcastJoinThreshold -1, restored afterwards)
    and every cell probed. Yields the list each ann.ivf_topk call
    appends to. Request it with request.getfixturevalue to switch the
    route mid-test, after a broadcast baseline."""
    from ehdc_llpg_address_matching_spark.operators import ann
    from ehdc_llpg_address_matching_spark.operators import candidates as C
    calls, ivf_topk = [], ann.ivf_topk

    def counted(*a, **k):
        calls.append(1)
        return ivf_topk(*a, **k)

    monkeypatch.setattr(ann, "ivf_topk", counted)
    monkeypatch.setattr(C, "IVF_PROBE", C.IVF_CELLS)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield calls
    spark.conf.set(key, old)
