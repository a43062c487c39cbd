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
def broadcast_off(spark):
    """autoBroadcastJoinThreshold -1, restored afterwards: the size
    routes (cand_vector, stream_static_candidates) take their unbounded
    route. Request it with request.getfixturevalue to switch the route
    mid-test, after a baseline on the default route."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


@pytest.fixture
def ivf_route(broadcast_off, monkeypatch):
    """Send cand_vector down its IVF route and make that route exact:
    broadcast off and every cell probed. Yields the list each
    ann.ivf_topk call appends to. Request it with
    request.getfixturevalue to switch the route mid-test, after a
    broadcast baseline."""
    from ehdc_llpg_address_matching_spark.operators import ann
    from ehdc_llpg_address_matching_spark.operators import candidates as C
    calls, ivf_topk = [], ann.ivf_topk

    def counted(*a, **k):
        calls.append(1)
        return ivf_topk(*a, **k)

    monkeypatch.setattr(ann, "ivf_topk", counted)
    monkeypatch.setattr(C, "IVF_PROBE", C.IVF_CELLS)
    yield calls
