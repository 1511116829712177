import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from toshi_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("toshi_spark_tests", cores=4, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s


@contextmanager
def _count_py4j_calls():
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command
    box = [0]

    def counting(self, *args, **kwargs):
        box[0] += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield box
    finally:
        GatewayClient.send_command = send


@pytest.fixture
def py4j_calls():
    """``with py4j_calls() as n:`` counts the driver's py4j round trips
    made inside the block into ``n[0]``."""
    return _count_py4j_calls
