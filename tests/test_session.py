"""The session factory: host-derived defaults and the confs it sets."""

from __future__ import annotations

import pytest

from bigdatagenomic_spark.session import default_driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "phys, heap",
    [
        (16 * GIB, "8g"),
        (int(15.5 * GIB), "7g"),  # half is 7.75 GiB: whole GiB, rounded down
        (GIB, "1g"),  # half a GiB would round to 0
        (512 * 2**20, "1g"),
        (96 * GIB, "48g"),
        (512 * GIB, "48g"),  # capped at the former fixed default
    ],
)
def test_driver_memory_is_half_the_host(phys, heap):
    assert default_driver_memory(phys) == heap


def test_driver_memory_reads_this_host():
    heap = default_driver_memory()
    assert heap.endswith("g") and 1 <= int(heap[:-1]) <= 48


def test_dataframe_debugging_is_off(spark):
    """The engine session does not capture a Python call site per Column
    call (the ``spark`` fixture is built by ``get_spark``)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
