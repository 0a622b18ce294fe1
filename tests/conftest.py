from __future__ import annotations

import pytest

from bigdatagenomic_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bdg-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def driver_budget(monkeypatch):
    """Set the driver row budget that every fits-on-the-driver plan
    choice reads (``sources.local.driver_walk_row_budget``, its one
    home): ``driver_budget(-1)`` sends every input, the empty one's 0
    rows included, down the distributed path; ``driver_budget(None)``
    restores the real budget."""
    from bigdatagenomic_spark.sources import local

    real = local.driver_walk_row_budget

    def set_budget(rows: int | None) -> None:
        budget = real if rows is None else (lambda spark: rows)
        monkeypatch.setattr(local, "driver_walk_row_budget", budget)

    return set_budget


@pytest.fixture
def shuffle_partitions(spark):
    """Set ``spark.sql.shuffle.partitions`` for one test (the two-phase
    helpers range-partition into that many slices); restored after."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, saved)
