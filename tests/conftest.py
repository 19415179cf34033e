import contextlib

import pytest


@pytest.fixture
def star_rounds(spark):
    """``with star_rounds(True):`` runs connected components on the
    large-star/small-star rounds. Every test graph fits the broadcast
    threshold, so by default the driver labels it in one pass; a
    threshold of -1 disables that path, as it disables broadcast. The
    setting is restored on exit. ``star_rounds(False)`` keeps the
    default, so a test can run both paths through one code path."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def forced(on: bool):
        old = spark.conf.get(key)
        if on:
            spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return forced
