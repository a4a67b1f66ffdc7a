"""The traced job count of a fixed small query repeats exactly."""

import os

import pytest

import run
from sparkstats import SparkStats


@pytest.fixture(scope="module")
def spark():
    from bigdatamlteamrepo_spark import get_spark

    s = get_spark(app_name="perfbench-tests", extra_conf={"spark.driver.memory": "2g"})
    yield s
    run.stop_spark(s)


def test_traced_job_count_repeats(spark):
    import __spark_entry__

    wl = run.Headliners(
        spark,
        {
            "queries": ["doc_keyword_label_counts"],
            "detailed_queries": ["doc_keyword_label_counts"],
            "input": {"tables": "sf0.001"},
        },
        os.path.dirname(__spark_entry__._SMOKE_SF_DIR),
    )
    stats = SparkStats(spark)
    run.run_iteration(wl, stats, False)  # warm-up
    layers = []
    for _ in range(2):
        _, digest, layer, tracer = run.run_iteration(wl, stats, True)
        assert not isinstance(digest["doc_keyword_label_counts"], Exception)
        assert tracer.named("queries.doc_keyword_label_counts.action")
        layers.append(layer)
    assert layers[0]["spark.jobs"] == layers[1]["spark.jobs"] > 0
    assert layers[0]["queries.doc_keyword_label_counts.jobs"] == layers[0]["spark.jobs"]
