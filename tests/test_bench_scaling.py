"""The scaling harness's job registry, run in-process on tiny input.

The N-vs-4N protocol itself (one child JVM per level) is not started here:
Tier-1 shares one session JVM. What is checked is that every registered
job runs on its replication shape, that replication multiplies the rows
without repeating a row key, and the efficiency arithmetic.
"""
import pytest

import bench_scaling as B

SF = "/root/testdata/sf0.001"
REPLICAS = 2


@pytest.mark.parametrize("name", list(B.JOBS))
def test_job_runs_on_replicated_input(spark, name):
    job = B.JOBS[name]
    d = job.shape(spark, SF, REPLICAS)
    key = d.columns[0]
    rows = d.count()
    assert rows == REPLICAS * job.shape(spark, SF, 1).count()
    assert d.select(key).distinct().count() == rows
    count = job.bind(spark)(d)()
    spark.catalog.clearCache()
    assert (rows if count is None else count) > 0


def test_efficiency_and_normalization_from_result_lines():
    lo = B.grab('noise\nRESULT {"cpus": 1, "inputs": 1000, "count": 7, '
                '"counts": "pairs", "wall_s": 10.0, "inputs_per_s": 100.0}',
                "RESULT")
    hi = B.grab('RESULT {"cpus": 4, "inputs": 1000, "count": 7, '
                '"counts": "pairs", "wall_s": 3.125, "inputs_per_s": 320.0}',
                "RESULT")
    control = {int(k): v for k, v in
               B.grab('CONTROL {"1": 50.0, "4": 180.0}', "CONTROL").items()}
    report = B.summarize("dedup_minhash_lsh", {1: lo, 4: hi}, control)
    assert report["efficiency"] == 0.8                 # 320 / (4 * 100)
    assert report["control_efficiency"] == 0.9         # 180 / (4 * 50)
    assert report["efficiency_normalized"] == 0.889    # 0.8 / 0.9
    assert report["levels"][4]["count"] == 7
    with pytest.raises(RuntimeError, match="no RESULT line"):
        B.grab("PREP []", "RESULT")
