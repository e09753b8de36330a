import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dead_jvm_reason():
    """Why the session's driver JVM is gone, or None while it lives (or
    before any test has started one)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is None or gateway is None:
        return None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        rc = proc.poll()
        if rc is None:
            return None
        return f"the driver JVM process exited with code {rc}"
    from py4j.protocol import Py4JError
    try:                        # a gateway this process did not launch
        gateway.jvm.java.lang.System.currentTimeMillis()
    except (Py4JError, OSError) as e:
        return f"the driver JVM stopped answering ({type(e).__name__})"
    return None


@pytest.fixture(autouse=True)
def _fail_fast_on_dead_jvm():
    """Every test shares one session JVM: once it is gone every later test
    fails against the dead gateway, burying the cause. End the run at the
    first test that finds it dead, with one error naming the likely cause."""
    reason = _dead_jvm_reason()
    if reason is not None:
        pytest.exit(
            f"Spark session lost: {reason}. An exit by signal 9 (code -9) "
            "is most likely the kernel OOM killer ending the driver: check "
            "`dmesg` and lower SPARK_DRIVER_MEM or SPARK_GRAFT_CPUS.",
            returncode=3)
    yield


@pytest.fixture(scope="session")
def spark():
    from pysemanticcomplexity_spark.session import get_spark
    # master local[SPARK_GRAFT_CPUS] and the host-sized driver heap come
    # from get_spark's defaults
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    if _dead_jvm_reason() is None:     # a dead gateway cannot be stopped
        s.stop()


@pytest.fixture(scope="session")
def dims(spark):
    from pysemanticcomplexity_spark import fixtures
    return fixtures.spark_dims(spark)


@pytest.fixture(scope="session")
def pages60():
    from pysemanticcomplexity_spark import fixtures
    return fixtures.pages(60)


@pytest.fixture(scope="session")
def pages60_df(spark):
    from pysemanticcomplexity_spark import fixtures
    return fixtures.spark_pages(spark, 60)


@pytest.fixture(scope="session")
def oracle60(pages60):
    from pysemanticcomplexity_spark import fixtures, ref_semantics as R
    return R.run_reference_pipeline(
        pages60, fixtures.gazetteer(), fixtures.instance_types(),
        fixtures.kb_triples(), fixtures.ontology_edges())


@pytest.fixture(scope="session")
def pipeline_result(spark, dims, pages60_df):
    from pysemanticcomplexity_spark import fixtures
    from pysemanticcomplexity_spark.pipeline import KGPipeline
    pipe = KGPipeline(spark, fixtures.gazetteer(), fixtures.ontology_edges(),
                      dims["instance_types"], dims["kb_triples"])
    return pipe.run(pages60_df)
