from __future__ import annotations

import os

import pytest

# the session default driver heap (48g) lets the one shared test JVM grow
# past a 16 GB host's memory over the suite, and the kernel then kills it;
# 4g starves shuffled hash joins late in the suite (cached fixtures hold
# storage memory); 8g leaves both room
os.environ.setdefault("CODEGRAPH_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    from codegraph.session import get_spark

    s = get_spark(app_name="codegraph-tests", cores=4, shuffle_partitions=4,
                  # AQE off for TESTS only: its per-stage re-optimization
                  # adds ~10 s to every tiny-fixture pipeline run while
                  # contributing nothing at test scale (4 partitions, KB
                  # inputs). bench.py / production sessions keep it on —
                  # skew-join splitting matters there.
                  extra_conf={"spark.sql.adaptive.enabled": "false"})
    yield s


@pytest.fixture(scope="session")
def tiny_source(spark):
    from codegraph import gen

    return gen.source_table(spark, 2, 20).cache()


@pytest.fixture(scope="session")
def tiny_result(spark, tiny_source):
    from codegraph import gen, pipeline

    cl = gen.commit_log_table(spark, 2, 20)
    ar = spark.createDataFrame(gen.gen_assembly_refs_pdf(2))
    pm = spark.createDataFrame(gen.gen_pkg_metadata_pdf())
    res = pipeline.run_pipeline(spark, tiny_source, commit_log=cl,
                                assembly_refs=ar, pkg_metadata=pm)
    res["nodes"] = res["nodes"].cache()
    res["edges"] = res["edges"].cache()
    return res
