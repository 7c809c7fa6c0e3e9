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
def tiny_file_source(spark, tiny_source, tmp_path_factory):
    """``tiny_source`` as a parquet copy: a sized input under the gate, so a
    run over it takes the broadcast dictionary joins (the in-memory frame
    cannot be sized and takes shuffle_hash)."""
    path = str(tmp_path_factory.mktemp("tiny_source") / "source.parquet")
    tiny_source.write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="session")
def tiny_aux(spark):
    """The commit log, assembly refs and package metadata of ``tiny_result``."""
    from codegraph import gen

    return {"commit_log": gen.commit_log_table(spark, 2, 20),
            "assembly_refs": spark.createDataFrame(gen.gen_assembly_refs_pdf(2)),
            "pkg_metadata": spark.createDataFrame(gen.gen_pkg_metadata_pdf())}


@pytest.fixture(scope="session")
def tiny_result(spark, tiny_source, tiny_aux):
    from codegraph import pipeline

    res = pipeline.run_pipeline(spark, tiny_source, **tiny_aux)
    res["nodes"] = res["nodes"].cache()
    res["edges"] = res["edges"].cache()
    return res
