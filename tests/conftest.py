import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from henbun_spark import sources

    spark = sources.get_spark(
        "henbun_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.sql.warehouse.dir": "/tmp/henbun_test_warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _release_scaffold_caches():
    """Drop anything registered in the scaffold-cache registry after
    each test — usually a no-op (the prefix/rank primitives are
    in-plan; since r9 `text.shingle_tfidf_cosine_topk` registers its
    postings persist), and it keeps hand-registered test
    caches and any future pinned cache from leaking across the
    session-scoped JVM."""
    yield
    from henbun_spark.operators import relational

    relational.release_scaffold_caches()
