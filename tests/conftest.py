import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light


@pytest.fixture(scope="session")
def spark():
    from femto_spark.session import get_spark

    s = get_spark("femto_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def index_signature(spark):
    """index_signature(out) → every row of `out`/index on every
    MERGED_SCHEMA column (blobs as md5), sorted — the byte-identity check
    between builds that must agree, skip metadata (block_*, cf, tf_off,
    dl_off) included."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from femto_spark.index.build import MERGED_SCHEMA

    cols = [
        F.md5(f.name).alias(f.name) if isinstance(f.dataType, BinaryType) else f.name
        for f in MERGED_SCHEMA
    ]

    def _sig(out):
        rows = spark.read.parquet(os.path.join(out, "index")).select(*cols).collect()
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows
        )

    return _sig


@pytest.fixture(scope="session")
def docs_sf001():
    """The driver-provided documents table at sf0.001 as {doc_id: text}."""
    import duckdb

    rows = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    return {int(d): t for d, t in rows}


@pytest.fixture(scope="session")
def index_dir(spark, tmp_path_factory):
    """Index built once over the sf0.001 documents table."""
    from femto_spark.index import build_index

    out = str(tmp_path_factory.mktemp("ix") / "sf0001")
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    build_index(spark, corpus, out, n_buckets=8)
    return out


@pytest.fixture(scope="session")
def oracle_sf001(docs_sf001):
    from femto_spark.oracle import OracleIndex

    return OracleIndex(docs_sf001)


@pytest.fixture(scope="session")
def engine(spark, index_dir):
    from femto_spark.query import SearchEngine

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return SearchEngine(spark, index_dir, corpus=corpus)
