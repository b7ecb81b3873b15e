from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "planaudit: live physical-plan invariant audits (pytest -m planaudit)",
    )


@pytest.fixture(scope="session")
def spark():
    from curatorhadoopinterface_spark.session import get_spark

    s = get_spark("tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


# texts shaped like the reference's samplejob fixtures (doc1-4.txt):
# multi-sentence English prose, entities from the gazetteer.
SAMPLE_TEXTS = [
    "The fast Spark job runs quickly. Hadoop customers merged data!",
    "A small hash join is running on the vector table.",
    "Lorem ipsum dolor sit amet. The customer said nothing?",
    "Numbers like 42 and 7 appeared. Spark and Hadoop clusters scaled.",
]


@pytest.fixture(scope="session")
def corpus(spark):
    from curatorhadoopinterface_spark.io import records_from_texts

    return records_from_texts(spark, SAMPLE_TEXTS)


@pytest.fixture(scope="session")
def assert_oracle(spark):
    """``assert_oracle(name, sf)``: declared dedup query ``name`` equals
    its DuckDB oracle over ``sf``'s documents, as a canonical multiset
    (verify_local.canon). Returns the Spark rows."""
    import duckdb

    from curatorhadoopinterface_spark.operators import ORACLE, QUERIES
    from curatorhadoopinterface_spark.operators import dedup  # noqa: F401  (registers)

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from verify_local import canon

    def check(name: str, sf: str):
        sdf = QUERIES[name](spark, sf)
        rows = sdf.collect()
        srows = [tuple(r) for r in rows]
        path = f"{sf}/documents.parquet"
        if os.path.isdir(path):  # a Spark-written fixture
            path += "/*.parquet"
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(ORACLE[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        assert sorted(sdf.columns) == sorted(dcols)
        assert srows and canon(srows, sdf.columns) == canon(drows, dcols)
        return rows

    return check
