"""Spark-vs-DuckDB oracle parity inside pytest (the same comparison the
driver's correctness gate runs, at sf0.001 for speed)."""

import math
import os

import pytest

from clkhash_spark.sources.febrl import FEBRL_TESTDATA

pytestmark = pytest.mark.spark

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for table in TABLES:
        path = os.path.join(SF_DIR, f"{table}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{path}')"
            )
    yield con
    con.close()


def _oracle_names():
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry_mod

    if name == "clk_febrl_two_party" and not os.path.isdir(FEBRL_TESTDATA):
        pytest.skip("reference corpus not available")
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry_mod.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _normalize(srows, scols) == _normalize(orows, ocols)


def test_febrl_query_names_missing_corpus(monkeypatch):
    import clkhash_spark.sources.febrl as febrl
    from clkhash_spark.entry_queries import q_clk_febrl_two_party

    monkeypatch.setattr(febrl, "FEBRL_TESTDATA", "/nonexistent/febrl")
    with pytest.raises(FileNotFoundError, match="CLKHASH_SPARK_FEBRL_DIR"):
        q_clk_febrl_two_party(None, SF_DIR)


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == ["cluster_size", "n_clusters"]


def test_every_query_has_callable_and_stable_schema(spark):
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    assert len(queries) >= 15
    for name, fn in queries.items():
        assert callable(fn), name
