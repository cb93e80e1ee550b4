import contextlib
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from node_js_etl_processor_spark.session import get_spark

    spark = get_spark(app_name="tests", extra_conf={"spark.driver.memory": "4g"})
    yield spark


@pytest.fixture
def lazy_barriers(monkeypatch):
    """``with lazy_barriers("snm.global_rank", ...):`` builds plans with
    the named ``barrier.cut`` sites left uncut, so a plan-pin test sees
    the whole lazy plan instead of an RDD scan. Every named cut must be
    reached inside the block; other cuts run as usual."""
    from node_js_etl_processor_spark.functions import barrier

    @contextlib.contextmanager
    def lazy(*names):
        real = barrier.cut
        reached = set()

        def cut(df, name):
            if name in names:
                reached.add(name)
                return df
            return real(df, name)

        with monkeypatch.context() as m:
            m.setattr(barrier, "cut", cut)
            yield
        missing = set(names) - reached
        assert not missing, f"cuts never reached: {sorted(missing)}"

    return lazy


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
