from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from funcify_feature_eng_spark import get_spark  # noqa: E402
from funcify_feature_eng_spark.datagen import ensure_dataset  # noqa: E402

DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".data", "test")
TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def data_dir():
    return ensure_dataset(DATA_DIR, n_convs=500, seed=42, hot=2000)


@pytest.fixture(scope="session")
def transcripts(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "transcripts.parquet"))


@pytest.fixture(scope="session")
def feature_store(spark, data_dir):
    return spark.read.parquet(os.path.join(data_dir, "feature_store.parquet"))


@pytest.fixture(scope="session")
def transcripts_pd(data_dir):
    import pandas as pd

    return pd.read_parquet(os.path.join(data_dir, "transcripts.parquet"))


@pytest.fixture(scope="session")
def feature_store_pd(data_dir):
    import pandas as pd

    return pd.read_parquet(os.path.join(data_dir, "feature_store.parquet"))


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA_SF


@pytest.fixture()
def compile_calls(monkeypatch):
    """A list that grows by one per ``plans.document.compile_document`` call
    (both request front doors compile through it)."""
    from funcify_feature_eng_spark.plans import document

    calls: list = []
    real = document.compile_document

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(document, "compile_document", counted)
    return calls


@pytest.fixture()
def round_trips():
    """``round_trips(fn)``: the Python→JVM round trips ``fn`` makes, not
    counting py4j's own object-release messages (sent whenever Python
    happens to collect)."""
    from py4j.clientserver import ClientServerConnection

    def count(fn) -> int:
        sent = []
        real = ClientServerConnection.send_command

        def counted(self, command, *a, **kw):
            if not command.startswith("m\nd\n"):
                sent.append(1)
            return real(self, command, *a, **kw)

        ClientServerConnection.send_command = counted
        try:
            fn()
        finally:
            ClientServerConnection.send_command = real
        return len(sent)

    return count
