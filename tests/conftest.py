from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from fuserank_spark.session import get_spark

    s = get_spark("fuserank-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        p = os.path.join(SF_SMOKE, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con


@pytest.fixture()
def jvm_calls():
    """``with jvm_calls() as calls: ...`` counts the Py4J commands the
    block sends to the JVM in ``calls.n``. Memory commands (the
    detaches py4j sends when a Python proxy of a JVM object is freed)
    are left out: they land wherever the garbage happens to go."""
    import contextlib
    import types

    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    @contextlib.contextmanager
    def count():
        calls = types.SimpleNamespace(n=0)
        saved = {cls: cls.send_command for cls in (ClientServerConnection, GatewayConnection)}

        def wrap(send):
            def send_command(self, command):
                if not command.startswith("m\n"):
                    calls.n += 1
                return send(self, command)

            return send_command

        for cls, send in saved.items():
            cls.send_command = wrap(send)
        try:
            yield calls
        finally:
            for cls, send in saved.items():
                cls.send_command = send

    return count
