"""The tuned session's settings that the engine's cost depends on."""

from __future__ import annotations


def test_origin_capture_is_off_and_columns_build_in_few_round_trips(spark):
    """With PySpark's per-call origin capture on, building one small
    expression took 38 gateway round trips; with it off, 8."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    (F.col("a") + F.lit(1)).alias("b")  # first use resolves the JVM classes
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        (F.col("a") + F.lit(1)).alias("b")
    finally:
        ClientServerConnection.send_command = send
    assert calls[0] <= 12
